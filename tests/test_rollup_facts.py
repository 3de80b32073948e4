"""run_pipeline's rollup columns (involved_genes, involved_other, species,
computed from the compiler's per-term facts by graph.rollup_facts) must
equal the closure-based reference: descendant_closure, then
involved_rollup, then species_tagging, over the same run's pre-rollup
nodes (with protein->gene counterparts), structural edges and
bel_relation edges."""

import os

import pytest
from pyspark.sql import functions as F

from ebel_spark import graph as G
from ebel_spark.corpus import CorpusProfile, corpus_pandas
from ebel_spark.namespaces import build_dimensions
from ebel_spark.pipeline import run_pipeline
from ebel_spark.schemas import SOURCE_SCHEMA

_HEAD = (
    'SET DOCUMENT Name = "t{i}"\n'
    'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
    'DEFINE NAMESPACE MGI AS URL "http://x/m.belns"\n'
    'DEFINE NAMESPACE RGD AS URL "http://x/r.belns"\n'
    'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
    'DEFINE NAMESPACE GOBP AS URL "http://x/g.belns"\n'
    'SET Citation = {{"PubMed", "T", "{i}"}}\n'
    'SET Evidence = "e"\n'
)

# complex, composite, reactants/products, nested terms and statements,
# HGNC / MGI / mixed species, a subterm that is never a statement
# endpoint (no inferred species), a pmod term, and a syntax error
FIXTURES = [
    'complex(p(HGNC:F1), p(HGNC:F2), a(CHEBI:atp)) increases '
    'p(HGNC:T9, pmod(Ph))\n'
    'g(HGNC:AKT1) orthologous g(MGI:Akt1)\n'
    'complex(p(MGI:Akt1), p(MGI:Trp53)) decreases p(MGI:Mapt)\n',

    'composite(p(HGNC:IL6), complex(p(MGI:Il6r), g(MGI:Gp130))) '
    'increases bp(GOBP:"cell death")\n'
    'rxn(reactants(a(CHEBI:glc), p(RGD:Hk1)), products(a(CHEBI:pyr))) '
    'decreases act(p(HGNC:AKT1, pmod(Ph)), ma(kin))\n'
    'p(HGNC:TNF) increases (p(HGNC:IL6) increases '
    'complex(p(HGNC:IL6), p(HGNC:IL6R)))\n'
    'composite(complex(p(RGD:Hk1), p(RGD:Hk2)), a(CHEBI:atp)) '
    'association complex(p(HGNC:F1), p(MGI:Trp53))\n'
    'r(HGNC:CD33) translatedTo p(HGNC:CD33)\n'
    'p(HGNC:CD34) increases r(HGNC:CD34)\n',

    'p(HGNC:broken increases\n',
]


def _fixture_rows():
    return [("repo0", f"docs/f{i}.bel", "c" * 40, "bel",
             _HEAD.format(i=i + 1) + body)
            for i, body in enumerate(FIXTURES)]


def _corpus_rows(seed: int):
    pdf = corpus_pandas(
        CorpusProfile(n_files=24, statements_per_file=30, seed=seed),
        build_dimensions())
    return [tuple(r) for r in
            pdf[["repo", "path", "commit", "lang", "content"]]
            .itertuples(index=False)]


def _reference(spark, out: str) -> dict:
    """node_id -> (involved_genes, involved_other, species) from the
    closure-based rollup over the run's own stage outputs."""
    nodes = spark.read.parquet(os.path.join(out, "_stage", "nodes1"))
    struct = spark.read.parquet(os.path.join(out, "_stage", "struct_edges"))
    bel_edges = spark.read.parquet(os.path.join(out, "edges")) \
        .filter(F.col("relation_category") != "ebel")
    closure = G.descendant_closure(struct, G.INVOLVED_GENES_EDGES)
    inv = G.involved_rollup(nodes, struct, genes_closure=closure)
    sp = G.species_tagging(nodes, struct, bel_edges, genes_closure=closure)
    ref = nodes.join(inv, "node_id", "left").join(sp, "node_id", "left")
    return {r.node_id: (r.involved_genes, r.involved_other, r.species)
            for r in ref.select("node_id", "involved_genes",
                                "involved_other", "species").collect()}


CASES = {
    "fixtures": (_fixture_rows, {}),
    "seed11": (lambda: _corpus_rows(11), {}),
    "seed12": (lambda: _corpus_rows(12), {}),
    "strict_seed13": (lambda: _corpus_rows(13), {"mode": "strict"}),
    "modifiers_fixtures_seed14": (
        lambda: _fixture_rows() + _corpus_rows(14),
        {"materialize_modifiers": True}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_rollup_equals_closure_reference(spark, tmp_path, case):
    rows, kw = CASES[case]
    src = spark.createDataFrame(rows(), SOURCE_SCHEMA)
    out = str(tmp_path / "out")
    m = run_pipeline(spark, src, out, enrich=False, **kw)
    if kw.get("mode") == "strict":
        # strict drops the files with semantic errors
        assert 0 < m["n_valid_files"] < m["n_files"]

    nodes = spark.read.parquet(os.path.join(out, "nodes"))
    assert "gene_namespaces" not in nodes.columns
    got = {r.node_id: (r.involved_genes, r.involved_other, r.species)
           for r in nodes.select("node_id", "involved_genes",
                                 "involved_other", "species").collect()}
    ref = _reference(spark, out)
    assert got.keys() == ref.keys()
    diff = {k: (got[k], ref[k]) for k in got if got[k] != ref[k]}
    assert not diff, list(diff.items())[:5]

    # the cases exercise every branch: subterm rollups, both species
    # rules, and p2g counterparts (pure nodes no file mentions)
    vals = list(got.values())
    assert any(len(g) > 1 for g, _, _ in vals)
    assert any(o for _, o, _ in vals)
    assert {s for _, _, s in vals} >= {9606, None}
    assert nodes.filter("n_occurrences = 0").count() > 0
    if case.startswith("modifiers"):
        assert nodes.filter("node_class = 'pmod'").count() > 0
    if case == "fixtures":
        _check_fixture_species({r.bel: r.species for r in
                                nodes.select("bel", "species").collect()})


def _check_fixture_species(sp: dict) -> None:
    assert sp['complex(p(MGI:"Akt1"),p(MGI:"Trp53"))'] == 10090
    assert sp['complex(p(HGNC:"F1"),p(MGI:"Trp53"))'] is None  # mixed
    # a subterm that is no statement endpoint gets no inferred species
    assert sp['complex(g(MGI:"Gp130"),p(MGI:"Il6r"))'] is None
    assert sp['complex(p(RGD:"Hk1"),p(RGD:"Hk2"))'] is None
    assert sp['composite(a(CHEBI:"atp"),complex(p(RGD:"Hk1"),'
              'p(RGD:"Hk2")))'] == 10116
    assert sp['g(HGNC:"CD33")'] == 9606  # p2g counterparts, direct rule
    assert sp['g(HGNC:"CD34")'] == 9606
