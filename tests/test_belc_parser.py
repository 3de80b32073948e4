"""Differential tests of the clean-room BEL compiler against the reference
e-bel/ebel test oracles (no Spark needed).

Oracles:
- golden JSON IR: /root/reference/tests/data/import_tests/basic_import_test.bel.json
- '# Return False' line-number convention:
  /root/reference/tests/test_grammar/test_validate.py:30-44
"""

import json
import os

import pytest

from ebel_spark.belc import ir_tree, parse_script
from ebel_spark.belc.canon import bel_string
from ebel_spark.belc.scriptproc import process_file

REF_DATA = "/root/reference/tests/data"


def _read(name: str) -> str:
    with open(os.path.join(REF_DATA, name), encoding="utf-8") as fd:
        return fd.read()


def _false_lines(content: str) -> set:
    lines = content.splitlines(keepends=True)
    return {i + 2 for i, line in enumerate(lines) if line == "# Return False\n"}


@pytest.mark.skipif(not os.path.isdir(REF_DATA), reason="reference fixtures absent")
class TestReferenceOracles:
    def test_golden_ir_exact_match(self):
        mine = ir_tree(_read("import_tests/basic_import_test.bel"))
        with open(os.path.join(REF_DATA, "import_tests/basic_import_test.bel.json")) as fd:
            golden = json.load(fd)
        assert mine == golden

    @pytest.mark.parametrize("fixture", [
        "function_relation_bel_tests.bel",
        "bel_2_1_test_statements.bel",
        "correct_statements.bel",
    ])
    def test_return_false_line_numbers(self, fixture):
        content = _read(fixture)
        res = parse_script(content)
        got = {e["line"] for e in res.syntax_errors}
        assert got == _false_lines(content)
        assert len(res.syntax_errors) == len(_false_lines(content))

    def test_terminology_undefined_namespace_positions(self):
        # terminology_bel_tests.bel line 44 uses undefined namespace HGNC_;
        # line 49 sets TimePoint to a value outside its LIST definition.
        content = _read("terminology_bel_tests.bel")
        res = parse_script(content)
        assert res.ok  # semantic errors, not syntax errors
        undefined = {(k, e, ln) for k, e, ln, _ in res.ns_entries if k == "HGNC_"}
        assert undefined == {("HGNC_", "TREM2", 44)}
        anno = {(k, v, ln) for k, v, ln, _ in res.anno_entries}
        assert ("TimePoint", "3 days dpi", 49) in anno
        defs = {(kw, dt) for _, kw, dt, _, _, _ in res.defs}
        assert ("dbSNP", "PATTERN") in defs
        assert ("FIXME", "LIST") in defs


class TestLineContinuations:
    """Backslash continuations under all three newline conventions
    (reference parser.py:251 accepts \\n, \\r\\n and lone \\r)."""

    BODY = ('SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n')

    @pytest.mark.parametrize("nl", ["\n", "\r\n", "\r"])
    def test_continuation_newline_styles(self, nl):
        stmt = f'p(HGNC:A) \\{nl}  increases p(HGNC:B)\n'
        r = process_file(self.BODY + stmt)
        assert r["ok"], r["syntax_errors"]
        assert len(r["statements"]) == 1
        assert r["statements"][0]["relation"] == "increases"


class TestCanonicalBel:
    """Canonical strings per importer.py:433-490 semantics."""

    CASES = [
        ('p(HGNC:CD33)', 'p(HGNC:"CD33")'),
        ('p(HGNC:IL2, pmod(Ph))', 'p(HGNC:"IL2",pmod(Ph))'),
        ('p(HGNC:IL2, pmod(Ph, Ser, 131))', 'p(HGNC:"IL2",pmod(Ph,S,131))'),
        ('p(HGNC:MAPK1, pmod(Ph, Tyr, 187), pmod(Ph, T, 185))',
         'p(HGNC:"MAPK1",pmod(Ph,T,185),pmod(Ph,Y,187))'),
        ('act(p(HGNC:AKT1), ma(kin))', 'act(p(HGNC:"AKT1"),ma(kin))'),
        ('act(p(HGNC:FOXP3), ma(GOBP:"x y"))', 'act(p(HGNC:"FOXP3"),ma(GOBP:"x y"))'),
        ('complex(p(HGNC:JUN), p(HGNC:FOS))', 'complex(p(HGNC:"FOS"),p(HGNC:"JUN"))'),
        ('complex(p(HGNC:TNF), pop(MESHA:Adipocytes))',
         'complex(pop(MESHA:"Adipocytes"),p(HGNC:"TNF"))'),
        ('complex(SCOMP:"AP-1 Complex")', 'complex(SCOMP:"AP-1 Complex")'),
        ('composite(p(HGNC:IL6), a(CHEBI:x))', 'composite(a(CHEBI:"x"),p(HGNC:"IL6"))'),
        ('tloc(p(HGNC:EGFR), fromLoc(GOCC:"cell surface"), toLoc(GOCC:endosome))',
         'tloc(p(HGNC:"EGFR"),fromLoc(GOCC:"cell surface"),toLoc(GOCC:"endosome"))'),
        ('deg(p(HGNC:IFNG))', 'deg(p(HGNC:"IFNG"))'),
        ('sec(p(HGNC:IL6))', 'sec(p(HGNC:"IL6"))'),
        ('surf(p(HGNC:CCL5))', 'surf(p(HGNC:"CCL5"))'),
        ('rxn(reactants(a(CHEBI:superoxide)),products(a(CHEBI:"hydrogen peroxide"), a(CHEBI:"oxygen")))',
         'rxn(reactants(a(CHEBI:"superoxide")),products(a(CHEBI:"hydrogen peroxide"),a(CHEBI:"oxygen")))'),
        ('p(HGNC:YFG, frag("5_20", "55kD"))', 'p(HGNC:"YFG",frag("5_20","55kD"))'),
        ('p(HGNC:CFTR, var("p.Gly576Ala"))', 'p(HGNC:"CFTR",var("p.Gly576Ala"))'),
        ('p(HGNC:IL2, loc(MESHA:Brain))', 'p(HGNC:"IL2",loc(MESHA:"Brain"))'),
        ('bp(GOBP:"cell cycle arrest")', 'bp(GOBP:"cell cycle arrest")'),
        ('path(MESHD:adenocarcinoma)', 'path(MESHD:"adenocarcinoma")'),
        ('r(fus(HGNC:TMPRSS2, "r.1_79", HGNC:ERG, "r.312_5034"))',
         'fus(HGNC:"TMPRSS2","r.1_79",HGNC:"ERG","r.312_5034")'),
        ('p(HGNC:IL2, pmod("Lysine 48-linked polyubiquitination"))',
         'p(HGNC:"IL2",pmod(UbK48))'),
        ('pop(MESHA:Adipocytes)', 'pop(MESHA:"Adipocytes")'),
        ('m(HGNC:MIR21)', 'm(HGNC:"MIR21")'),
        ('g(dbSNP:rs72824905, var("delCTT"))', 'g(dbSNP:"rs72824905",var("delCTT"))'),
    ]

    HEADER = (
        'SET DOCUMENT Name = "t"\n'
        'DEFINE NAMESPACE HGNC AS URL "http://x/hgnc.belns"\n'
    )

    @pytest.mark.parametrize("stmt,expected", CASES)
    def test_canonical_string(self, stmt, expected):
        res = parse_script(self.HEADER + stmt + "\n")
        assert res.ok, res.syntax_errors
        stmts = [s for s in res.statements_and_sets if "statement" in s]
        subj = stmts[0]["statement"][0]["subject"]
        assert bel_string(subj) == expected


class TestProcessFile:
    BEL = (
        'SET DOCUMENT Name = "t"\n'
        'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
        'SET Citation = {"PubMed", "Some title", "12345"}\n'
        'SET Evidence = "ev text"\n'
        'SET Cells = "astrocyte"\n'
        'p(HGNC:A) increases p(HGNC:B, pmod(Ph))\n'
        'UNSET Cells\n'
        'p(HGNC:A) -> p(HGNC:B, pmod(Ph))\n'
    )

    def test_statement_fold_and_dedup_key(self):
        out = process_file(self.BEL)
        assert out["ok"]
        sts = out["statements"]
        assert len(sts) == 2
        assert sts[0]["relation"] == "increases"
        assert sts[0]["pmid"] == 12345
        assert sts[0]["citation_ref"] == "12345"
        assert sts[0]["annotation"] == {"Cells": ["astrocyte"]}
        assert sts[1]["annotation"] == {}
        # same 7-tuple except annotations -> different edge keys
        assert sts[0]["edge_key"] != sts[1]["edge_key"]
        assert sts[0]["subject_id"] == sts[1]["subject_id"]

    def test_nodes_dedup_and_pure_flag(self):
        out = process_file(self.BEL)
        nodes = {(n["node_class"], n["bel"]): n for n in out["nodes"]}
        assert len(nodes) == 2  # p(A), p(B,pmod) — modifiers not materialized
        assert nodes[("protein", 'p(HGNC:"A")')]["has_modifiers"] is False
        assert nodes[("protein", 'p(HGNC:"B",pmod(Ph))')]["has_modifiers"] is True
        assert out["child_edges"] == []

    def test_modifier_materialization_flag(self):
        out = process_file(self.BEL, materialize_modifiers=True)
        classes = sorted(n["node_class"] for n in out["nodes"])
        assert classes == ["pmod", "protein", "protein"]
        assert [e["relation"] for e in out["child_edges"]] == ["has__pmod"]

    def test_rollup_facts_on_nested_terms(self):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'SET Evidence = "e"\n'
            'composite(p(HGNC:IL6), complex(p(HGNC:A), g(MGI:B), '
            'a(CHEBI:atp))) increases '
            'rxn(reactants(a(CHEBI:glc), p(RGD:R1)), products(a(CHEBI:pyr)))\n'
            'act(p(HGNC:AKT1, pmod(Ph)), ma(kin)) decreases '
            'bp(GOBP:"cell death")\n'
        )
        out = process_file(bel)
        assert out["ok"], out["syntax_errors"]
        facts = {n["bel"]: (n["involved_genes"], n["involved_other"],
                            n["gene_namespaces"]) for n in out["nodes"]}
        cplx = 'complex(a(CHEBI:"atp"),g(MGI:"B"),p(HGNC:"A"))'
        assert facts[cplx] == (["A", "B"], ["atp"], ["HGNC", "MGI"])
        # the complex's names roll up through has__complex; IL6 through
        # has__protein, which the involved_other walk does not follow
        assert facts[f'composite(p(HGNC:"IL6"),{cplx})'] == (
            ["A", "B", "IL6"], ["atp"], ["HGNC", "MGI"])
        assert facts['reactants(a(CHEBI:"glc"),p(RGD:"R1"))'] == (
            ["R1"], ["glc"], ["RGD"])
        assert facts['products(a(CHEBI:"pyr"))'] == ([], ["pyr"], [])
        assert facts['rxn(reactants(a(CHEBI:"glc"),p(RGD:"R1")),'
                     'products(a(CHEBI:"pyr")))'] == (
            ["R1"], ["glc", "pyr"], ["RGD"])
        # act's subterm edge is has__protein: genes only
        assert facts['act(p(HGNC:"AKT1",pmod(Ph)),ma(kin))'] == (
            ["AKT1"], [], ["HGNC"])
        # leaves (modifiers are not subterms unless materialized) carry
        # null facts
        for leaf in ('p(HGNC:"IL6")', 'g(MGI:"B")', 'a(CHEBI:"atp")',
                     'p(HGNC:"AKT1",pmod(Ph))', 'bp(GOBP:"cell death")'):
            assert facts[leaf] == (None, None, None), leaf
        mods = process_file(bel, materialize_modifiers=True)
        mfacts = {n["bel"]: n["involved_genes"] for n in mods["nodes"]}
        assert mfacts['p(HGNC:"AKT1",pmod(Ph))'] == ["AKT1"]
        assert mfacts['pmod(Ph)'] is None
