"""Deterministic synthetic namespace dictionaries & linking dimensions.

Offline stand-ins for the reference's .belns/.belanno downloads
(/root/reference/ebel/manager/models.py:240-411) and biodb loads (HGNC /
UniProt / ChEBI).  Everything is seeded (seed 42) and includes the
vocabulary used by the reference test fixtures, so validation outcomes are
reproducible; a reserved MISSING set is deliberately excluded from the
dictionaries to generate NotInNamespaceUrl errors on demand.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

SEED = 42

# vocabulary drawn from the reference fixtures (tests/data/*.bel)
FIXTURE_HGNC = [
    "CD33", "IL2", "TNF", "UCP1", "AKT1", "TREM2", "APP", "FOXP3", "IFNG",
    "MAPK1", "CFTR", "YFG", "IL6", "IL4", "FOS", "JUN", "CCND1", "CDK4",
    "MIR21", "MIR34A", "EGFR", "CCL5", "CCL3", "HMGCR", "GAPDH", "CLSPN",
    "ATR", "CHEK1", "GSK3B", "PPP3R1", "PPP3CB", "PSEN1", "PSENEN",
    "CHI3L1", "TMPRSS2", "ERG", "MDM2", "PAWR", "CREBBP", "SKP2", "CDKN1A",
    "CDKN1B", "CTNNB1", "LEF1", "HMGA1", "INSR", "HRAS", "CDH5", "MAP2K1",
    "ITGB3", "NAA10", "HIF1A", "PIM1", "KDR", "PTEN", "PTPRJ", "SGK1",
    "RAF1", "SOD2", "SRC", "SRF", "MIR143", "TIMP2", "MMP9", "TNFRSF1A",
    "USF1", "IGF2R", "VHL", "PRKCI", "RAP1A", "ITGAV", "ITGB5", "MPO",
    "MMP2", "MMP14", "NOS3", "IRS1", "PRKCD", "BCR", "ABL1", "EWSR1",
    "FLI1", "PAX3", "FOXO1", "NKX2-5", "FOXO3", "IGFBP5", "RB1", "NFKBIA",
    "ATP1A2", "RPS6KB1", "EIF4EBP1", "IKBKB", "NFKB1", "PSMB5",
]
FIXTURE_CHEBI = [
    "ATP", "metformin", "oxygen atom", "thapsigargin", "lipopolysaccharide",
    "polysaccharide", "monosaccharide", "glucose", "superoxide",
    "hydrogen peroxide", "oxygen", "amyloid-beta polypeptide 40",
    "(S)-3-hydroxy-3-methylglutaryl-CoA", "NADPH", "hydron", "mevalonate",
    "CoA-SH", "NADP(+)", "3',5'-cyclic AMP", "3',5'-cyclic GMP",
    "arachidonic acid", "fatty acid", "nitric oxide", "okadaic acid",
    "oxidised LDL", "prostaglandin E2", "acetylcholine",
]
FIXTURE_GOBP = [
    "cell cycle arrest", "angiogenesis", "inflammatory response",
    "T-helper 17 cell differentiation", "cholesterol biosynthetic process",
    "response to glucose", "signaling",
    "nucleic acid binding transcription factor activity",
]
FIXTURE_GOCC = [
    "cell surface", "endosome", "intracellular", "extracellular space",
    "interleukin-23 complex", "calcineurin complex", "Cell Nucleus",
    "Cytoplasm",
]
FIXTURE_MESHA = [
    "Adipocytes", "Microglia", "Brain", "Cerebrospinal Fluid",
]
FIXTURE_MESHD = [
    "Pulmonary Disease, Chronic Obstructive", "adenocarcinoma", "Psoriasis",
    "Skin Diseases", "Alzheimer Disease",
]
FIXTURE_SCOMP = [
    "AP-1 Complex", "gamma Secretase Complex", "IkappaB Kinase Complex",
    "Nfkb Complex", "p85/p110 PI3Kinase Complex", "TORC1 Complex",
    "TORC2 Complex",
]
FIXTURE_SFAM = ["AKT Family", "FOXO Family"]
FIXTURE_MGI = ["Akt1", "Mpo", "Rps6kb1", "Eif4ebp1", "Foxo3", "Tsc2", "Cdkn1b"]
FIXTURE_RGD = ["Akt1", "Tnf"]


@dataclass
class Dimensions:
    """All synthetic dimension tables as pandas DataFrames."""

    namespace_entries: pd.DataFrame  # keyword, name, encoding
    annotation_entries: pd.DataFrame  # keyword, name, identifier
    hgnc: pd.DataFrame               # symbol, label, location, prev_symbols,
                                     # entrez_id, uniprot_ids
    uniprot: pd.DataFrame            # accession, recommended_name, taxid,
                                     # gene_symbol
    chebi: pd.DataFrame              # chebi_id, name
    missing: dict = field(default_factory=dict)  # keyword -> reserved names


def build_dimensions(
    n_hgnc: int = 5000, n_chebi: int = 2000, n_go: int = 1000,
    n_missing: int = 200, n_gocc: int = 200, seed: int = SEED,
) -> Dimensions:
    rng = random.Random(seed)

    hgnc_symbols = list(FIXTURE_HGNC)
    hgnc_symbols += [f"GENE{i:05d}" for i in range(n_hgnc - len(hgnc_symbols))]
    chebi_names = list(FIXTURE_CHEBI)
    chebi_names += [f"chem-{i:05d}" for i in range(n_chebi - len(chebi_names))]
    gobp_names = list(FIXTURE_GOBP)
    gobp_names += [f"go process {i:04d}" for i in range(n_go - len(gobp_names))]
    gocc_names = list(FIXTURE_GOCC)
    gocc_names += [f"go component {i:04d}" for i in range(n_gocc)]

    # reserved names that are NEVER in the dictionaries (-> URL errors)
    missing = {
        "HGNC": [f"BADGENE{i:04d}" for i in range(n_missing)],
        "CHEBI": [f"bad-chem-{i:04d}" for i in range(n_missing)],
        "GOBP": [f"bad go process {i:04d}" for i in range(n_missing)],
    }

    ns_rows = []
    encodings = ["GRP", "P", "G", "R", "A", "B", "O", "C"]
    for kw, names in (
        ("HGNC", hgnc_symbols), ("CHEBI", chebi_names), ("GOBP", gobp_names),
        ("GOCC", gocc_names), ("MESHA", FIXTURE_MESHA),
        ("MESHD", FIXTURE_MESHD), ("MESHCS", ["Cell Nucleus", "Cytoplasm"]),
        ("SCOMP", FIXTURE_SCOMP), ("SFAM", FIXTURE_SFAM),
        ("MGI", FIXTURE_MGI), ("RGD", FIXTURE_RGD),
        ("HP", ["Dementia"]), ("DO", ["Alzheimer's disease"]),
        ("EGID", ["207", "3558", "7124"]),
        ("MESHC", ["Oxygen"]), ("MESHPP", ["Inflammation"]),
        ("MESHE", ["Microscopy"]), ("ADO", ["amyloid plaque"]),
        ("BRCO", ["hippocampus"]), ("NIFT", ["MRI"]),
    ):
        for n in names:
            ns_rows.append((kw, n, rng.choice(encodings)))
    namespace_entries = pd.DataFrame(
        ns_rows, columns=["keyword", "name", "encoding"])

    anno_rows = []
    for kw, names in (
        ("Cells", ["astrocyte", "microglia", "neuron", "oligodendrocyte"]),
        ("Tissue", ["brain", "liver", "blood", "lung"]),
        ("Species", ["9606", "10090", "10116"]),
        ("Disease", ["Alzheimer Disease", "Parkinson Disease"]),
        ("TimePoint", ["4 days dpi"]),
    ):
        for i, n in enumerate(names):
            anno_rows.append((kw, n, f"{kw[:2].upper()}:{i:04d}"))
    annotation_entries = pd.DataFrame(
        anno_rows, columns=["keyword", "name", "identifier"])

    # hgnc linking dim: ~10% of symbols get a previous symbol OLD<sym>
    hgnc_rows = []
    for i, sym in enumerate(hgnc_symbols):
        prev = [f"OLD{sym}"] if rng.random() < 0.10 else []
        hgnc_rows.append((
            sym, f"{sym} protein", f"{rng.randint(1, 22)}q{rng.randint(10, 40)}",
            prev, 1000 + i, [f"P{10000 + i}"],
        ))
    hgnc = pd.DataFrame(hgnc_rows, columns=[
        "symbol", "label", "location", "prev_symbols", "entrez_id",
        "uniprot_ids"])

    up_rows = []
    for i, sym in enumerate(hgnc_symbols):
        up_rows.append((f"P{10000 + i}", f"{sym} protein (human)", 9606, sym))
    for i, sym in enumerate(FIXTURE_MGI):
        up_rows.append((f"Q{20000 + i}", f"{sym} protein (mouse)", 10090, sym))
    for i, sym in enumerate(FIXTURE_RGD):
        up_rows.append((f"Q{30000 + i}", f"{sym} protein (rat)", 10116, sym))
    uniprot = pd.DataFrame(up_rows, columns=[
        "accession", "recommended_name", "taxid", "gene_symbol"])

    chebi = pd.DataFrame(
        [(100000 + i, n) for i, n in enumerate(chebi_names)],
        columns=["chebi_id", "name"])

    return Dimensions(namespace_entries, annotation_entries, hgnc, uniprot,
                      chebi, missing)


#: synthetic Reactome shape: pathway count and per-accession membership
#: fanout (1..3) — seedless arithmetic so the dim is identical however
#: it is rebuilt (driver-side pandas for the oracle, Spark for the query)
REACTOME_PATHWAYS = 120

_TAXID_ORGANISM = {9606: "Homo sapiens", 10090: "Mus musculus",
                   10116: "Rattus norvegicus"}


def build_reactome(uniprot: "pd.DataFrame",
                   n_pathways: int = REACTOME_PATHWAYS) -> "pd.DataFrame":
    """Synthetic Reactome pathway-membership dim, the offline stand-in for
    the reference's UniProt2Reactome TSV (biodbs/reactome.py:49-74:
    columns uniprot_accession / identifier / name / evidence_type /
    organism).  Accession i belongs to 1 + (i % 3) pathways at indices
    (i*7 + j*j*13) % n_pathways — deterministic, overlapping, and skewed
    enough that popular pathways exist (the groupBy skew the enrichment
    join must survive).  Evidence alternates TAS/IEA like the real file."""
    rows = []
    for i, rec in enumerate(uniprot.itertuples(index=False)):
        seen = set()
        for j in range(1 + i % 3):
            k = (i * 7 + j * j * 13) % n_pathways
            if k in seen:
                continue
            seen.add(k)
            rows.append({
                "uniprot_accession": rec.accession,
                "identifier": f"R-HSA-{100000 + k}",
                "name": f"pathway {k:04d}",
                "evidence_type": "TAS" if (i + k) % 2 == 0 else "IEA",
                "organism": _TAXID_ORGANISM.get(int(rec.taxid), "other"),
            })
    return pd.DataFrame(rows, columns=[
        "uniprot_accession", "identifier", "name", "evidence_type",
        "organism"])


#: synthetic IntAct shape: each accession interacts with 2 deterministic
#: partners; miscore in [0, 0.99] from seedless arithmetic
INTACT_PARTNERS = ((13, 5), (29, 11))


def build_intact(uniprot: "pd.DataFrame") -> "pd.DataFrame":
    """Synthetic IntAct interaction table, the offline stand-in for the
    reference's intact-micluster TSV (biodbs/intact.py:49-94: columns
    int_a/int_b uniprot ids, interaction id/type, detection method,
    intact-miscore confidence, pmid).  Accession i pairs with accessions
    (i*m + c) % N for (m, c) in INTACT_PARTNERS (self-pairs skipped) —
    deterministic and rebuildable identically on either engine side."""
    accs = list(uniprot["accession"])
    n = len(accs)
    rows = []
    for i, a in enumerate(accs):
        for m, c in INTACT_PARTNERS:
            j = (i * m + c) % n
            if j == i:
                continue
            rows.append({
                "int_a_uniprot_id": a,
                "int_b_uniprot_id": accs[j],
                "interaction_id": f"EBI-{1000000 + i * 10 + m}",
                "interaction_type": ("physical association"
                                     if (i + j) % 2 == 0 else
                                     "direct interaction"),
                "detection_method": ("two hybrid" if (i + m) % 2 == 0
                                     else "pull down"),
                "confidence_value": round(((i * 37 + j * 101) % 100)
                                          / 100.0, 2),
                "pmid": 20000000 + (i * 31 + j) % 500000,
            })
    return pd.DataFrame(rows, columns=[
        "int_a_uniprot_id", "int_b_uniprot_id", "interaction_id",
        "interaction_type", "detection_method", "confidence_value",
        "pmid"])


def dims_to_spark(spark, dims: Dimensions):
    """Create the broadcast-side Spark DataFrames (LocalTableScans, see
    schemas.local_frame)."""
    from .schemas import (
        ANNOTATION_DICT_SCHEMA, CHEBI_SCHEMA, HGNC_SCHEMA,
        NAMESPACE_DICT_SCHEMA, UNIPROT_SCHEMA, local_frame,
    )
    return {
        "ns_dict": local_frame(spark, dims.namespace_entries,
                               NAMESPACE_DICT_SCHEMA),
        "anno_dict": local_frame(spark, dims.annotation_entries,
                                 ANNOTATION_DICT_SCHEMA),
        "hgnc": local_frame(spark, dims.hgnc, HGNC_SCHEMA),
        "uniprot": local_frame(spark, dims.uniprot, UNIPROT_SCHEMA),
        "chebi": local_frame(spark, dims.chebi, CHEBI_SCHEMA),
    }
