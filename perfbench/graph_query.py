"""The `graph_query` workload: a rotating mix of the iterative and
join-heavy graph operators over a written `edges` table, each result
compared with the DuckDB twin of the registered query that calls the
operator, run over the same graph."""

from __future__ import annotations

import importlib.util
import os

N_FILES = 100
STMTS_PER_FILE = 50


def _uv(edges):
    """Distinct (u, v) BEL pairs, the projection the bel_* queries use."""
    from pyspark.sql import functions as F

    return (edges.filter(F.col("subject_bel").isNotNull()
                         & F.col("object_bel").isNotNull())
            .select(F.col("subject_bel").alias("u"),
                    F.col("object_bel").alias("v"))
            .distinct())


def _pagerank(edges, nodes):
    from pyspark.sql import functions as F

    from ebel_spark import graph as G
    return G.pagerank(_uv(edges), damping=0.85, iters=10).select(
        "bel", F.round("rank", 6).alias("rank"))


def _sssp(edges, nodes):
    from pyspark.sql import functions as F

    from ebel_spark import graph as G
    e = (edges.filter(F.col("subject_bel").isNotNull()
                      & F.col("object_bel").isNotNull())
         .select(F.col("subject_bel").alias("u"),
                 F.col("object_bel").alias("v"),
                 F.when(F.col("relation_category") == "causal", F.lit(1))
                 .otherwise(F.lit(3)).alias("cost")))
    uv = _uv(edges)
    hub = (uv.select(F.col("u").alias("bel"))
           .unionAll(uv.select(F.col("v").alias("bel")))
           .groupBy("bel").count()
           .orderBy(F.desc("count"), F.asc("bel")).limit(1).select("bel"))
    return G.sssp_relax(e, hub, rounds=6)


def _ktruss(edges, nodes):
    from ebel_spark import graph as G
    return G.ktruss_peel(_uv(edges), k=3, rounds=2)


def _label_propagation(edges, nodes):
    from pyspark.sql import functions as F

    from ebel_spark import graph as G
    return G.label_propagation(_uv(edges), iters=5).select(
        "bel", F.col("label").alias("community"))


def _path_query(edges, nodes):
    from ebel_spark import graph as G
    return G.path_query(
        edges, nodes, min_len=1, max_len=2,
        start={"node_class": "protein", "namespace": "HGNC"},
        end={"node_class": "bio_object"},
        relations=["directly_increases", "directly_decreases"],
        max_paths=0, max_unique_edges=None)


def _cycle_edges(edges, nodes):
    from ebel_spark import graph as G
    return G.cycle_edges(_uv(edges), max_len=4)


# one round of the closed loop, in order.  Each operator takes the
# parameters and output columns of the registered query
# (ebel_spark/queries.py) that calls it, the program's only callers, and
# that query's DuckDB twin gives the reference result.
MIX = {
    "graph.pagerank": (_pagerank, "bel_pagerank"),
    "graph.sssp_relax": (_sssp, "bel_sssp_causal"),
    "graph.ktruss_peel": (_ktruss, "bel_ktruss"),
    "graph.label_propagation": (_label_propagation, "bel_communities_lpa"),
    "graph.path_query": (_path_query, "bel_paths"),
    "graph.cycle_edges": (_cycle_edges, "bel_feedback_edges"),
}


def build_graph(spark, src, graph_dir: str, twin_dir: str) -> None:
    """Parse the corpus and write the statement `edges` and `nodes` tables
    the operators read, and under `twin_dir` the `statements` and
    `nodes_raw` tables the DuckDB twins read (the layout of
    ebel_spark/oracle_data.py)."""
    from ebel_spark import graph as G
    from ebel_spark import parse as P
    from ebel_spark import sinks as S

    parsed_path = os.path.join(graph_dir, "parsed")
    P.parse_sources(P.with_file_sha(src)).write.mode("overwrite").parquet(
        parsed_path)
    parsed = spark.read.parquet(parsed_path).filter("ok")
    S.write_table(spark, G.materialize_edges(P.statements_table(parsed)),
                  "edges", graph_dir)
    S.write_table(spark, G.materialize_nodes(P.nodes_table(parsed)),
                  "nodes", graph_dir)
    P.statements_table(parsed).write.parquet(
        os.path.join(twin_dir, "statements"))
    P.nodes_table(parsed).write.parquet(os.path.join(twin_dir, "nodes_raw"))


def load_contract(root: str):
    """scripts/check_contract.py, whose value comparison the checks use."""
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(root, "scripts", "check_contract.py"))
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    return cc


def twin_references(cc, twin_dir: str) -> dict:
    """{operator: reference} from each MIX query's DuckDB twin over the
    tables under `twin_dir`."""
    import duckdb

    from ebel_spark import oracle_data
    from ebel_spark import queries as Q

    refs = {}
    con = duckdb.connect()
    try:
        for name, (_, query) in MIX.items():
            sql = Q.QUERIES[query][1]
            res = con.sql(sql.replace(oracle_data.ORACLE_BASE, twin_dir))
            cols = list(res.columns)
            rows = res.fetchall()
            refs[name] = {"cols": cols, "types": [str(t) for t in res.types],
                          "n": len(rows), "norm": cc.norm_rows(cols, rows)}
    finally:
        con.close()
    return refs


def mismatch(cc, cols, dtypes, rows, ref: dict) -> str | None:
    """How an operator's result differs from its twin's, compared the way
    scripts/check_contract.py compares them; None if it does not."""
    if sorted(c.lower() for c in cols) != sorted(
            c.lower() for c in ref["cols"]):
        return f"schema {cols} vs {ref['cols']}"
    if cc.dtype_mismatches(cols, dtypes, ref["cols"], ref["types"]):
        return "dtype families differ"
    if len(rows) != ref["n"]:
        return f"rowcount {len(rows)} vs {ref['n']}"
    if cc.norm_rows(cols, rows) != ref["norm"]:
        return "values differ"
    return None


def run_op(spark, name: str, graph_dir: str):
    """One operator over freshly read tables, forced by collecting its
    result; returns (columns, dtypes, rows)."""
    edges = spark.read.parquet(os.path.join(graph_dir, "edges"))
    nodes = spark.read.parquet(os.path.join(graph_dir, "nodes"))
    df = MIX[name][0](edges, nodes)
    return df.columns, [t for _, t in df.dtypes], df.collect()
