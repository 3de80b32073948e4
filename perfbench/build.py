"""The `build` workload: a fresh `run_pipeline` over a synthetic corpus,
checked against a Spark-free compile of the same files, plus the traced
composition of the pipeline's layer calls."""

from __future__ import annotations

import os
import shutil
import time

from .host import du_bytes

N_FILES = 200
STMTS_PER_FILE = 50
ERROR_RATE = 0.005
# the pipeline options bench.py measures: the generated corpus is unique by
# construction (no content dedup shuffle) and hints are off
PIPELINE_KW = {"dedup_source": False, "with_hints": False}
CKPT_NAMES = ("nodes0", "edges_stmt", "struct_edges", "nodes1", "nodes2")


def make_corpus(seed: int, n_files: int = N_FILES,
                stmts: int = STMTS_PER_FILE):
    """Source rows (repo, path, commit, lang, content) as pandas; dims stay
    at the program default so every generated name resolves."""
    from ebel_spark.corpus import CorpusProfile, corpus_pandas
    from ebel_spark.namespaces import build_dimensions

    profile = CorpusProfile(n_files=n_files, statements_per_file=stmts,
                            error_rate=ERROR_RATE, seed=seed)
    return corpus_pandas(profile, build_dimensions())


def expected_from_belc(contents) -> dict:
    """What a correct pipeline run must report, from `process_file` alone:
    file, statement and valid-file counts and the statement edge ids."""
    from ebel_spark.belc import process_file

    n_stmts = n_ok = 0
    edge_ids = set()
    for c in contents:
        r = process_file(c)
        n_stmts += len(r["statements"])
        if r["ok"]:
            n_ok += 1
            edge_ids.update(s["edge_key"] for s in r["statements"]
                            if s["edge_key"] and not s["nested"])
    return {"n_files": len(contents), "n_statements": n_stmts,
            "n_valid_files": n_ok, "edge_ids": edge_ids}


def check_run(spark, src, out_dir: str, metrics: dict, expected: dict) -> list:
    """Mismatches between one pipeline run and the Spark-free expectation."""
    from pyspark.sql import functions as F

    from ebel_spark.pipeline import verify_invariant

    bad = [f"{k}: {metrics.get(k)} != {expected[k]}"
           for k in ("n_files", "n_statements", "n_valid_files")
           if metrics.get(k) != expected[k]]
    # statement edges are the rows carrying a subject BEL string; the
    # protein->gene and structural edges leave it null
    ids = {r[0] for r in spark.read.parquet(os.path.join(out_dir, "edges"))
           .filter(F.col("subject_bel").isNotNull()).select("edge_id")
           .collect()}
    if ids != expected["edge_ids"]:
        bad.append(f"statement edge ids differ: {len(ids - expected['edge_ids'])}"
                   f" extra, {len(expected['edge_ids'] - ids)} missing")
    n_missing = verify_invariant(spark, src, out_dir)
    if n_missing:
        bad.append(f"verify_invariant: {n_missing} source rows missing")
    return bad


def run_op(spark, src, out_dir: str, run_id: str) -> tuple[float, dict]:
    from ebel_spark.pipeline import run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    m = run_pipeline(spark, src, out_dir, run_id=run_id, **PIPELINE_KW)
    return time.perf_counter() - t0, m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_pipeline(spark, tr, src, out_dir: str) -> dict:
    """`run_pipeline` (force mode, parquet checkpoints, PIPELINE_KW) as
    explicit layer calls, one span each.  Each span's output is forced at
    its boundary: by the parquet write run_pipeline already makes there,
    else by a `noop` write of a persisted frame the next span reuses.
    Returns the same counters run_pipeline returns plus on-disk sizes."""
    from pyspark.sql import Observation, functions as F

    from ebel_spark import graph as G
    from ebel_spark import link as L
    from ebel_spark import parse as P
    from ebel_spark import sinks as S
    from ebel_spark import validate as V
    from ebel_spark.namespaces import build_dimensions, dims_to_spark
    from ebel_spark.pipeline import _align_edges

    shutil.rmtree(out_dir, ignore_errors=True)
    out: dict = {"ckpt_bytes": {}}
    parsed_path = os.path.join(out_dir, "parsed")

    def ckpt(df, name):
        p = os.path.join(out_dir, "_stage", name)
        df.write.mode("overwrite").parquet(p)
        out["ckpt_bytes"][name] = du_bytes(p)
        return spark.read.parquet(p)

    with tr.span("pipeline.run_pipeline"):
        dim_dfs = dims_to_spark(spark, build_dimensions())
        with tr.span("parse.parse_sources"):
            s = P.with_file_sha(src.filter(
                F.col("path").endswith(".bel")
                & (F.col("lang").isNull() | (F.col("lang") == "bel"))))
            P.parse_sources(s).write.mode("append").parquet(parsed_path)
            parsed = spark.read.parquet(parsed_path)
        with tr.span("pipeline.lineage"):
            obs_lin = Observation("lineage")
            parsed.select(
                "file_sha", "repo", "path",
                F.when(F.col("ok"), F.lit("parsed_ok"))
                .otherwise(F.lit("syntax_error")).alias("status"),
                F.col("n_statements").cast("int").alias("n_statements"),
                F.col("n_syntax_errors").cast("int").alias("n_errors"),
                F.lit("traced").alias("run_id"),
            ).observe(
                obs_lin, F.count(F.lit(1)).alias("n_files"),
                F.sum("n_statements").alias("n_statements"),
                F.sum((F.col("status") == "parsed_ok").cast("int"))
                .alias("n_ok"),
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "lineage"))
            lin = obs_lin.get
        with tr.span("parse.exploded_tables"):
            entries = ckpt(P.entries_table(parsed), "entries")
            defs = ckpt(P.definitions_table(parsed), "defs")
        ok_files = parsed.filter("ok").select("file_sha")
        with tr.span("validate.semantic_errors"):
            obs_err = Observation("errors")
            sem = V.semantic_errors(
                entries.join(ok_files, "file_sha", "left_semi"),
                defs.join(ok_files, "file_sha", "left_semi"),
                dim_dfs["ns_dict"], dim_dfs["anno_dict"],
                with_hints=PIPELINE_KW["with_hints"])
            P.syntax_errors_table(parsed).unionByName(sem).observe(
                obs_err, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(os.path.join(out_dir, "errors"))
            out["n_errors"] = obs_err.get["n"]
        with tr.span("graph.materialize_nodes"):
            nodes = ckpt(G.materialize_nodes(
                P.nodes_table(parsed).join(ok_files, "file_sha", "left_semi")),
                "nodes0")
        with tr.span("graph.materialize_edges"):
            edges_stmt = ckpt(G.materialize_edges(
                P.statements_table(parsed)
                .join(ok_files, "file_sha", "left_semi")), "edges_stmt")
            p2g_probe = edges_stmt.filter(F.col("relation").isin(
                ["translated_to", "transcribed_to"])).select(
                "relation", "object_id")
        with tr.span("graph.materialize_structural_edges"):
            struct_edges = ckpt(G.materialize_structural_edges(
                P.child_edges_table(parsed)
                .join(ok_files, "file_sha", "left_semi")), "struct_edges")
        with tr.span("graph.protein2gene"):
            nodes, p2g_edges = G.protein2gene(nodes, p2g_probe)
            nodes = ckpt(nodes, "nodes1")
        obs_edges = Observation("edges")
        all_edges = (
            _align_edges(edges_stmt).unionByName(_align_edges(p2g_edges))
            .unionByName(_align_edges(struct_edges.select(
                "edge_id", "relation", "relation_category", "subject_id",
                "object_id", "document_ids", "n_statements")))
            .observe(obs_edges, F.count(F.lit(1)).alias("n_edges"),
                     F.sum((F.col("relation_category") != "ebel")
                           .cast("long")).alias("n_triples")))
        with tr.span("sinks.write_table", table="edges"):
            edges_out = S.write_table(spark, all_edges, "edges", out_dir,
                                      partition_by="relation_category")
        with tr.span("graph.rollup"):
            with tr.span("graph.descendant_closure"):
                closure = G.descendant_closure(
                    struct_edges, G.INVOLVED_GENES_EDGES).persist()
                _noop(closure)
            # involved_rollup and species_tagging are lazy; run_pipeline's
            # nodes2 checkpoint is where they execute
            inv = G.involved_rollup(nodes, struct_edges,
                                    genes_closure=closure)
            sp = G.species_tagging(
                nodes, struct_edges,
                edges_out.filter(F.col("relation_category") != "ebel"),
                genes_closure=closure)
            nodes = ckpt(nodes.join(inv, "node_id", "left")
                         .join(sp, "node_id", "left"), "nodes2")
        with tr.span("link.link_all"):
            nodes = L.link_all(nodes, dim_dfs["hgnc"], dim_dfs["uniprot"],
                               dim_dfs["chebi"]).persist()
            _noop(nodes)
        obs_nodes = Observation("nodes")
        with tr.span("sinks.write_table", table="nodes"):
            S.write_table(spark, nodes.observe(
                obs_nodes, F.count(F.lit(1)).alias("n")), "nodes", out_dir,
                partition_by="node_class")
        with tr.span("sinks.write_table", table="documents"):
            S.write_table(spark, P.documents_table(parsed), "documents",
                          out_dir)
        closure.unpersist()
        nodes.unpersist()
        eo = obs_edges.get
        out.update(n_files=lin["n_files"],
                   n_statements=int(lin["n_statements"] or 0),
                   n_valid_files=int(lin["n_ok"] or 0),
                   n_edges=int(eo["n_edges"]),
                   n_triples=int(eo["n_triples"] or 0),
                   n_nodes=obs_nodes.get["n"])
        with tr.span("sinks.write_metrics_table"):
            S.write_metrics_table(spark, {"run_id": "traced", **{
                k: v for k, v in out.items() if k.startswith("n_")}}, out_dir)
    out["parsed_bytes"] = du_bytes(parsed_path)
    out["table_bytes"] = sum(du_bytes(os.path.join(out_dir, t))
                             for t in ("edges", "nodes", "documents"))
    return out
