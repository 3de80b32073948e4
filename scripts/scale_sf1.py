"""sf1.0 scale rehearsal (r3 VERDICT item 2): run the full BEL pipeline
at 10k files (~1M statements, the sf0.1 bench size) and at 100k files
(~10M statements, 10x) in ONE local[32] session, and publish per-stage
walls + 100k/10k growth ratios.  A stage whose ratio is well above the
10x data ratio is growing super-linearly — the thing to catch BEFORE
claiming the plan survives 100x.

Writes BENCH_SCALE_SF1.json at the repo root.

Usage: python scripts/scale_sf1.py [--cpus N] [--small 10000]
       [--big 100000] [--stmts 100]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".."))


def main() -> None:
    from ebel_spark.session import host_cpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=host_cpus())
    ap.add_argument("--small", type=int, default=10000)
    ap.add_argument("--big", type=int, default=100000)
    ap.add_argument("--stmts", type=int, default=100)
    ap.add_argument("--warm-files", type=int, default=2000)
    ap.add_argument("--scratch", default="/dev/shm")
    args = ap.parse_args()

    from bench import host_memcpy_gbps, wait_for_clear_window
    from ebel_spark import parse as P
    from ebel_spark.corpus import CorpusProfile, corpus_spark
    from ebel_spark.pipeline import run_pipeline
    from ebel_spark.session import get_spark

    start_probes = wait_for_clear_window()

    scratch = tempfile.mkdtemp(prefix="sf1scale_", dir=args.scratch)
    spark = get_spark(cores=args.cpus, app_name="sf1-scale", extra={
        "spark.local.dir": os.path.join(scratch, "local"),
    })

    def one(files: int, label: str) -> dict:
        profile = CorpusProfile(n_files=files,
                                statements_per_file=args.stmts,
                                error_rate=0.005)
        src = P.with_file_sha(corpus_spark(spark, profile)).persist()
        src.count()
        d = tempfile.mkdtemp(prefix=f"sf1_{label}_", dir=scratch)
        try:
            t0 = time.time()
            m = run_pipeline(spark, src, d, with_hints=False,
                             run_id=label, dedup_source=False)
            wall = time.time() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)
            src.unpersist()
        return {
            "files": files,
            "statements": m["n_statements"],
            "triples": m["n_triples"],
            "wall_s": round(wall, 2),
            "statements_per_sec": round(m["n_statements"] / wall, 1),
            "triples_per_sec": round(m["n_triples"] / wall, 1),
            "stages": m["stages"],
            "host_memcpy_gbps": host_memcpy_gbps(),
        }

    # JIT warmup (AQE plan shapes differ by size, but the generated
    # classes for the parse/dedup aggregates are shared)
    one(args.warm_files, "warm")
    small = one(args.small, "small")
    big = one(args.big, "big")

    data_ratio = args.big / args.small
    stage_ratios = {
        k: round(big["stages"][k] / small["stages"][k], 2)
        for k in big["stages"]
        if k in small["stages"] and small["stages"][k] > 0.05
    }
    out = {
        "cpus": args.cpus,
        "data_ratio": data_ratio,
        "small": small,
        "big": big,
        "wall_ratio": round(big["wall_s"] / small["wall_s"], 2),
        "stage_ratios_big_over_small": stage_ratios,
        "superlinear_stages": sorted(
            k for k, r in stage_ratios.items() if r > 1.3 * data_ratio),
        "host_memcpy_probes_start": start_probes,
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "..", "BENCH_SCALE_SF1.json")
    with open(path, "w") as fd:
        json.dump(out, fd, indent=1)
    print(json.dumps(out))
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
