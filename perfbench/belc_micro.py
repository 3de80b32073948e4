"""Spark-free throughput of the BEL compiler in one process."""

from __future__ import annotations

import time

SAMPLE_SEED = 1  # fixed: every run measures the same files
SAMPLE_FILES = 20
SAMPLE_STMTS = 50
MIN_S = 1.0  # CPU seconds per measured function, in whole passes


def _rate(fn, contents, n_stmts: int, min_s: float) -> float:
    """Statements per CPU-second of `fn` over whole passes of the sample."""
    passes = 0
    t0 = time.process_time()
    while True:
        for c in contents:
            fn(c)
        passes += 1
        dt = time.process_time() - t0
        if dt >= min_s:
            return passes * n_stmts / dt


def measure() -> dict:
    """stmts/s per core of `parse_script` alone and of `process_file`
    (parse plus fold and canonicalisation); the gap is the compile passes.
    Run before Spark starts, so no other thread of this process adds to
    the CPU clock."""
    from ebel_spark.belc import parse_script, process_file
    from ebel_spark.corpus import CorpusProfile, corpus_pandas
    from ebel_spark.namespaces import build_dimensions

    profile = CorpusProfile(n_files=SAMPLE_FILES,
                            statements_per_file=SAMPLE_STMTS,
                            error_rate=0.005, seed=SAMPLE_SEED)
    contents = list(corpus_pandas(profile, build_dimensions()).content)
    n_stmts = sum(len(process_file(c)["statements"]) for c in contents)
    return {
        "belc.parse_script.stmts_per_s_core":
            _rate(parse_script, contents, n_stmts, MIN_S),
        "belc.process_file.stmts_per_s_core":
            _rate(process_file, contents, n_stmts, MIN_S),
    }
