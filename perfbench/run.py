"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,graph_query} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Everything the run writes stays under
`.perfbench_work/` (removed at exit) and `.perfbench_out/` (span files of
traced runs).  The
last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones.  The line before it carries the host facts
and every other number the run measured.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import belc_micro, host  # noqa: E402
from perfbench.stats import median, percentile, tail_percentile  # noqa: E402

MB = 1 << 20

# the result line carries the metrics every workload measures; the
# workload-specific ones are printed by name above it
END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB",
    "stored_bytes_per_src_byte": "ratio",
}
EXTRA_UNITS = {
    "stmts_per_s": "stmt/s", "triples_per_s": "triple/s",
    "queries_per_s": "q/s", "op_tail_s": "s", "failed_frac": "ratio",
}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.spark = None
        self.tracer = None
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict = {}
        self.layers: dict = {}
        # per-layer metrics measured on work the workload does not do
        self.side_metrics: set = set()

    def count(self, what: str, bad: list) -> None:
        """One attempted operation; failed if it reported mismatches."""
        self.attempted += 1
        if bad:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(bad)}")
            print(f"perfbench: FAILED {what}: {bad}", file=sys.stderr)

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def configure_env(run: Run, heap: int) -> None:
    """Keep every byte the JVM, Python workers and DuckDB write inside the
    checkout, on disk (not tmpfs, whose pages would compete with the heap
    for RAM)."""
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    # the launcher and driver JVMs: temp files and no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.chdir(run.work)


def start_spark(run: Run, cores: int):
    from ebel_spark.session import get_spark

    extra = {
        "spark.local.dir": run.path("local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.args.trace:
        os.makedirs(run.path("events"), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.path("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, app_name="ebel-perfbench", extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers), waiting until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure: make sure it dies
            proc.kill()
            proc.wait(timeout=30)


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until no process this run started is left (Spark's Python
    daemon exits shortly after the JVM)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(host.ppid(d) == me
                   for d in os.listdir("/proc") if d.isdigit()):
            return
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

COUNT_KEYS = ("n_files", "n_statements", "n_valid_files", "n_edges",
              "n_triples", "n_nodes", "n_errors")


def workload_build(run: Run) -> dict:
    from ebel_spark.schemas import SOURCE_SCHEMA
    from perfbench import build as B

    spark = run.spark
    pdf = B.make_corpus(run.args.seed)
    src_bytes = sum(len(c.encode()) for c in pdf.content)
    expected = B.expected_from_belc(list(pdf.content))
    src = spark.createDataFrame(pdf, SOURCE_SCHEMA).persist()
    src.count()

    def op(i: int):
        out = run.path("build", f"op{i}")
        try:
            dt, m = B.run_op(spark, src, out, f"op{i}")
            bad = B.check_run(spark, src, out, m, expected)
            stored = host.du_bytes(out) / src_bytes
        except Exception:  # noqa: BLE001 - a raising op counts as failed
            traceback.print_exc()
            return None, None, ["raised"], None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return dt, m, bad, stored

    # no warm-up run: the first run_pipeline of a fresh JVM is what the
    # pipeline's command line costs, and a same-size warm-up would double
    # the run time (README: "Time budget")
    run.mark_setup_done()

    samples = []
    sampler = host.RssSampler()
    sampler.start()
    deadline = time.perf_counter() + run.args.seconds
    i = 0
    while True:
        dt, m, bad, stored = op(i)
        run.count(f"build op{i}", bad)
        if dt is not None:
            samples.append((dt, m, stored))
        i += 1
        # closed loop: start another run only if it should end in time
        times = [s[0] for s in samples]
        if not times or time.perf_counter() + median(times) > deadline:
            break
    peak = sampler.stop()
    if not samples:
        # every operation raised: report the failures, time nothing
        return {"setup_s": run.setup_s, "op_p50_s": None,
                "peak_rss_mb": peak, "stored_bytes_per_src_byte": None}

    times = [s[0] for s in samples]
    stages = {}
    for _, m, _ in samples:
        for k, v in m["stages"].items():
            stages.setdefault(k, []).append(v)
    run.detail.update({
        "op_s": times,
        "n_statements": samples[0][1]["n_statements"],
        "n_triples": samples[0][1]["n_triples"],
        **{f"pipeline.stage.{k}_s": median(v) for k, v in stages.items()},
    })
    e2e = {
        "setup_s": run.setup_s,
        "op_p50_s": median(times),
        "stmts_per_s": median([m["n_statements"] / dt for dt, m, _ in samples]),
        "triples_per_s": median([m["n_triples"] / dt for dt, m, _ in samples]),
        "peak_rss_mb": peak,
        "stored_bytes_per_src_byte": median([s for _, _, s in samples]),
    }
    if run.args.trace:
        # the same work as layer spans, then an untraced reference run in
        # the same (now warm) JVM for the tracing overhead
        out_t = run.path("build", "traced")
        pipe = B.traced_pipeline(spark, run.tracer, src, out_t)
        dt_ref, m_ref, bad, _ = op(i)
        run.count("build untraced reference", bad)
        if m_ref is not None:
            run.count("traced composition vs run_pipeline", [
                f"{k}: traced {pipe[k]} != run_pipeline {m_ref[k]}"
                for k in COUNT_KEYS if pipe[k] != m_ref[k]])
        run.count("traced composition vs belc", [
            f"{k}: {pipe[k]} != {expected[k]}"
            for k in ("n_files", "n_statements", "n_valid_files")
            if pipe[k] != expected[k]])
        run.layers.update(pipeline_layers(run, pipe, src_bytes))
        run.layers["trace.op_total_s"] = run.tracer.total(
            "pipeline.run_pipeline")
        run.layers["trace.overhead_s"] = (
            None if dt_ref is None else run.layers["trace.op_total_s"] - dt_ref)
        # build runs no operator of the mix: side run over its output
        with side_run(run):
            graph_ops_traced(run, out_t)
    return e2e


# ---------------------------------------------------------------------------
# graph_query
# ---------------------------------------------------------------------------

def workload_graph_query(run: Run) -> dict:
    from ebel_spark.schemas import SOURCE_SCHEMA
    from perfbench import build as B
    from perfbench import graph_query as GQ

    spark = run.spark
    pdf = B.make_corpus(run.args.seed, n_files=GQ.N_FILES,
                        stmts=GQ.STMTS_PER_FILE)
    src_bytes = sum(len(c.encode()) for c in pdf.content)
    src = spark.createDataFrame(pdf, SOURCE_SCHEMA).persist()
    gdir = run.path("graph")
    GQ.build_graph(spark, src, gdir, run.path("twin"))
    stored = host.du_bytes(gdir) / src_bytes
    cc = GQ.load_contract(ROOT)
    t0 = time.perf_counter()
    refs = GQ.twin_references(cc, run.path("twin"))
    run.detail["twin_s"] = time.perf_counter() - t0

    def op(name: str, tag: str):
        """One checked operation; its time, or None if it failed."""
        try:
            t0 = time.perf_counter()
            cols, dtypes, rows = GQ.run_op(spark, name, gdir)
            dt = time.perf_counter() - t0
            why = GQ.mismatch(cc, cols, dtypes, rows, refs[name])
            bad = [why] if why else []
        except Exception:  # noqa: BLE001 - a raising op counts as failed
            traceback.print_exc()
            dt, bad = None, ["raised"]
        run.count(f"{name} {tag}", bad)
        return None if bad else dt

    # one warm-up operation of the timed size: the mix's first operator,
    # whose joins and aggregations the others share
    warm = next(iter(GQ.MIX))
    run.detail["warmup_op_s"] = {warm: op(warm, "warm-up")}
    run.mark_setup_done()

    per_op: dict[str, list] = {n: [] for n in GQ.MIX}
    round_s = []
    sampler = host.RssSampler()
    sampler.start()
    deadline = time.perf_counter() + run.args.seconds
    r = 0
    while True:
        t0 = time.perf_counter()
        for name in GQ.MIX:
            dt = op(name, f"round{r}")
            if dt is not None:
                per_op[name].append(dt)
        round_s.append(time.perf_counter() - t0)
        r += 1
        if time.perf_counter() + median(round_s) > deadline:
            break
    peak = sampler.stop()
    times = [t for v in per_op.values() for t in v]
    tail_p = tail_percentile(len(times))
    run.detail.update({
        "rounds": r,
        "op_s": per_op,
        "op_tail_s": percentile(times, tail_p) if tail_p else None,
        "op_tail_percentile": tail_p,
        "op_samples": len(times),
    })
    e2e = {
        "setup_s": run.setup_s,
        # null when every operation failed
        "op_p50_s": median(times) if times else None,
        "queries_per_s": len(times) / sum(times) if times else None,
        "op_tail_s": run.detail["op_tail_s"],
        "peak_rss_mb": peak,
        "stored_bytes_per_src_byte": stored,
    }
    if run.args.trace:
        untraced = {n: median(v) for n, v in per_op.items() if v}
        graph_ops_traced(run, gdir, refs, cc)
        run.layers["trace.op_total_s"] = sum(
            run.tracer.total(n) for n in GQ.MIX)
        run.layers["trace.overhead_s"] = (
            run.layers["trace.op_total_s"] - sum(untraced.values())
            if len(untraced) == len(GQ.MIX) else None)
        # graph_query runs no pipeline layer: side run over its corpus
        with side_run(run):
            pipe = B.traced_pipeline(spark, run.tracer, src,
                                     run.path("gq_traced"))
            run.layers.update(pipeline_layers(run, pipe, src_bytes))
    return e2e


# ---------------------------------------------------------------------------
# traced pieces shared by both workloads
# ---------------------------------------------------------------------------

def graph_ops_traced(run: Run, gdir: str, refs: dict | None = None,
                     cc=None) -> None:
    """One round of the operator mix, one span per operator; each result
    is checked against its twin when `refs` are given."""
    from perfbench import graph_query as GQ

    for name in GQ.MIX:
        with run.tracer.span(name):
            cols, dtypes, rows = GQ.run_op(run.spark, name, gdir)
        if refs is not None:
            why = GQ.mismatch(cc, cols, dtypes, rows, refs[name])
            run.count(f"{name} traced", [why] if why else [])


@contextlib.contextmanager
def side_run(run: Run):
    """Traced work the workload itself never does, run only so that its
    traced result carries every per-layer metric.  Its spans are marked
    `side_run` in the span file, and every metric taken from them is
    listed under `side_run_metrics` in the detail line."""
    first = len(run.tracer.spans)
    before = set(run.layers)
    yield
    for sp in run.tracer.spans[first:]:
        sp["side_run"] = True
    run.side_metrics |= set(run.layers) - before


def pipeline_layers(run: Run, pipe: dict, src_bytes: int) -> dict:
    """Per-layer numbers of the traced pipeline; event-log metrics are
    attached in finish_trace()."""
    from perfbench import build as B

    tr = run.tracer
    top = tr.named("pipeline.run_pipeline")[0]
    out = {
        "parse.parsed_bytes_per_src_byte": pipe["parsed_bytes"] / src_bytes,
        "parse.files_parsed": pipe["n_files"],
        "sinks.write_table.s": tr.total("sinks.write_table"),
        "sinks.write_table.mb": pipe["table_bytes"] / MB,
        "pipeline.run_pipeline.self_s": tr.self_time(top),
        "pipeline.run_pipeline.s": top["end"] - top["start"],
    }
    for name in B.CKPT_NAMES:
        out[f"pipeline.ckpt.{name}.mb"] = pipe["ckpt_bytes"][name] / MB
    return out


# span name -> event-log metrics reported for it
SPAN_METRICS = {
    "parse.parse_sources": ("s", "cpu_s", "python_s"),
    "validate.semantic_errors": ("s", "cpu_s", "shuffle_mb"),
    "graph.materialize_nodes": ("s", "cpu_s", "shuffle_mb", "task_skew"),
    "graph.materialize_edges": ("s", "cpu_s", "shuffle_mb", "task_skew"),
    "graph.materialize_structural_edges": ("s", "cpu_s", "shuffle_mb",
                                           "task_skew"),
    "graph.protein2gene": ("s",),
    "graph.rollup": ("s", "cpu_s", "shuffle_mb"),
    "link.link_all": ("s", "cpu_s", "shuffle_mb"),
    "graph.pagerank": ("s", "rounds", "jobs", "cpu_s"),
    "graph.sssp_relax": ("s", "rounds", "jobs", "cpu_s"),
    "graph.ktruss_peel": ("s", "rounds", "jobs", "cpu_s"),
    "graph.label_propagation": ("s", "rounds", "jobs", "cpu_s"),
    "graph.path_query": ("s", "jobs", "cpu_s"),
    "graph.cycle_edges": ("s", "rounds", "jobs", "cpu_s"),
}
_FOLD_KEY = {"cpu_s": "cpu_s", "python_s": "python_s",
             "shuffle_mb": "shuffle_write_mb", "task_skew": "task_skew",
             "rounds": "checkpoint_jobs", "jobs": "jobs"}


def finish_trace(run: Run) -> None:
    """Fold the event log (after Spark stopped) into the span metrics and
    write the span file."""
    from perfbench import eventlog

    folded = eventlog.fold(eventlog.find_log(run.path("events")))
    tr = run.tracer
    side = {sp["name"] for sp in tr.spans if sp.get("side_run")}
    for name, fields in SPAN_METRICS.items():
        tm = tr.task_metrics(name, folded)
        for f in fields:
            run.layers[f"{name}.{f}"] = (
                tr.total(name) if f == "s" else tm[_FOLD_KEY[f]])
            if name in side:
                run.side_metrics.add(f"{name}.{f}")
    run_s = sum(g["run_s"] for g in folded.values())
    run.layers["session.gc_frac"] = (
        sum(g["gc_s"] for g in folded.values()) / run_s)
    os.makedirs(run.out, exist_ok=True)
    path = os.path.join(
        run.out, f"trace-{run.args.workload}-seed{run.args.seed}.json")
    roots = [s for s in tr.spans if s["parent"] is None]
    tr.dump(path, folded, {
        "layers": run.layers,
        "side_run_metrics": sorted(run.side_metrics),
        "self_s_sum": sum(tr.self_time(s) for s in tr.spans),
        "root_spans_s": sum(s["end"] - s["start"] for s in roots),
    })
    run.detail["trace_file"] = os.path.relpath(path, ROOT)
    run.detail["side_run_metrics"] = sorted(run.side_metrics)


PER_LAYER_UNITS = {
    "belc.parse_script.stmts_per_s_core": "stmt/s",
    "belc.process_file.stmts_per_s_core": "stmt/s",
    "parse.parsed_bytes_per_src_byte": "ratio",
    "parse.files_parsed": "count",
    "sinks.write_table.s": "s",
    "sinks.write_table.mb": "MB",
    "pipeline.run_pipeline.s": "s",
    "pipeline.run_pipeline.self_s": "s",
    **{f"pipeline.ckpt.{n}.mb": "MB" for n in
       ("nodes0", "edges_stmt", "struct_edges", "nodes1", "nodes2")},
    **{f"{n}.{f}": {"s": "s", "cpu_s": "s", "python_s": "s",
                    "shuffle_mb": "MB", "task_skew": "ratio",
                    "rounds": "count", "jobs": "count"}[f]
       for n, fs in SPAN_METRICS.items() for f in fs},
    "session.gc_frac": "ratio",
    "trace.op_total_s": "s",
    "trace.overhead_s": "s",
}

WORKLOADS = {"build": workload_build, "graph_query": workload_graph_query}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import ebel_spark  # noqa: F401 - fail before starting anything

    run = Run(args)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    cores = host.nproc()
    avail = host.mem_available_mb()
    heap = host.heap_mb(avail)
    run.detail["host"] = {
        "nproc": cores, "mem_available_mb": avail, "heap_mb": heap,
        "memcpy_gbps": host.memcpy_gbps(), "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds,
        "scratch": "disk, under the checkout",
    }
    cwd = os.getcwd()
    try:
        configure_env(run, heap)
        if args.trace:
            # Spark-free, before any JVM thread shares this process
            run.layers.update(belc_micro.measure())
        run.spark = start_spark(run, cores)
        if args.trace:
            from perfbench.trace import Tracer
            run.tracer = Tracer(run.spark.sparkContext)
        e2e = WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        wait_for_children()
        os.chdir(cwd)
    if args.trace:
        finish_trace(run)
    shutil.rmtree(run.work, ignore_errors=True)

    run.detail["host"]["memcpy_gbps_end"] = host.memcpy_gbps()
    e2e["failed_frac"] = run.failed / run.attempted
    run.detail["problems"] = run.problems
    units, values = ((PER_LAYER_UNITS, run.layers) if args.trace
                     else (END_TO_END_UNITS, e2e))
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for k, u in {**END_TO_END_UNITS, **EXTRA_UNITS}.items():
        if k in e2e:
            print(f"{k} {e2e[k]} {u}")
    if args.trace:
        for k, u in PER_LAYER_UNITS.items():
            side = " (side run)" if k in run.side_metrics else ""
            print(f"{k} {run.layers[k]} {u}{side}")
    print(json.dumps({"perfbench": run.detail}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
