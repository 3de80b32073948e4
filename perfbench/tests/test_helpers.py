"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog, host  # noqa: E402
from perfbench.stats import median, percentile, tail_percentile  # noqa: E402
from perfbench.trace import Tracer, covered  # noqa: E402


class TestPercentiles:
    def test_median_odd_even(self):
        assert median([3, 1, 2]) == 2
        assert median([4, 1, 3, 2]) == 2.5

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        assert percentile(xs, 50) == 50
        assert percentile(xs, 90) == 90
        assert percentile(xs, 100) == 100
        assert percentile([7], 99) == 7

    @pytest.mark.parametrize("n, expected", [
        (10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
    def test_tail_percentile_leaves_ten_beyond(self, n, expected):
        assert tail_percentile(n) == expected

    @pytest.mark.parametrize("n", range(11, 200))
    def test_tail_percentile_is_highest(self, n):
        p = tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > percentile(xs, p))
        assert beyond >= 10
        if p < 99:
            nxt = p + 1
            assert sum(1 for x in xs if x > percentile(xs, nxt)) < 10

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            median([])


def _job(job_id, group, stages, t0, t1, name="parquet at x"):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": t0, "Stage IDs": stages,
         "Stage Infos": [{"Stage ID": s, "Stage Name": name} for s in stages],
         "Properties": {"spark.jobGroup.id": group} if group else {}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": t1},
    ]


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, shuffle_w=0, spill=0, py_ms=None,
          failed=False):
    acc = [] if py_ms is None else [
        {"Name": "time to run Python workers", "Update": str(py_ms)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed, "Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                "Peak Execution Memory": 2 << 20,
                "Shuffle Read Metrics": {"Local Bytes Read": 1 << 20,
                                         "Remote Bytes Read": 0},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Output Metrics": {"Bytes Written": 3 << 20}}}


class TestEventLogFold:
    def events(self):
        ev = []
        ev += _job(0, "parse#1", [0], 1000, 3000)
        ev += [_task(0, 1000, cpu_ns=5e8, py_ms=700),
               _task(0, 3000, cpu_ns=1e9, gc_ms=100, py_ms=2500)]
        ev += _job(1, "graph.pagerank#2", [1, 2], 3000, 3500,
                   name="localCheckpoint at y")
        ev += [_task(1, 100, shuffle_w=1 << 20), _task(2, 200, spill=2 << 20),
               _task(2, 200), _task(2, 800, failed=True)]
        ev += _job(2, None, [3], 4000, 4100)
        ev += [_task(3, 50)]
        return ev

    def test_fold_sums_per_group(self):
        lines = [json.dumps(e) for e in self.events()] + [""]
        f = eventlog.fold_lines(lines)
        p = f["parse#1"]
        assert p["jobs"] == 1 and p["tasks"] == 2
        assert p["run_s"] == pytest.approx(4.0)
        assert p["cpu_s"] == pytest.approx(1.5)
        assert p["gc_s"] == pytest.approx(0.1)
        assert p["python_s"] == pytest.approx(3.2)
        assert p["job_wall_s"] == pytest.approx(2.0)
        assert p["shuffle_read_mb"] == pytest.approx(2.0)
        assert p["output_mb"] == pytest.approx(6.0)
        assert p["peak_exec_mem_mb"] == pytest.approx(2.0)
        assert p["task_max_s"] == 3.0 and p["task_median_s"] == 2.0
        assert p["task_skew"] == pytest.approx(1.5)   # 3.0 / median 2.0
        assert p["checkpoint_jobs"] == 0

    def test_checkpoints_spill_skew_and_failures(self):
        f = eventlog.fold_lines(json.dumps(e) for e in self.events())
        g = f["graph.pagerank#2"]
        assert g["checkpoint_jobs"] == 1
        assert g["shuffle_write_mb"] == pytest.approx(1.0)
        assert g["spill_mb"] == pytest.approx(2.0)
        assert g["failed_tasks"] == 1
        # stage 2 has tasks 0.2, 0.2, 0.8: 0.8 / 0.2; stage 1 has one task
        assert g["task_skew"] == pytest.approx(4.0)

    def test_ungrouped_jobs_fold_into_empty_key(self):
        f = eventlog.fold_lines(json.dumps(e) for e in self.events())
        assert f[""]["tasks"] == 1

    def test_combine(self):
        f = eventlog.fold_lines(json.dumps(e) for e in self.events())
        c = eventlog.combine([f["parse#1"], f["graph.pagerank#2"]])
        assert c["tasks"] == 6
        assert c["run_s"] == pytest.approx(5.3)
        assert c["task_skew"] == pytest.approx(4.0)
        assert c["task_max_s"] == pytest.approx(3.0)

    def test_find_log_needs_exactly_one(self, tmp_path):
        with pytest.raises(RuntimeError):
            eventlog.find_log(str(tmp_path))
        (tmp_path / "local-1.inprogress").write_text("")
        assert eventlog.find_log(str(tmp_path)).endswith("local-1.inprogress")


class TestSpans:
    def test_covered_merges_overlaps(self):
        assert covered([(0, 2), (1, 3), (5, 6)]) == 4
        assert covered([]) == 0

    def test_self_time_accounts_for_total(self):
        tr = Tracer()
        with tr.span("root") as root:
            with tr.span("a"):
                with tr.span("a.inner"):
                    pass
            with tr.span("b"):
                pass
        total = root["end"] - root["start"]
        assert sum(tr.self_time(s) for s in tr.spans) == pytest.approx(total)
        assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
        assert [s["name"] for s in tr.descendants(root)] == \
            ["a", "b", "a.inner"]

    def test_task_metrics_include_descendants(self):
        tr = Tracer()
        with tr.span("graph.rollup"):
            with tr.span("graph.descendant_closure"):
                pass
        folded = eventlog.fold_lines(json.dumps(e) for e in (
            _job(0, "graph.rollup#0", [0], 0, 1)
            + _job(1, "graph.descendant_closure#1", [1], 1, 2)
            + [_task(0, 10, cpu_ns=4e8), _task(0, 10, cpu_ns=6e8)]
            + [_task(1, 10, cpu_ns=5e8)] * 3))
        m = tr.task_metrics("graph.rollup", folded)
        assert m["tasks"] == 5 and m["cpu_s"] == pytest.approx(2.5)


class TestHost:
    @pytest.mark.parametrize("avail, heap", [
        (15_000, 2048), (6_000, 1280), (2_000, 1024), (500, 1024)])
    def test_heap_from_mem_available(self, avail, heap):
        assert host.heap_mb(avail) == heap

    def test_tree_rss_counts_self(self):
        assert host.tree_rss_mb(os.getpid()) > 1


class TestSideRun:
    def test_marks_its_spans_and_metrics(self):
        import argparse

        from perfbench import run as R
        r = R.Run(argparse.Namespace(workload="build", seed=1, seconds=1,
                                     trace=1))
        r.tracer = Tracer()
        with r.tracer.span("pipeline.run_pipeline"):
            r.layers["own"] = 1.0
        with R.side_run(r):
            with r.tracer.span("graph.pagerank"):
                r.layers["side"] = 2.0
        assert r.side_metrics == {"side"}
        assert [s.get("side_run", False) for s in r.tracer.spans] == \
            [False, True]
