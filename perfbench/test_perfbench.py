"""Tests of the benchmark's own machinery. None of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402
from perfbench.workloads import Run  # noqa: E402


class FailingOpWorkload:
    """One op that succeeds and one that crashes after 0.2 s of work."""

    name = "failing_op"

    def prepare(self, ctx):
        return {}

    def run_pass(self, ctx, run, n):
        run.setup_s = 0.01
        run.session_build_s.append(0.01)
        t0 = time.perf_counter()
        run.timed("fine", lambda: [1, 2, 3])
        run.timed("boom", self.boom)
        run.pass_s.append(time.perf_counter() - t0)

    @staticmethod
    def boom():
        time.sleep(0.2)
        raise RuntimeError("made to fail")


def test_failed_op_is_counted_and_its_time_kept():
    run = Run()
    wl = FailingOpWorkload()
    wl.run_pass(None, run, 0)
    assert (run.attempted, run.failed) == (2, 1)
    assert run.op_ms[1] >= 200.0
    assert run.pass_s[0] >= 0.2
    run.fail(1, "boom", "also a wrong result")  # one op fails once
    assert run.failed == 1
    run.fail(0, "fine", "wrong result")
    assert run.failed == 2


def test_op_kept_out_of_latencies_still_counts():
    run = Run()
    run.timed("body", FailingOpWorkload.boom, latency=False)
    run.timed("read", lambda: [1])
    assert (run.attempted, run.failed) == (2, 1)
    assert len(run.op_ms) == 1


def test_runner_exits_nonzero_and_reports_the_failure():
    code = (
        "import sys; sys.path[:0] = [%r, %r]\n"
        "from perfbench import run, workloads\n"
        "from test_perfbench import FailingOpWorkload\n"
        "workloads.WORKLOADS['failing_op'] = FailingOpWorkload()\n"
        "sys.exit(run.main(['--workload', 'failing_op', '--seed', '1', '--seconds', '1',"
        " '--trace', '0']))\n" % (ROOT, HERE)
    )
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       timeout=120)
    assert p.returncode == 1, p.stderr
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (2, 1)
    assert out["metrics"]["run_s"]["value"] >= 0.2
    assert "made to fail" in p.stdout


def test_exits_without_result_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "medallion_etl",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode == 2
    assert p.stdout == ""


def test_medallion_inputs_follow_the_seed(tmp_path):
    a = gen.medallion(str(tmp_path / "a"), 7, 60, 80, 4)
    b = gen.medallion(str(tmp_path / "b"), 7, 60, 80, 4)
    c = gen.medallion(str(tmp_path / "c"), 8, 60, 80, 4)
    assert a == b
    assert a != c
    for name in ("fdic_financials/part-0.json", "ncua_fs220/part-0.csv"):
        with open(tmp_path / "a" / name) as fa, open(tmp_path / "b" / name) as fb:
            assert fa.read() == fb.read()
    assert 0 < a["quarantine_rows"] < a["bronze_rows"]
    assert a["silver_rows"] == sum(s["rows"] for s in a["slices"])


def _tracer_with_spans():
    t = trace.Tracer()
    t.pass_id = 1
    # query span 0 (t=100..110) with an operator child span 1 (t=101..103)
    t.spans = [
        [0, "queries", "q1", None, 100.0, 110.0, 1],
        [1, "operators.text", "text.clean", 0, 101.0, 103.0, 1],
    ]
    return t


def test_jobs_are_charged_to_the_innermost_layer():
    t = _tracer_with_spans()
    snap = {
        "jobs": [
            {"jobId": 0, "jobGroup": "pb1-1", "submissionTime": 101_500,
             "completionTime": 102_000, "stageIds": [0]},
            {"jobId": 1, "jobGroup": "pb1-0", "submissionTime": 104_000,
             "completionTime": 106_000, "stageIds": [0, 1]},
            {"jobId": 2, "jobGroup": None, "submissionTime": 107_000,
             "completionTime": 107_500, "stageIds": [2]},
            {"jobId": 3, "jobGroup": "perfbench-check", "submissionTime": 108_000,
             "completionTime": 108_100, "stageIds": [3]},
            {"jobId": 4, "jobGroup": None, "submissionTime": 200_000,
             "completionTime": 200_100, "stageIds": [4]},
        ],
        "stages": [
            {"stageId": i, "status": "COMPLETE", "submissionTime": 101_600 + i,
             "numCompleteTasks": 4, "numFailedTasks": 0, "executorRunTime": 10 * (i + 1),
             "shuffleReadBytes": 100, "shuffleWriteBytes": 1, "inputBytes": 5,
             "inputRecords": 2, "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
             "jvmGcTime": 1, "outputBytes": 0}
            for i in range(4)
        ],
    }
    out = trace.attribute(t, snap, (100.0, 110.0))
    assert out["operators.text.jobs"] == 1
    assert out["queries.jobs"] == 1
    # job 2 ran under no span; job 3 is a check, job 4 is outside the window
    assert out["unattributed.jobs"] == 1
    assert out["operators.text.tasks"] == 4  # stage 0 ran once, in job 0
    assert out["queries.tasks"] == 4  # stage 1 only
    assert out["queries.stages"] == 2
    # the query span covers 10 s; jobs 0 and 1 cover 0.5 s + 2 s of it
    assert abs(out["queries.driver_gap_ms"] - 7500.0) < 1e-6


def test_self_time_subtracts_children():
    t = _tracer_with_spans()
    out = trace.span_totals(t, 1)
    assert out["queries.calls"] == 1
    assert abs(out["queries.self_ms"] - 8000.0) < 1e-6
    assert abs(out["operators.text.self_ms"] - 2000.0) < 1e-6


def test_plan_counts_read_the_final_plan_only():
    plan = """AdaptiveSparkPlan (10)
+- == Final Plan ==
   ResultQueryStage (6)
   +- * HashAggregate (5)
      +- AQEShuffleRead (4)
         +- ShuffleQueryStage (3)
            +- Exchange (2)
               +- MapInPandas (1)
                  +- InMemoryTableScan (0)
+- == Initial Plan ==
   HashAggregate (9)
   +- Exchange (8)
      +- MapInPandas (7)

(0) InMemoryTableScan
Output: []
"""
    out = trace.plan_counts([(5.0, plan), (50.0, plan)], (0.0, 10.0))
    assert out == {"plan.exchanges": 1, "plan.map_in_pandas": 1, "plan.in_memory_scans": 1}


def test_wrappers_install_and_uninstall():
    from bankcreditunion_datapipeline_spark import sinks
    from bankcreditunion_datapipeline_spark.plans import medallion

    before = (sinks.write_gold, medallion.build_silver)
    t = trace.Tracer()
    t.install()
    try:
        assert sinks.write_gold is not before[0]
        assert medallion.build_silver is not before[1]
        assert medallion.apply_with_quarantine.__wrapped_by_perfbench__
    finally:
        t.uninstall()
    assert (sinks.write_gold, medallion.build_silver) == before
