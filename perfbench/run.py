"""Benchmark runner: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 30 --trace 0

Inputs are generated from the seed into ``.perfbench/`` inside the
checkout before the engine is imported. The engine runs on one Spark
session at ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``, driven by one
closed-loop client thread. The run prints a human-readable table and, as
the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of one
process-cold pass; with ``--trace 1`` they are the
per-layer counters of a separate run whose second pass has the layer
wrappers installed. Any crashed op or wrong result makes the exit code 1;
a directory without the engine exits 2. perfbench/DESIGN.md records the
design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

PROCESS_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bankcreditunion_datapipeline_spark"

#: end-to-end metrics reported by every workload (BENCHMARK.json "end_to_end")
END_TO_END = (("setup_s", "s"), ("run_s", "s"), ("query_p50_ms", "ms"))
#: passes of a traced run (True = traced). trace.overhead_s is the traced
#: pass minus the untraced pass after it; the first, process-cold pass is
#: left out of that baseline.
TRACE_PLAN = (False, True, False)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="accepted for the runner contract; a run always measures one "
                         "process-cold pass (about 30-45 s on a 4-core host), because a "
                         "second pass in the same process would no longer be cold")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(work: str) -> dict:
    """Process environment and session conf that keep every file the run
    writes inside the checkout and pin parallelism to the host's cores."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_MASTER", None)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def table(rows: list[tuple[str, object, str]]) -> str:
    w = max(len(r[0]) for r in rows)
    return "\n".join(f"  {name:<{w}}  {value:>14}  {unit}" for name, value, unit in rows)


def fmt(v: float) -> str:
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
            os.path.join(ROOT, "tools", "check_correctness.py")):
        print(f"perfbench: no engine package '{PKG}' or tools/check_correctness.py "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Ctx, Run, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, wl, work, Ctx, Run, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work, Ctx, Run, log) -> int:
    conf = environment(work)
    t_gen = time.perf_counter()
    ctx = Ctx(work, args.seed, conf)
    ctx.facts = wl.prepare(ctx)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs generated in {gen_s:.2f} s")

    t_imp = time.perf_counter()
    import bankcreditunion_datapipeline_spark.queries  # noqa: F401 -- engine import is set-up
    from perfbench.checks import load_checker
    from perfbench.trace import Tracer, dump_spans

    # set-up runs from process start to session ready, minus input generation
    ctx.pending_setup = (time.perf_counter() - t_imp) + (t_gen - PROCESS_START)
    ctx.checker = load_checker(ROOT)
    run = Run()
    tracer = Tracer() if args.trace else None
    passes = TRACE_PLAN if args.trace else None
    readout = _Readout(tracer) if tracer else None
    try:
        for n, traced in enumerate(passes or (False,)):
            if traced:
                readout.begin(ctx)
            before = len(run.pass_s)
            try:
                wl.run_pass(ctx, run, n)
            finally:
                if traced:
                    readout.end(ctx)
            log(f"pass {n} done{' (traced)' if traced else ''}")
            if readout and n > 0:
                (readout.traced_s if traced else readout.untraced_s).extend(run.pass_s[before:])
    finally:
        ctx.close()
        _stop_gateway()
        log("session and JVM stopped")
    if tracer:
        dump_spans(tracer, os.path.join(ROOT, ".perfbench", f"spans-{wl.name}-{args.seed}.jsonl"))
    return report(args, wl, run, gen_s, readout)


class _Readout:
    """Installs the layer wrappers for a traced pass and, before that
    pass's session stops, charges its jobs and stages to layers."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.totals: dict[str, float] = {}
        self.traced_s: list[float] = []
        self.untraced_s: list[float] = []

    def begin(self, ctx) -> None:
        self.tracer.pass_id += 1
        self.window = [time.time(), None]
        self.lanes0 = _lanes()
        self.tracer.install()
        ctx.tracer = self.tracer
        ctx.on_stop = self.collect
        self.collected = False

    def collect(self, spark) -> None:
        from perfbench.trace import attribute, plan_counts, status_snapshot

        if self.collected:
            return
        self.collected = True
        self.window[1] = time.time()
        snap = status_snapshot(spark)
        self._add(attribute(self.tracer, snap, self.window))
        self._add(plan_counts(snap["plans"], self.window))

    def end(self, ctx) -> None:
        from perfbench.trace import span_totals

        self.tracer.uninstall()
        if ctx.spark is not None:
            self.collect(ctx.spark)
        ctx.tracer = None
        ctx.on_stop = None
        self.tracer.lanes_built += _lanes() - self.lanes0
        self._add(span_totals(self.tracer, self.tracer.pass_id))

    def _add(self, totals: dict) -> None:
        for k, v in totals.items():
            self.totals[k] = self.totals.get(k, 0) + v

    def metrics(self, run) -> dict[str, float]:
        from perfbench.trace import metric_units

        t = self.tracer
        out = {k: self.totals.get(k, 0) for k in metric_units()}
        out.update({
            "session.build_ms": 1000.0 * statistics.median(run.session_build_s),
            "sinks.files_written": t.files_written,
            "operators.clean.quarantine_rows": t.quarantine_rows,
            "caching.transients_peak": t.transients_peak,
            "caching.storage_peak_bytes": t.storage_peak_bytes,
            "caching.lanes_built": t.lanes_built,
            "trace.overhead_s": statistics.median(self.traced_s)
            - statistics.median(self.untraced_s),
        })
        return out


def _lanes() -> int:
    from bankcreditunion_datapipeline_spark import queries

    return len(getattr(queries, "_LANE_CACHE", {}))


def _stop_gateway() -> None:
    """Shut the Py4J gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 -- last resort: do not leave it running
                proc.kill()
                proc.wait()


def report(args, wl, run, gen_s: float, readout) -> int:
    ops = sorted(run.op_ms)
    rows = [
        ("inputs_generated_s", fmt(gen_s), "s (not a metric)"),
        ("setup_s", fmt(run.setup_s), "s, process start to session ready"),
        ("run_s", fmt(statistics.median(run.pass_s)), f"s, median of {len(run.pass_s)} passes"),
        ("query_p50_ms", fmt(statistics.median(ops)), f"ms, {len(ops)} ops"),
        ("query_p90_ms", fmt(quantile(ops, 0.9)), f"ms, {len(ops)} ops "
         f"({'gated' if len(ops) >= 100 else 'fewer than 100 ops: shown, not gated'})"),
    ]
    for key, unit in (("gold_files", "count"), ("gold_mb", "MB"), ("cache_mb", "MB")):
        vals = run.extra.get(key)
        if vals:
            agg = max(vals) if key == "cache_mb" else statistics.median(vals)
            name = "cache_peak_mb" if key == "cache_mb" else key
            rows.append((name, fmt(float(agg)), f"{unit} ({len(vals)} samples)"))
    rows.append(("failed_frac", fmt(run.failed / max(1, run.attempted)),
                 f"{run.failed} of {run.attempted} ops"))
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} closed loop, 1 client")
    print(table(rows))
    for f in run.failures:
        print(f"FAILED {f}")
    if readout is not None:
        from perfbench.trace import metric_units

        metrics = readout.metrics(run)
        units = metric_units()
        print(table([(k, fmt(float(metrics[k])), units[k]) for k in units]))
        out = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
    else:
        vals = {"setup_s": run.setup_s,
                "run_s": statistics.median(run.pass_s),
                "query_p50_ms": statistics.median(ops)}
        out = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
    ok = run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed,
                      "metrics": out}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
