"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``) and runs
passes (``run_pass``). A pass builds a fresh Spark session, runs the body
and stops the session; the first pass of a process is process-cold. Every
op the client issues is timed by ``Run.timed``, which collects the full
result rows to the driver, and is checked outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import numpy as np

from . import gen

CURATION_QUERIES = ("q49_curation_funnel", "q333_release_unbudgeted_manifest")
#: job groups of the benchmark's own Spark jobs (session readiness,
#: output checks); a trace neither charges nor counts them
SETUP_GROUP = "perfbench-setup"
CHECK_GROUP = "perfbench-check"


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (standard output carries only the report)."""
    print(f"perfbench {time.perf_counter() - T0:8.2f}s {msg}", file=sys.stderr, flush=True)


class Run:
    """Measurements of one benchmark run."""

    def __init__(self) -> None:
        self.setup_s: float | None = None  # the first set-up of the process
        self.session_build_s: list[float] = []
        self.pass_s: list[float] = []
        self.op_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.extra: dict[str, list[float]] = {}
        self._failed_ops: set[int] = set()

    def timed(self, label: str, fn, latency: bool = True):
        """Run one op and time it. A crash counts as a failed op and its
        elapsed time stays in the pass time and, unless ``latency`` is
        false, in the op latencies."""
        op = self.attempted
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 -- any crash is a failed op, reported
            out = None
            self.fail(op, label, f"crash: {type(e).__name__}: {str(e)[:300]}")
        ms = 1000.0 * (time.perf_counter() - t0)
        if latency:
            self.op_ms.append(ms)
        log(f"op {op} {label} {ms:.0f} ms"
            f"{' CRASHED' if op in self._failed_ops else ''}")
        return op, out

    def fail(self, op: int, label: str, why: str) -> None:
        self.failures.append(f"{label}: {why}")
        if op not in self._failed_ops:
            self._failed_ops.add(op)
            self.failed += 1

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, work: str, seed: int, conf: dict) -> None:
        self.work, self.seed, self.conf = work, seed, conf
        self.pending_setup = 0.0  # process start to engine imported: part of the first set-up
        self.tracer = None  # set for the duration of a traced pass
        self.on_stop = None  # called with the session just before it stops
        self.checker = None
        self.spark = None
        self.facts: dict = {}
        self._oracles: dict = {}

    def oracle(self, data_dir: str):
        from .checks import Oracle

        if data_dir not in self._oracles:
            self._oracles[data_dir] = Oracle(self.checker, data_dir)
        return self._oracles[data_dir]

    def close(self) -> None:
        self.stop_session()
        for o in self._oracles.values():
            o.close()
        self._oracles.clear()

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def build_session(self, run: Run):
        """Fresh engine session, ready once a first job has run. The first
        call of the process sets ``run.setup_s``: process start (input
        generation excluded) to session ready, so it includes the JVM
        launch and the engine import."""
        from bankcreditunion_datapipeline_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", extra_conf=self.conf)
        built = time.perf_counter()
        run.session_build_s.append(built - t0)
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", SETUP_GROUP)
        try:
            self.spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        setup = time.perf_counter() - t0 + self.pending_setup
        if run.setup_s is None:
            run.setup_s = setup
        self.pending_setup = 0.0
        log(f"session ready: set-up {setup:.2f} s (build {built - t0:.2f} s)")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            if self.on_stop is not None:
                self.on_stop(self.spark)
            self.spark.stop()
            self.spark = None


def _sample_cache(ctx: Ctx, run: Run) -> float:
    """Block-manager storage high-water mark, sampled between ops. Returns
    the seconds the sampling took, which callers keep out of the pass time."""
    from .trace import storage_bytes

    t0 = time.perf_counter()
    run.note("cache_mb", storage_bytes(ctx.spark) / 1e6)
    if ctx.tracer is not None:
        ctx.tracer.sample_cache(ctx.spark)
    return time.perf_counter() - t0


def _run_query(ctx: Ctx, run: Run, name: str, data_dir: str):
    """One registered query, timed, with its full result collected."""
    from bankcreditunion_datapipeline_spark import queries

    q = queries.registry()[name]
    schema = []

    def op():
        with ctx.span("queries", name):
            df = q.spark_fn(ctx.spark, data_dir)
            schema.append(df.schema)
            return df.collect()

    op_id, rows = run.timed(name, op)
    return op_id, rows, (schema[0] if schema else None), q.oracle


# ---------------------------------------------------------------------------
# medallion_etl
# ---------------------------------------------------------------------------


class MedallionEtl:
    name = "medallion_etl"
    why = ("paper's own pipeline, cold: ~11k JSON/CSV bronze rows to silver and 4 "
           "partitioned gold tables; the only workload timing sinks, clean, conform. "
           "1 client, closed loop, local[nproc]")
    sizes = {"banks": 500, "credit_unions": 800, "quarters": 4, "slices": 4}

    def prepare(self, ctx: Ctx) -> dict:
        s = self.sizes
        facts = gen.medallion(os.path.join(ctx.work, "bronze"), ctx.seed, s["banks"],
                              s["credit_unions"], s["quarters"])
        rng = np.random.default_rng([ctx.seed, 4])
        slices = facts["slices"]
        facts["probe_slices"] = [slices[i] for i in rng.choice(len(slices), s["slices"],
                                                               replace=False)]
        return facts

    def run_pass(self, ctx: Ctx, run: Run, n: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        from bankcreditunion_datapipeline_spark import sinks
        from bankcreditunion_datapipeline_spark.plans import medallion
        from bankcreditunion_datapipeline_spark.sources import files

        bronze = os.path.join(ctx.work, "bronze")
        out = os.path.join(ctx.work, f"out{n}")
        inst_schema = StructType([StructField(c, StringType()) for c in
                                  ("ACTIVE", "CERT", "CITY", "ID", "NAME", "REPDTE",
                                   "STNAME", "WEBADDR")])
        fin_schema = StructType([StructField(c, StringType()) for c in
                                 ("ASSET", "CERT", "DEP", "ID", "REPDTE")])
        spark = ctx.build_session(run)
        t0 = time.perf_counter()

        def etl():
            inst = files.read_json(spark, f"{bronze}/fdic_institutions", schema=inst_schema)
            fin = files.read_json(spark, f"{bronze}/fdic_financials", schema=fin_schema)
            foicu = files.read_csv_inferred(spark, f"{bronze}/ncua_foicu")
            fs220 = files.read_csv_inferred(spark, f"{bronze}/ncua_fs220")
            fs220d = files.read_csv_inferred(spark, f"{bronze}/ncua_fs220d")
            res = medallion.build_silver(inst, fin, foicu, fs220, fs220d)
            sinks.write_overwrite(res.financial_institution, f"{out}/silver")
            sinks.write_overwrite(res.quarantine, f"{out}/quarantine")
            silver = files.read_parquet(spark, f"{out}/silver")
            medallion.run_gold(silver, f"{out}/gold")

        # the ETL op counts in the pass time and failures, not in the op
        # latencies: query_p50_ms is the median gold slice read
        etl_op, _ = run.timed("etl", etl, latency=False)
        slice_ops = []
        for sl in ctx.facts["probe_slices"]:
            def read_slice(sl=sl):
                # a gold slice read is a source scan: its action runs in a sources span
                with ctx.span("sources", "gold_slice"):
                    df = files.read_parquet(spark, f"{out}/gold/assets_deposits_by_state")
                    return df.filter((F.col("year") == sl["year"])
                                     & (F.col("quarter") == sl["quarter"])
                                     & (F.col("state") == sl["state"])).collect()
            slice_ops.append((sl,) + run.timed("gold_slice", read_slice))
        run.pass_s.append(time.perf_counter() - t0)
        _sample_cache(ctx, run)
        if ctx.tracer is not None:
            ctx.tracer.files_written += _tree_size(out)[0]
        ctx.stop_session()
        self._check(ctx, run, etl_op, slice_ops, out)
        shutil.rmtree(out, ignore_errors=True)

    def _check(self, ctx: Ctx, run: Run, etl_op: int, slice_ops: list, out: str) -> None:
        import duckdb

        facts = ctx.facts
        for sl, op, rows in slice_ops:
            if rows is not None and len(rows) != sl["rows"]:
                run.fail(op, "gold_slice", f"{sl}: got {len(rows)} rows")
        con = duckdb.connect()
        try:
            def count(path, hive=False):
                if not os.path.isdir(path):
                    return None
                opt = ", hive_partitioning=true" if hive else ""
                return con.sql(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet'{opt})"
                               ).fetchone()[0]

            got = {
                "silver_rows": count(f"{out}/silver"),
                "quarantine_rows": count(f"{out}/quarantine"),
                "directory_rows": count(f"{out}/gold/institutions_directory_by_type", True),
                "fact_rows": count(f"{out}/gold/assets_deposits_by_state", True),
                "pivot_rows": count(f"{out}/gold/quarterly_assets_table"),
                "pivot2_rows": count(f"{out}/gold/quarterly_deposits_table"),
            }
        finally:
            con.close()
        want = {"silver_rows": facts["silver_rows"], "quarantine_rows": facts["quarantine_rows"],
                "directory_rows": facts["directory_rows"], "fact_rows": facts["silver_rows"],
                "pivot_rows": facts["pivot_rows"], "pivot2_rows": facts["pivot_rows"]}
        bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        if bad:
            run.fail(etl_op, "etl", f"row counts (got, want): {bad}")
        files_n, size = _tree_size(f"{out}/gold")
        run.note("gold_files", files_n)
        run.note("gold_mb", size / 1e6)
        if ctx.tracer is not None and got["quarantine_rows"] is not None:
            ctx.tracer.quarantine_rows += got["quarantine_rows"]


def _tree_size(path: str) -> tuple[int, int]:
    """Parquet files under ``path`` and their total bytes."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# ---------------------------------------------------------------------------
# curation_release
# ---------------------------------------------------------------------------


class CurationRelease:
    name = "curation_release"
    why = ("training-data flagship, cold: q49 curation funnel then q333 release over a "
           "90% sample of 556 docs; text, dedup, sampling, caches, lanes. "
           "1 client, closed loop, local[nproc]")
    sizes = {"documents": 500, "embeddings": 500, "sample": 0.9}

    def prepare(self, ctx: Ctx) -> dict:
        s = self.sizes
        rng = np.random.default_rng([ctx.seed, 5])
        return gen.corpus(os.path.join(ctx.work, "corpus"), rng, s["documents"],
                          s["embeddings"], keep_frac=s["sample"])

    def run_pass(self, ctx: Ctx, run: Run, n: int) -> None:
        data = os.path.join(ctx.work, "corpus")
        ctx.build_session(run)
        t0 = time.perf_counter()
        sampling = 0.0
        results = []
        for name in CURATION_QUERIES:
            results.append((name,) + _run_query(ctx, run, name, data))
            sampling += _sample_cache(ctx, run)
        run.pass_s.append(time.perf_counter() - t0 - sampling)
        _check_queries(ctx, run, results, data)
        ctx.stop_session()


def _check_queries(ctx: Ctx, run: Run, results: list, data_dir: str) -> None:
    """Compare each query's collected rows with its DuckDB oracle. The
    Spark jobs this fires run under their own job group, so a trace does
    not count them as unattributed."""
    oracle = ctx.oracle(data_dir)
    sc = ctx.spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", CHECK_GROUP)
    try:
        for name, op, rows, schema, sql in results:
            if rows is None:
                continue
            if sql is None:
                run.fail(op, name, "no oracle to check against")
                continue
            problems = oracle.compare(ctx.spark, name, sql, schema, rows)
            if problems:
                run.fail(op, name, "; ".join(problems))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


WORKLOADS = {w.name: w for w in (MedallionEtl(), CurationRelease())}
