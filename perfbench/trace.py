"""Layer tracing from outside the engine.

The tracer wraps the public functions of each engine layer (the module
names below), including the names other modules bound at import time
(``from ..operators.dedup import ...``). Each wrapper records a span
(name, start, end, parent, pass id) and, when the layer changes, sets a
Spark job group for the span's duration and restores the outer group when
the span ends. After a pass, jobs and stages are read from the Spark
status store (which works with ``spark.ui.enabled=false``) and charged to
the span whose job group they ran under. Tracing adds no plan nodes.

Counters per layer: ``calls``, ``self_ms`` (span time minus child spans),
``jobs``, ``tasks``, ``executor_ms`` and ``shuffle_bytes`` -- the last four
count only the jobs that ran while that layer's span was the innermost.
Lazy operators therefore show their eager work only; their deferred work
lands on the span whose action ran it (usually ``queries`` or ``sinks``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import re
import sys
import threading
import time

PKG = "bankcreditunion_datapipeline_spark"

#: layer name -> engine modules whose public functions make up the layer
LAYERS: dict[str, tuple[str, ...]] = {
    "queries": (),  # spans opened by the benchmark around registry entries
    "plans.medallion": ("plans.medallion",),
    "plans.curation": ("plans.curation",),
    "plans.release": ("plans.release",),
    "sources": ("sources.files", "sources.rest", "sources.archives"),
    "operators.clean": ("operators.clean",),
    "operators.conform": ("operators.conform",),
    "operators.analytics": ("operators.analytics",),
    "operators.text": ("operators.text",),
    "operators.dedup": ("operators.dedup",),
    "operators.sampling": ("operators.sampling",),
    "operators.similarity": ("operators.similarity",),
    "operators.graph": ("operators.graph",),
    "sinks": ("sinks",),
}
LAYER_COUNTERS = (
    ("calls", "count"),
    ("self_ms", "ms"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_ms", "ms"),
    ("shuffle_bytes", "bytes"),
)
#: counters that belong to one layer, or to the plan or the trace itself
EXTRA_COUNTERS = (
    ("session.build_ms", "ms"),
    ("sources.bytes_read", "bytes"),
    ("sources.rows_read", "count"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("operators.clean.quarantine_rows", "count"),
    ("queries.stages", "count"),
    ("queries.driver_gap_ms", "ms"),
    ("queries.spill_bytes", "bytes"),
    ("queries.gc_ms", "ms"),
    ("caching.transients_peak", "count"),
    ("caching.storage_peak_bytes", "bytes"),
    ("caching.lanes_built", "count"),
    ("plan.exchanges", "count"),
    ("plan.map_in_pandas", "count"),
    ("plan.in_memory_scans", "count"),
    ("unattributed.jobs", "count"),
    ("trace.overhead_s", "s"),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS}
    out.update(EXTRA_COUNTERS)
    return out


_GROUP_KEY = "spark.jobGroup.id"
_NOT_SET = object()  # begin() left the job group alone


class Tracer:
    """Spans in memory, job groups on the Spark thread, counters after a pass."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [id, layer, name, parent, start, end, pass]
        self.pass_id = 0
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.transients_peak = 0
        self.storage_peak_bytes = 0
        self.lanes_built = 0
        self.quarantine_rows = 0
        self.files_written = 0

    # ---- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str) -> tuple[int, object]:
        from pyspark import SparkContext

        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = len(self.spans)
        self.spans.append([sid, layer, name, parent, time.time(), None, self.pass_id])
        stack.append(sid)
        sc = SparkContext._active_spark_context
        outer = _NOT_SET
        if sc is not None and (parent is None or self.spans[parent][1] != layer):
            outer = sc.getLocalProperty(_GROUP_KEY)
            sc.setLocalProperty(_GROUP_KEY, f"pb{self.pass_id}-{sid}")
        return sid, outer

    def end(self, sid: int, outer: object) -> None:
        from pyspark import SparkContext

        self.spans[sid][5] = time.time()
        self._stack().pop()
        if outer is not _NOT_SET:
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.setLocalProperty(_GROUP_KEY, outer)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sid, outer = self.begin(layer, name)
        try:
            yield
        finally:
            self.end(sid, outer)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    # ---- installing wrappers -------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of every layer module and rebind each
        name, in every loaded engine module, that refers to one of them."""
        wrapped: dict[object, object] = {}
        for layer, mods in LAYERS.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for attr, fn in list(vars(mod).items()):
                    if (attr.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod.__name__):
                        continue
                    wrapped[fn] = self.wrap(layer, f"{short}.{attr}", fn)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])
                    self._undo.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()

    # ---- samples taken between ops ---------------------------------------

    def sample_cache(self, spark) -> None:
        from bankcreditunion_datapipeline_spark import caching

        self.transients_peak = max(self.transients_peak, len(caching.TRANSIENTS))
        self.storage_peak_bytes = max(self.storage_peak_bytes, storage_bytes(spark))


def storage_bytes(spark) -> int:
    """Block-manager storage in use (memory + disk) across cached RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


# ---------------------------------------------------------------------------
# Status-store readout
# ---------------------------------------------------------------------------


def _mapper(spark):
    jvm = spark.sparkContext._jvm
    m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return m


def status_snapshot(spark) -> dict:
    """Jobs, stages and SQL execution plans of the current SparkContext,
    read from the status store as JSON (one JVM round trip each)."""
    m = _mapper(spark)
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = json.loads(m.writeValueAsString(store.jobsList(None)))
    stages = json.loads(m.writeValueAsString(
        store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)))
    sql_store = spark._jsparkSession.sharedState().statusStore()
    execs = sql_store.executionsList()
    rows = [execs.apply(i) for i in range(execs.size())]
    return {"jobs": jobs, "stages": stages,
            "plans": [(e.submissionTime() / 1000.0, e.physicalPlanDescription()) for e in rows]}


#: a plan tree line: tree-drawing prefix, optional codegen stage "(n)", node name
_NODE = re.compile(r"^[\s:+\-|*]*(?:\(\d+\)\s*)?([A-Za-z]+)")


def plan_counts(plans: list[tuple[float, str]], window: tuple[float, float]) -> dict[str, int]:
    """Exchange / Python-Arrow boundary / in-memory scan node counts over
    the final physical plans (AQE's "Final Plan" section when present) of
    the SQL executions submitted inside ``window``."""
    ex = mip = ims = 0
    for submitted, text in plans:
        if not window[0] <= submitted <= window[1]:
            continue
        tree = text.split("\n\n", 1)[0]
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        for line in tree.splitlines():
            mt = _NODE.match(line)
            if not mt:
                continue
            node = mt.group(1)
            if node in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
                ex += 1
            elif node in ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                          "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                          "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow"):
                mip += 1
            elif node == "InMemoryTableScan":
                ims += 1
    return {"plan.exchanges": ex, "plan.map_in_pandas": mip, "plan.in_memory_scans": ims}


def attribute(tracer: Tracer, snap: dict, window: tuple[float, float],
              ignore_prefix: str = "perfbench-") -> dict[str, float]:
    """Charge the jobs submitted inside ``window`` (one traced pass) to the
    spans whose job group they ran under, and return the counter totals.
    A job with no span's group counts as unattributed, except jobs whose
    group starts with ``ignore_prefix`` (the benchmark's own set-up probes
    and output checks)."""
    spans = tracer.spans
    layer_of = {s[0]: s[1] for s in spans}

    def query_of(sid):
        while sid is not None:
            if spans[sid][1] == "queries":
                return sid
            sid = spans[sid][3]
        return None

    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    def inside(ms):
        return ms is not None and window[0] <= ms / 1000.0 <= window[1]

    stage_rows: dict[int, list[dict]] = {}
    for st in snap["stages"]:
        if st.get("status") in ("COMPLETE", "FAILED") and inside(st.get("submissionTime")):
            stage_rows.setdefault(st["stageId"], []).append(st)
    jobs = sorted((j for j in snap["jobs"] if inside(j.get("submissionTime"))),
                  key=lambda j: j["jobId"])
    claimed: set[int] = set()
    q_intervals: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if group.startswith(ignore_prefix):
            continue
        sid = None
        if group.startswith(f"pb{tracer.pass_id}-"):
            sid = int(group.split("-", 1)[1])
        if sid is None:
            add("unattributed.jobs", 1)
            continue
        layer = layer_of[sid]
        qid = query_of(sid)
        add(f"{layer}.jobs", 1)
        t0 = (j.get("submissionTime") or 0) / 1000.0
        t1 = (j.get("completionTime") or 0) / 1000.0 or t0
        if qid is not None:
            q_intervals.setdefault(qid, []).append((t0, t1))
        for stage_id in j.get("stageIds", []):
            if stage_id in claimed or stage_id not in stage_rows:
                continue
            claimed.add(stage_id)
            for st in stage_rows[stage_id]:
                add(f"{layer}.tasks", st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0))
                add(f"{layer}.executor_ms", st.get("executorRunTime", 0))
                add(f"{layer}.shuffle_bytes",
                    st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0))
                if layer == "sinks":
                    add("sinks.bytes_written", st.get("outputBytes", 0))
                if qid is not None:
                    add("queries.stages", 1)
                    add("queries.spill_bytes",
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0))
                    add("queries.gc_ms", st.get("jvmGcTime", 0))
    for stage_id in claimed:
        for st in stage_rows[stage_id]:
            add("sources.bytes_read", st.get("inputBytes", 0))
            add("sources.rows_read", st.get("inputRecords", 0))
    for qid in (s[0] for s in spans if s[1] == "queries" and s[6] == tracer.pass_id):
        iv = q_intervals.get(qid, [])
        s0, s1 = spans[qid][4], spans[qid][5] or spans[qid][4]
        covered, cur0, cur1 = 0.0, None, None
        for a, b in sorted((max(a, s0), min(b, s1)) for a, b in iv):
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        add("queries.driver_gap_ms", 1000.0 * max(0.0, (s1 - s0) - covered))
    return out


def span_totals(tracer: Tracer, pass_id: int) -> dict[str, float]:
    """calls and self_ms per layer for the spans of one pass."""
    spans = [s for s in tracer.spans if s[6] == pass_id and s[5] is not None]
    child_ms: dict[int, float] = {}
    for s in spans:
        if s[3] is not None:
            child_ms[s[3]] = child_ms.get(s[3], 0.0) + 1000.0 * (s[5] - s[4])
    out: dict[str, float] = {}
    for s in spans:
        out[f"{s[1]}.calls"] = out.get(f"{s[1]}.calls", 0) + 1
        own = 1000.0 * (s[5] - s[4]) - child_ms.get(s[0], 0.0)
        out[f"{s[1]}.self_ms"] = out.get(f"{s[1]}.self_ms", 0.0) + own
    return out


def dump_spans(tracer: Tracer, path: str) -> None:
    """Write the in-memory spans as JSON lines (at exit)."""
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({"id": s[0], "layer": s[1], "name": s[2], "parent": s[3],
                                "start": s[4], "end": s[5], "pass": s[6]}) + "\n")
