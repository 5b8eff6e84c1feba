"""Read Spark's own SQL metrics off executed physical plans.

``plan_metrics(df)`` walks the executed plan of a DataFrame after an action
ran on the DataFrame's own query execution (``collect``/``toPandas``; a
``count()`` plans a new query).  ``QueryCapture`` is a py4j
``QueryExecutionListener`` that hands over the query executions of actions
run inside engine functions (``run_resumable``'s writes, ``knn_join``'s
eager rounds), so every action in a span is read the same way.

AQE is unwrapped through ``AdaptiveSparkPlanExec.finalPhysicalPlan`` and
query stages through ``.plan()``; a cached relation's plan is read once per
``seen`` set, since every query that scans the cache shows the same plan.
Values are normalised: timings to seconds, sizes to bytes, the rest as
counts.
"""

from __future__ import annotations

import threading

# the metrics the layer summary uses; everything else stays in the JVM
WANTED = {
    "numOutputRows", "pythonTotalTime", "pythonBootTime", "pythonInitTime",
    "pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived",
    "shuffleBytesWritten", "shuffleRecordsWritten", "spillSize",
    "peakMemory", "scanTime", "dataSize", "buildTime",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_JOINS = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec")


def _metrics(plan) -> dict[str, float]:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        name = kv._1()
        if name in WANTED:
            m = kv._2()
            out[name] = m.value() * _SCALE.get(m.metricType(), 1)
    return out


def walk_plan(plan, seen: set[int] | None = None, jvm=None) -> list[dict]:
    """Per-operator rows ``{"op", "metrics", "cell_join"}`` of a physical
    plan, children after parents."""
    seen = set() if seen is None else seen
    rows: list[dict] = []
    todo = [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its exchange ran, and is counted, where it was built
        row = {"op": cls, "metrics": _metrics(p), "cell_join": False, "fused": False}
        if cls in _JOINS and p.joinType().toString() == "Inner" and (
            "cell_id" in p.leftKeys().toString()
        ):
            # the spatial prefilter is the inner equi-join on the cell key
            # (semi/anti joins on ids, knn retirement, are not).  When the
            # optimizer fused the refine predicate into the join condition,
            # the node counts rows after the refine, not candidates.
            fused = p.condition().isDefined()
            row["cell_join"], row["fused"] = not fused, fused
        rows.append(row)
        if cls == "InMemoryTableScanExec" and jvm is not None:
            cached = p.relation().cachedPlan()
            key = jvm.System.identityHashCode(cached)
            if key not in seen:
                seen.add(key)
                todo.append(cached)
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return rows


def plan_metrics(df) -> list[dict]:
    """Operator metrics of ``df``'s executed plan (call after an action that
    ran on ``df``'s own query execution, such as ``df.collect()``)."""
    qe = df._jdf.queryExecution()
    return walk_plan(qe.executedPlan(), jvm=df.sparkSession._jvm)


class QueryCapture:
    """Collect the query executions Spark finishes inside ``with`` blocks.

    The listener is registered once per session (py4j hands Java a new
    proxy on every call, so it could not be unregistered) and keeps only
    what arrives while active.  Listener calls come on the listener-bus
    thread through py4j's callback server; entering and :meth:`drain`
    first wait until the bus is empty, so every action that returned
    before is accounted to the right block."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._qes: list = []
        self._active = False
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # py4j interface -------------------------------------------------------
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._keep(func_name, qe, duration_ns * 1e-9)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        # a failed query may have no executed plan (the engine probes for
        # a missing manifest and catches the analysis error)
        self._keep(func_name, None, -1.0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # ----------------------------------------------------------------------
    def _keep(self, func_name, qe, duration_s) -> None:
        with self._lock:
            if self._active:
                self._qes.append((func_name, qe, duration_s))

    def _settle(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def __enter__(self) -> "QueryCapture":
        self._settle()
        with self._lock:
            self._active, self._qes = True, []
        return self

    def __exit__(self, *exc) -> None:
        with self._lock:
            self._active, self._qes = False, []

    def drain(self) -> list[dict]:
        """Walk and forget every execution captured so far: one row per
        execution ``{"action", "duration_s", "ops"}``."""
        self._settle()
        with self._lock:
            qes, self._qes = self._qes, []
        seen: set[int] = set()
        jvm = self._spark._jvm
        return [
            {
                "action": name,
                "duration_s": dur,
                "ops": walk_plan(qe.executedPlan(), seen, jvm) if qe is not None else [],
            }
            for name, qe, dur in qes
        ]


def summarize(executions: list[dict]) -> dict[str, float]:
    """Fold operator rows of one span into the per-layer quantities."""
    s: dict[str, float] = {
        k: 0.0
        for k in (
            "map_python_s", "map_to_python_mb", "map_from_python_mb",
            "map_rows_out", "group_python_s", "group_to_python_mb",
            "python_boot_s", "python_init_s", "shuffle_write_mb",
            "shuffle_records", "spill_mb", "peak_mem_mb", "broadcast_mb",
            "broadcast_build_s", "scan_s", "cover_rows", "candidates",
            "fused_joins", "executions",
        )
    }
    mb = 1.0 / (1024 * 1024)
    for ex in executions:
        s["executions"] += 1
        for row in ex["ops"]:
            op, m = row["op"], row["metrics"]
            if op == "MapInPandasExec":
                s["map_python_s"] += m.get("pythonTotalTime", 0)
                s["map_to_python_mb"] += m.get("pythonDataSent", 0) * mb
                s["map_from_python_mb"] += m.get("pythonDataReceived", 0) * mb
                s["map_rows_out"] += m.get("pythonNumRowsReceived", 0)
            elif op == "FlatMapGroupsInPandasExec":
                s["group_python_s"] += m.get("pythonTotalTime", 0)
                s["group_to_python_mb"] += m.get("pythonDataSent", 0) * mb
            s["python_boot_s"] += m.get("pythonBootTime", 0)
            s["python_init_s"] += m.get("pythonInitTime", 0)
            if op == "ShuffleExchangeExec":
                s["shuffle_write_mb"] += m.get("shuffleBytesWritten", 0) * mb
                s["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            if op == "BroadcastExchangeExec":
                s["broadcast_mb"] += m.get("dataSize", 0) * mb
                s["broadcast_build_s"] += m.get("buildTime", 0)
            s["spill_mb"] += m.get("spillSize", 0) * mb
            s["peak_mem_mb"] = max(s["peak_mem_mb"], m.get("peakMemory", 0) * mb)
            s["scan_s"] += m.get("scanTime", 0)
            if op == "GenerateExec":
                s["cover_rows"] += m.get("numOutputRows", 0)
            if row["cell_join"]:
                s["candidates"] += m.get("numOutputRows", 0)
            s["fused_joins"] += row["fused"]
    return s
