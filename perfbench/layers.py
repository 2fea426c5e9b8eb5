"""Per-layer readings for the traced run, taken from outside the engine.

``Tracer`` times the calls into each layer without editing the engine:

- it wraps module attributes that callers look up at call time
  (``sql.frontend.presto_to_spark_sql``, ``catalog.load_table``) in every
  loaded engine module that holds them, and ``SparkSession.sql``, whose
  returned DataFrames carry their eager analysis time;
- it registers a ``QueryExecutionListener``, because the noop write plans
  in a QueryExecution of its own: that is where the optimization and
  planning times, the executed plan and its SQLMetrics live;
- it attributes Spark jobs to the builder or the write by job id (the
  client runs one query at a time, so ids are sequential per phase) and
  reads their stages from the status store, which works with the UI off;
- it walks the executed plan, including the plans that built the cached
  relations the query read, for operator counts and SQLMetrics.

``close()`` removes everything it installed.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import DataFrame, SparkSession

from presto_0_235_spark import plans

# Metric names of the SQLMetrics summed into op.* and their scale to seconds
# (Spark's "timing" metrics are milliseconds, "nsTiming" nanoseconds).
OP_METRICS = {
    "scanTime": ("op.scan_time_s", 1e-3),
    "aggTime": ("op.agg_time_s", 1e-3),
    "sortTime": ("op.sort_time_s", 1e-3),
    "shuffleWriteTime": ("op.shuffle_write_time_s", 1e-9),
}


def plan_counts(node_names: list[str]) -> dict[str, int]:
    """Plan fingerprint: operator counts of an executed physical plan."""
    def count(*prefixes: str) -> int:
        return sum(1 for n in node_names if n.startswith(prefixes))

    return {
        "plan.scans": count("Scan ", "BatchScan"),
        "plan.exchanges": sum(1 for n in node_names if n == "Exchange"),
        "plan.inmemory_scans": count("InMemoryTableScan"),
        "plan.python_evals": count("BatchEvalPython", "ArrowEvalPython"),
        "plan.broadcasts": count("BroadcastExchange"),
    }


class _Timed:
    """Callable wrapper that sums the wall time of outermost calls."""

    def __init__(self, fn):
        self.fn = fn
        self.seconds = 0.0
        self.calls = 0
        self._depth = 0

    def __call__(self, *args, **kwargs):
        if self._depth:
            return self.fn(*args, **kwargs)
        self._depth += 1
        t0 = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls += 1
            self._depth -= 1


class _Listener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self):
        self.executions: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    """Catalyst phase durations (seconds) recorded by a QueryExecution."""
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


class Tracer:
    """Installs the layer probes on one session; one query at a time."""

    def __init__(self, spark: SparkSession):
        from pyspark.java_gateway import ensure_callback_server_started

        from presto_0_235_spark import catalog
        from presto_0_235_spark.sql import frontend

        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.translate = _Timed(frontend.presto_to_spark_sql)
        self.load_table = _Timed(catalog.load_table)
        self._patched: list[tuple[object, str, object]] = []
        self._patch_modules("presto_to_spark_sql", self.translate)
        self._patch_modules("load_table", self.load_table)

        self._sql_analysis: dict[int, float] = {}
        original_sql = SparkSession.sql

        def traced_sql(session, *args, **kwargs):
            df = original_sql(session, *args, **kwargs)
            qe = df._jdf.queryExecution()
            self._sql_analysis[qe.hashCode()] = _phases(qe).get("analysis", 0)
            return df

        self._patched.append((SparkSession, "sql", original_sql))
        SparkSession.sql = traced_sql

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _Listener()
        self._listeners = spark._jsparkSession.listenerManager()
        self._listeners.register(self._listener)

    def _patch_modules(self, name: str, wrapper: _Timed) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith("presto_0_235_spark") and mod is not None
                    and getattr(mod, name, None) is wrapper.fn):
                self._patched.append((mod, name, wrapper.fn))
                setattr(mod, name, wrapper)

    def close(self) -> None:
        for owner, name, original in reversed(self._patched):
            setattr(owner, name, original)
        self._patched.clear()
        self._listeners.unregister(self._listener)

    # -- one query ------------------------------------------------------

    def _drain(self) -> list:
        """Wait for the listener bus, then take the executions it saw."""
        self._jsc.listenerBus().waitUntilEmpty()
        seen, self._listener.executions = self._listener.executions, []
        return seen

    def _gc_s(self) -> float:
        return self._store.executorSummary("driver").totalGCTime() / 1e3

    def _jobs_submitted(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def run(self, build, write) -> dict[str, float]:
        """Run ``write(build())`` with probes; return the layer readings.

        ``queries.build_s`` is the builder's self time: its wall time less
        the front-door translation, table loads and Catalyst phases that
        ran inside it. Catalyst times sum the phases of every
        QueryExecution the query ran plus the eager analysis of the
        DataFrames it built with ``spark.sql`` (and of the one it returned).
        """
        self._drain()
        self._sql_analysis.clear()
        tr0, tr_calls0 = self.translate.seconds, self.translate.calls
        lt0, lt_calls0 = self.load_table.seconds, self.load_table.calls

        jobs0 = self._jobs_submitted()
        t0 = time.perf_counter()
        df: DataFrame = build()
        build_wall = time.perf_counter() - t0
        build_qes = self._drain()
        jobs1 = self._jobs_submitted()
        translate = self.translate.seconds - tr0
        load_table = self.load_table.seconds - lt0

        final_qe = df._jdf.queryExecution()
        analysis = sum(self._sql_analysis.values())
        if final_qe.hashCode() not in self._sql_analysis:
            analysis += _phases(final_qe).get("analysis", 0)
        build_phases = [_phases(qe) for qe in build_qes]
        build_catalyst = analysis + sum(sum(p.values()) for p in build_phases)

        gc0 = self._gc_s()
        t0 = time.perf_counter()
        write(df)
        exec_wall = time.perf_counter() - t0
        exec_qes = self._drain()
        gc = self._gc_s() - gc0
        jobs2 = self._jobs_submitted()

        rec: dict[str, float] = {
            "frontend.translate_s": translate,
            "frontend.calls": self.translate.calls - tr_calls0,
            "catalog.load_table_s": load_table,
            "catalog.load_table_calls": self.load_table.calls - lt_calls0,
            "queries.build_s": max(
                build_wall - translate - load_table - build_catalyst, 0.0),
            "queries.build_jobs": jobs1 - jobs0,
            "exec.wall_s": exec_wall,
            "exec.gc_s": gc,
        }
        phases = build_phases + [_phases(qe) for qe in exec_qes]
        rec["catalyst.analysis_s"] = analysis + sum(
            p.get("analysis", 0) for p in phases)
        rec["catalyst.optimization_s"] = sum(
            p.get("optimization", 0) for p in phases)
        rec["catalyst.planning_s"] = sum(p.get("planning", 0) for p in phases)
        rec.update(self._stages(range(jobs1, jobs2)))
        rec.update(self._plan(exec_qes[-1] if exec_qes else None))
        return rec

    def _stages(self, jobs: range) -> dict[str, float]:
        """Sum the completed stages of the given jobs."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys((
            "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
            "exec.input_rows", "exec.input_bytes", "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes", "exec.spill_bytes"), 0.0)
        out["exec.jobs"] = len(jobs)
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            out["exec.task_run_s"] += st.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.input_rows"] += st.inputRecords()
            out["exec.input_bytes"] += st.inputBytes()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.diskBytesSpilled()
        return out

    def _plan(self, qe) -> dict[str, float]:
        """Fingerprint and operator metrics of the plan the write ran."""
        nodes: list[str] = []
        out: dict[str, float] = {name: 0.0 for name, _ in OP_METRICS.values()}
        if qe is not None:
            _walk(qe.executedPlan(), nodes, out, set())
        out.update(plan_counts(nodes))
        return out


def _walk(node, nodes: list, ops: dict, cached: set) -> None:
    """Preorder walk of an executed plan: collect operator names and sum
    OP_METRICS. AQE wrappers and query stages are unwrapped (as in
    presto_0_235_spark.plans); each cached relation read is entered once,
    through the plan that built it during this query."""
    name = node.nodeName()
    if name in plans._WRAPPERS or name.endswith("QueryStage"):
        inner = plans._unwrap(node)
        if inner is not None:
            _walk(inner, nodes, ops, cached)
            return
    nodes.append(name)
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in OP_METRICS:
            metric, scale = OP_METRICS[kv._1()]
            ops[metric] += kv._2().value() * scale
    if name == "InMemoryTableScan":
        builder = node.relation().cacheBuilder()
        if builder.hashCode() not in cached:
            cached.add(builder.hashCode())
            _walk(builder.cachedPlan(), nodes, ops, cached)
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), nodes, ops, cached)
