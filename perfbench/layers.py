"""Per-layer instrumentation, read from outside the program.

Three sources, none of which changes the code under test:
  * ``Tracer``: in-memory spans (name, start, end, parent, run id) recorded
    by the benchmark around its calls into each layer's public functions;
  * ``PlanCapture``: a QueryExecutionListener registered through py4j that
    keeps every finished QueryExecution, so the benchmark can walk the final
    AQE plan (AdaptiveSparkPlanExec -> query stages -> children) and read
    Spark's own SQL metrics after each action, writes included;
  * ``job_stats``: the status store's job and stage records for one job
    group (stages, tasks, skipped stages, shuffle and spill bytes).
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

#: SQL metrics read from the plan, by node name
_MAP_IN_ARROW = "MapInArrow"
_EXCHANGE = "Exchange"
_HASH_AGG = "HashAggregate"


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "run": self.run_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()


def wait_for_listeners(spark, timeout_ms: int = 30_000) -> None:
    """Block until the listener bus has delivered every pending event, so
    the status store and the QueryExecution listeners are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class PlanCapture:
    """QueryExecutionListener (a py4j callback) that keeps each finished
    QueryExecution until ``drain`` hands them out."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._qes: list = []
        self._registered = False

    # -- QueryExecutionListener, called on the listener bus thread ---------
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def start(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self)
        self._registered = True

    def stop(self) -> None:
        if self._registered:
            self.spark._jsparkSession.listenerManager().unregister(self)
            self._registered = False

    def drain(self) -> list:
        wait_for_listeners(self.spark)
        qes, self._qes = self._qes, []
        return qes


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_nodes(qe) -> list[dict]:
    """Every node of the executed plan with its SQL metric values. Shuffle
    query stages also carry ``reducer_bytes``: the map output size of each
    reduce partition, from the stage's MapOutputStatistics."""
    out: list[dict] = []
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        rec = {"name": node.nodeName(), "metrics": metrics}
        if node.getClass().getSimpleName() == "ShuffleQueryStageExec":
            stats = node.mapStats()
            if stats.isDefined():
                rec["reducer_bytes"] = list(stats.get().bytesByPartitionId())
        out.append(rec)
        stack.extend(_children(node))
    return out


def summarize_plans(nodes: list[dict]) -> dict:
    """Node counts and summed metrics over the plans of one timed unit."""
    counts = Counter(n["name"] for n in nodes)
    sums: Counter = Counter()
    max_reducer = 0
    for n in nodes:
        for k, v in n["metrics"].items():
            sums[f"{n['name']}.{k}"] += v
        if n.get("reducer_bytes"):
            max_reducer = max(max_reducer, max(n["reducer_bytes"]))
    return {
        "scan_files_bytes": sum(n["metrics"].get("filesSize", 0) for n in nodes
                                if n["name"].startswith("Scan")),
        "map_in_arrow_nodes": counts[_MAP_IN_ARROW],
        "exchanges": counts[_EXCHANGE],
        "hash_aggregates": counts[_HASH_AGG],
        "max_reducer_bytes": max_reducer,
        "node_counts": dict(counts),
        "metric_sums": dict(sums),
    }


def job_stats(spark, group: str) -> dict:
    """Status-store totals over the jobs of one job group.

    A stage is skipped when its shuffle output already exists. Under AQE
    that is normal inside one unit: each query stage runs as its own job and
    the next job lists it again as skipped. A job that skips more stages
    than the unit's earlier jobs completed read shuffle files that an
    earlier action left behind; those stages count as ``reused_stages``."""
    wait_for_listeners(spark)
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = Counter()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        skipped = job.numSkippedStages()
        out["reused_stages"] += max(0, skipped - out["stages"])
        out["jobs"] += 1
        out["stages"] += job.numCompletedStages()
        out["skipped_stages"] += skipped
        out["tasks"] += job.numCompletedTasks()
        ids = job.stageIds()
        for i in range(ids.size()):
            # stageData(id, details, taskStatus, withSummaries, quantiles)
            attempts = store.stageData(ids.apply(i), False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() != "COMPLETE":
                    continue
                out["max_stage_tasks"] = max(out["max_stage_tasks"], st.numTasks())
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                out["executor_cpu_ns"] += st.executorCpuTime()
    return dict(out)
