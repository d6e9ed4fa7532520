"""Spark's own per-operator metrics, read from a finished query's plan.

After an action, ``df._jdf.queryExecution().executedPlan()`` is the
``AdaptiveSparkPlanExec`` whose final plan holds every operator's SQL
metrics; query stages (``ShuffleQueryStageExec``, ``BroadcastQueryStageExec``,
``ResultQueryStageExec``) wrap their sub-plans. :func:`walk` flattens that
tree through the wrappers. Metric values are converted to base units:
seconds for ``timing``/``nsTiming``, bytes for ``size``.
"""

from __future__ import annotations

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids, it = [], node.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def walk(plan) -> list[dict]:
    """Pre-order list of ``{"node", "depth", "metrics"}`` for a JVM plan."""
    out, stack = [], [(plan, 0)]
    while stack:
        node, depth = stack.pop()
        metrics, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = m.value() * _SCALE.get(m.metricType(), 1)
        out.append({"node": node.getClass().getSimpleName(), "depth": depth,
                    "metrics": metrics})
        stack.extend((c, depth + 1) for c in reversed(_children(node)))
    return out


def of(df) -> list[dict]:
    """Operator metrics of ``df``'s last execution (call after collect)."""
    return walk(df._jdf.queryExecution().executedPlan())


def total(nodes: list[dict], metric: str, node: str | None = None) -> float:
    """Sum of ``metric`` over all operators (or those named ``node``)."""
    return float(sum(n["metrics"].get(metric, 0) for n in nodes
                     if node is None or n["node"] == node))


def first(nodes: list[dict], metric: str, node: str) -> float | None:
    """``metric`` of the first (outermost) operator named ``node``."""
    for n in nodes:
        if n["node"] == node and metric in n["metrics"]:
            return float(n["metrics"][metric])
    return None


def slowest_stage_skew(spark, job_group: str) -> float:
    """Slowest / median task duration of the job group's busiest stage
    (largest summed task time), from the application status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    best, skew = -1.0, 0.0
    for job in tracker.getJobIdsForGroup(job_group):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            tasks, it = [], store.taskList(sid, 0, 100000).iterator()
            while it.hasNext():
                d = it.next().duration()
                if d.isDefined():
                    tasks.append(float(d.get()))
            if len(tasks) < 2:
                continue
            tasks.sort()
            med = tasks[len(tasks) // 2]
            if sum(tasks) > best and med > 0:
                best, skew = sum(tasks), tasks[-1] / med
    return skew
