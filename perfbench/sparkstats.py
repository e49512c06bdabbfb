"""Spark's own counters, read from outside the engine: the SQL metrics
of an executed physical plan (walking into adaptive query stages), and
per-stage / per-task metrics from the application status store (which
is populated with ``spark.ui.enabled=false``)."""

from __future__ import annotations

import statistics
import uuid


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _metric_value(m) -> float:
    """An SQLMetric in seconds (timings) or bytes (sizes) or a count."""
    v = float(m.value())
    kind = m.metricType()
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def plan_nodes(df) -> list[tuple[str, dict[str, float]]]:
    """(node name, metrics) of every node of ``df``'s executed plan,
    including the final plans of adaptive query stages and reused
    exchanges.  Call after an action on ``df``."""
    root = df._jdf.queryExecution().executedPlan()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        metrics = {t._1(): _metric_value(t._2()) for t in _iter(p.metrics())}
        out.append((p.nodeName(), metrics))
        todo += list(_iter(p.children()))
    return out


def sum_node_metrics(nodes, node_prefix: str) -> dict[str, float]:
    tot: dict[str, float] = {}
    for name, m in nodes:
        if name.startswith(node_prefix):
            for k, v in m.items():
                tot[k] = tot.get(k, 0.0) + v
    return tot


class StageWindow:
    """Tags every job started while it is open with one job group and
    totals the status-store metrics of their stages."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.group = f"perfbench-{uuid.uuid4().hex[:12]}"

    def __enter__(self) -> "StageWindow":
        self.spark.sparkContext.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()

    def stages(self) -> list:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        ids = set()
        for jid in tracker.getJobIdsForGroup(self.group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        out = []
        for sid in sorted(ids):
            try:
                out.append(store.lastStageAttempt(sid))
            except Exception:       # noqa: BLE001 - never submitted
                pass
        return out

    def totals(self) -> dict:
        """Status-store totals over the window's completed stages, plus
        the task-time spread of its heaviest stage."""
        stages = [s for s in self.stages()
                  if s.status().toString() == "COMPLETE"]
        mb = 2 ** 20
        out = {
            "stages": len(stages),
            "executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "input_mb": sum(s.inputBytes() for s in stages) / mb,
            "output_mb": sum(s.outputBytes() for s in stages) / mb,
            "task_s_p50": 0.0, "task_s_max": 0.0, "task_skew": 0.0,
        }
        if stages:
            heavy = max(stages, key=lambda s: s.executorRunTime())
            store = self.spark.sparkContext._jsc.sc().statusStore()
            durs = []
            for t in _iter(store.taskList(heavy.stageId(), heavy.attemptId(),
                                          100000)):
                if t.duration().isDefined():
                    durs.append(t.duration().get() / 1e3)
            if durs:
                p50 = statistics.median(durs)
                out.update(task_s_p50=p50, task_s_max=max(durs),
                           task_skew=max(durs) / p50 if p50 > 0 else 0.0)
        return out
