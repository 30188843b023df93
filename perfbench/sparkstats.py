"""Spark's own accounting, read from outside the engine.

Every batch call the benchmark makes into the engine runs under its own
job group. Afterwards the status tracker maps the group to its jobs and stages,
and the status store's stage list gives each stage's task metrics. The
stage list is read with an empty quantile array: ``null`` makes it throw.
SQL metrics come from a walk over an executed plan.
"""

from __future__ import annotations

STAGE_FIELDS = {
    # metric key: (StageData accessor, scale to the reported unit)
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_records": ("shuffleWriteRecords", 1),
    "mem_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "scan_bytes": ("inputBytes", 1),
    "scan_rows": ("inputRecords", 1),
}


class SparkStats:
    """Reads job-group accounting for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _drain_listener(self) -> None:
        # the status store is filled by the listener bus, asynchronously
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def groups(self, groups: list[str]) -> dict[str, dict]:
        """Totals per job group: jobs, stages and summed stage metrics."""
        self._drain_listener()
        tracker = self.sc.statusTracker()
        stage_of: dict[int, str] = {}
        out: dict[str, dict] = {}
        for g in groups:
            jobs = tracker.getJobIdsForGroup(g)
            rec = {"jobs": len(jobs), "stages": 0}
            rec.update({k: 0.0 for k in STAGE_FIELDS})
            out[g] = rec
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    for s in info.stageIds:
                        stage_of[int(s)] = g
        if not stage_of:
            return out
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        empty = self.jvm.java.util.ArrayList()
        stages = self.jsc.statusStore().stageList(empty, False, False, quantiles, empty)
        for i in range(stages.size()):
            sd = stages.apply(i)
            g = stage_of.get(sd.stageId())
            if g is None or sd.status().toString() == "SKIPPED":
                continue
            rec = out[g]
            rec["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                rec[key] += getattr(sd, getter)() * scale
        return out


def plan_metrics(plan, jvm) -> dict[str, float]:
    """Sum every SQL metric of an executed (non-adaptive, e.g. streaming)
    plan by metric name. Timing metrics are returned in seconds."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[str, float] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        metrics = conv.asJava(node.metrics())
        for name in metrics.keySet():
            m = metrics.get(name)
            kind = m.metricType()
            scale = 1e-3 if kind == "timing" else 1e-9 if kind == "nsTiming" else 1
            out[name] = out.get(name, 0.0) + m.value() * scale
        todo.extend(conv.asJava(node.children()))
    return out
