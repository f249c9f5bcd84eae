"""Spans around the benchmark's calls into each layer, and the harvest
of the Spark jobs each span launched.

A span is opened around one call into a layer's public function. When a
``Tracer`` is active, each span also sets a Spark job group, so after the
run the status store can say which jobs, stages and tasks the call cost.
Spans stay in memory until ``Tracer.harvest``, which runs outside every
timer. A disabled tracer records nothing and sets no job group: that is
the untraced run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Calls that launch Spark jobs: their spans get the executor-side metrics.
EAGER = (
    "pipelines.daily.daily_upload_job",
    "sinks.ring.write_sstables",
    "sources.sstable_source.read_sstables",
    "operators.analytics.group_count_topk",
    "operators.analytics.per_partition_limit",
    "operators.analytics.keyset_page",
    "operators.analytics.prefix_lookup",
    "pipelines.corpus.build_training_corpus",
    "queries.build",
    "queries.exec",
)
STAGE_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "python_stages",
    "failed_tasks",
)
_PYTHON_NODE = re.compile(r"Python|Pandas|MapInArrow")
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None


@dataclass
class Tracer:
    """Collects spans while ``enabled``; ``spark`` is the session whose
    status store the eager spans' job groups are read from."""

    enabled: bool = False
    spark: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent)
        self.spans.append(sp)
        if name in EAGER:
            sc = self.spark.sparkContext
            sp.group = f"span-{idx}"
            sc.setJobGroup(sp.group, name)
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.group:
                sc = self.spark.sparkContext
                outer = self.spans[self._stack[-1]] if self._stack else None
                if outer is not None and outer.group:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def harvest(self) -> dict[str, dict[str, float]]:
        """Per-function totals: calls, wall_s and self_s for every span,
        plus the stage metrics of every job in each eager span's group."""
        out: dict[str, dict[str, float]] = {}
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        stage_cache: dict[int, dict[str, float]] = {}
        for i, sp in enumerate(self.spans):
            row = out.setdefault(sp.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["wall_s"] += sp.end - sp.start
            row["self_s"] += sp.end - sp.start - child_time[i]
            if sp.group is not None:
                for k, v in self._group_metrics(sp.group, stage_cache).items():
                    row[k] = row.get(k, 0) + v
        for name in EAGER:
            if name in out:
                for k in STAGE_METRICS:
                    out[name].setdefault(k, 0)
        return out

    def top_level_s(self, since: float = 0.0) -> float:
        """Time covered by top-level spans that started at ``since`` or later."""
        return sum(sp.end - sp.start for sp in self.spans if sp.parent is None and sp.start >= since)

    def _group_metrics(self, group: str, cache: dict[int, dict[str, float]]) -> dict[str, float]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        m = dict.fromkeys(STAGE_METRICS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            m["jobs"] += 1
            for sid in info.stageIds:
                if sid not in cache:
                    cache[sid] = _stage_metrics(store, sid)
                for k, v in cache[sid].items():
                    m[k] += v
        return m


def _stage_metrics(store, sid: int) -> dict[str, float]:
    sd = store.lastStageAttempt(sid)
    if sd.status().toString() == "SKIPPED":
        return {}
    graph = store.operationGraphForStage(sid)
    return {
        "stages": 1,
        "tasks": sd.numTasks(),
        "executor_run_s": sd.executorRunTime() / 1e3,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
        "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
        "python_stages": int(any(_PYTHON_NODE.search(n) for n in _node_names(graph.rootCluster()))),
        "failed_tasks": sd.numFailedTasks(),
    }


def _node_names(cluster) -> list[str]:
    """RDD and operator-scope names in a stage's operation graph (Scala
    Seqs via py4j); SQL operators such as ``MapInPandas`` name clusters."""
    names = [cluster.name()]
    nodes = cluster.childNodes()
    for i in range(nodes.size()):
        names.append(nodes.apply(i).name())
    subs = cluster.childClusters()
    for i in range(subs.size()):
        names.extend(_node_names(subs.apply(i)))
    return names
