"""Spans and plan counters for the traced run.

Spark is lazy, so a layer is timed by running a prefix of the job as its
own action: the layer's self time is the difference between consecutive
prefixes. Every action is recorded as a span (name, start, end, parent span,
Spark job ids) and kept in memory until the run ends. After each action the
final adaptive plan is walked for its SQL metrics, and the status tracker
gives the stages and tasks the action ran.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    jobs: list[int]
    stages: int = 0
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def plan_counters(jplan) -> Counter:
    """Sum every SQL metric of a final adaptive plan by ``Node.metric``,
    descending through ``AdaptiveSparkPlanExec`` and ``*QueryStageExec``.
    ``Node.count`` counts the nodes of each class. A reused exchange is
    counted but not descended into: its metrics belong to the original."""
    out: Counter = Counter()
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out[f"{cls}.count"] += 1
        if cls == "ReusedExchangeExec":
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[f"{cls}.{kv._1()}"] += kv._2().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def subplan(df: DataFrame, node_class: str) -> DataFrame:
    """The first ``node_class`` node (``Join``, ``Filter``, ...), depth
    first, of ``df``'s analyzed logical plan, as a DataFrame of its own: a
    prefix action can then run a part of the program's own query rather
    than a copy of it."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == node_class:
            jvm = df.sparkSession._jvm
            return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                df.sparkSession._jsparkSession, node), df.sparkSession)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    raise LookupError(f"no {node_class} in the plan")


def exchanges(span: Span) -> int:
    return sum(int(span.counters.get(f"{c}.count", 0)) for c in EXCHANGES)


class Tracer:
    """Runs actions under a job group each, and records them as spans."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    def _run(self, name: str, parent: str | None, df: DataFrame, action):
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        result = action()
        end = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                sinfo = tracker.getStageInfo(stage)
                if sinfo and sinfo.numCompletedTasks:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        counters = plan_counters(df._jdf.queryExecution().executedPlan())
        span = Span(name, start, end, parent, jobs, stages, tasks,
                    dict(counters))
        self.spans.append(span)
        return result, span

    def materialize(self, name: str, parent: str | None,
                    df: DataFrame) -> tuple[int, Span]:
        """Compute every column of ``df`` in the JVM and count its rows;
        nothing crosses to Python and no column is pruned."""
        qe = df._jdf.queryExecution()
        return self._run(name, parent, df, lambda: qe.toRdd().count())

    def collect(self, name: str, parent: str | None,
                df: DataFrame) -> tuple[list, Span]:
        return self._run(name, parent, df, df.collect)

    def python_seconds(self) -> float:
        """Python time the UDF profiler recorded since the last call."""
        results = self.spark._profiler_collector._perf_profile_results
        total = sum(stats.total_tt for stats in results.values())
        self.spark.profile.clear(type="perf")
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
