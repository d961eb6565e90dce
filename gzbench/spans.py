"""Timed operations: one span around each public engine call.

Every operation the benchmark times goes through ``Recorder.op``. It
builds the DataFrame, runs one action on it (an order-independent
fingerprint of the whole output, so every output column is computed)
and afterwards, outside the timed interval:

- checks that the executed plan reads no in-memory relation that
  existed before the operation started, except the inputs declared
  persisted (the cache-substitution guard);
- reads the operation's Spark stages from the status store through the
  span's own job group (shuffle bytes and job count always; task time,
  GC time and task count when tracing);
- when tracing, reads the SQL metrics of the executed plan (Python
  worker time, and output rows per node for the yields).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, functions as F


class CheckFailed(Exception):
    """An output check or the cache guard failed."""


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    rows: int = 0
    fingerprint: tuple = ()
    stats: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def fingerprint_df(df: DataFrame, sums: tuple = ()) -> DataFrame:
    """(rows, sum of the low 32 bits of each row's xxhash64, xor of the
    full hashes): independent of row order and partitioning, and the
    32-bit sum cannot overflow below 2**31 rows. ``sums`` adds the sum
    of each named column, for counts a trace reports."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.sum(h.bitwiseAND(0xFFFFFFFF)),
                             F.lit(0)).alias("s"),
                  F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
                  *[F.sum(c).alias(c) for c in sums])


# SQL metric (SparkPlan.metrics key, ms) summed into python_s
_PYTHON_TIME = "pythonTotalTime"


class Recorder:
    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.trace = trace
        self.declared: set[int] = set()
        self.pass_id = 0
        self.started = 0  # operations attempted

    # -- cache guard --------------------------------------------------
    def declare_persisted(self, df: DataFrame) -> None:
        """Persist and materialize ``df`` as a declared input: timed
        plans may read its cached copy."""
        df.persist()
        df.count()
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        cached = cm.lookupCachedData(df._jdf)
        if cached.isEmpty():
            raise CheckFailed("declared input is not cached")
        self.declared.add(self._rdd_id(cached.get().cachedRepresentation()))

    @staticmethod
    def _rdd_id(relation) -> int:
        return relation.cacheBuilder().cachedColumnBuffers().id()

    def _rdd_mark(self) -> int:
        """An RDD id no older cached relation can reach."""
        return self.sc.emptyRDD()._jrdd.id()

    def _nodes(self, jdf):
        """Every physical node of ``jdf``'s executed plan, descending
        into adaptive query stages and reused exchanges."""
        todo = [jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.finalPhysicalPlan())
                continue
            yield cls, node
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            elif cls == "ReusedExchangeExec":
                todo.append(node.child())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))

    def _guard(self, name: str, jdf, mark: int) -> None:
        plan = jdf.queryExecution().executedPlan().toString()
        if "InMemory" not in plan and "TableCache" not in plan:
            return
        for cls, node in self._nodes(jdf):
            if cls != "InMemoryTableScanExec":
                continue
            rid = self._rdd_id(node.relation())
            if rid < mark and rid not in self.declared:
                raise CheckFailed(
                    f"{name}: executed plan reads an in-memory relation "
                    f"(cached RDD {rid}) that is not a declared input")

    # -- stage and plan metrics ---------------------------------------
    def _stage_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        st = {"jobs": len(jobs), "shuffle_mb": 0.0}
        if self.trace:
            st.update(task_s=0.0, gc_s=0.0, tasks=0)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never run
                    continue
                st["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
                if self.trace:
                    st["task_s"] += sd.executorRunTime() / 1000.0
                    st["gc_s"] += sd.jvmGcTime() / 1000.0
                    st["tasks"] += sd.numCompleteTasks()
        return st

    def _plan_stats(self, jdf) -> dict:
        """python_s plus ``rows``: class name -> numOutputRows of each
        node of that class (for the yields)."""
        py_ms, rows = 0, {}
        for cls, node in self._nodes(jdf):
            metrics = node.metrics()
            m = metrics.get(_PYTHON_TIME)
            if m.isDefined():
                py_ms += m.get().value()
            m = metrics.get("numOutputRows")
            if m.isDefined():
                rows.setdefault(cls, []).append(m.get().value())
        return {"python_s": py_ms / 1000.0, "rows": rows}

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def _span(self, name: str):
        """A top-level span of the current pass (the benchmark never
        nests them, so ``parent`` stays None) timed around the body,
        whose Spark jobs run under the span's own job group."""
        self.started += 1
        span = Span(name, self.started, None, self.pass_id, 0.0)
        self.sc.setJobGroup(f"gzbench-{span.span_id}", name)
        try:
            span.start = time.perf_counter()
            yield span
            span.end = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        span.stats = self._stage_stats(f"gzbench-{span.span_id}")

    def op(self, name: str, build, sums: tuple = ()) -> Span:
        """Time ``build()`` (returns a DataFrame) plus its fingerprint
        action as one span."""
        mark = self._rdd_mark()
        with self._span(name) as span:
            df = build()
            fp = fingerprint_df(df, sums)
            row = fp.collect()[0]
        if df.is_cached:
            # an operator that returns its output persisted (knn_join)
            # would otherwise serve the next pass from this cache
            df.unpersist(blocking=True)
        span.rows = int(row["n"])
        span.fingerprint = (int(row["n"]), int(row["s"]), int(row["x"]))
        self._guard(name, fp._jdf, mark)
        span.stats.update({c: int(row[c] or 0) for c in sums})
        if self.trace:
            span.stats.update(self._plan_stats(fp._jdf))
        return span

    def timed(self, name: str, fn) -> Span:
        """A span around ``fn()`` that is not a DataFrame action (a
        write, a resume); ``fn`` returns its output row count."""
        with self._span(name) as span:
            span.rows = int(fn())
        span.fingerprint = (span.rows,)
        return span
