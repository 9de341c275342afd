"""Measurement machinery: the fingerprint action, Spark's per-job
counters, and in-memory spans.

Everything here drives the engine from outside; nothing patches it.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Doubles are hashed through a fixed number of significant digits, so a
# legitimate change of summation order (last-ulp noise) keeps the
# fingerprint while any real change of value moves it.
FLOAT_DIGITS = 12


def _needs_canon(dt: T.DataType) -> bool:
    if isinstance(dt, (T.DoubleType, T.FloatType, T.MapType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _needs_canon(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_needs_canon(f.dataType) for f in dt.fields)
    return False


def canonical(c: Column, dt: T.DataType) -> Column:
    """``c`` in a form whose xxhash64 is stable under benign changes:
    floating values as fixed significant digits, maps as key-sorted
    entry arrays (Spark cannot hash maps)."""
    if not _needs_canon(dt):
        return c
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.format_string(f"%.{FLOAT_DIGITS - 1}e", c.cast("double"))
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: canonical(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(*[canonical(c[f.name], f.dataType).alias(f.name)
                          for f in dt.fields])
    entries = F.array_sort(F.map_entries(c))
    return canonical(entries, T.ArrayType(T.StructType([
        T.StructField("key", dt.keyType), T.StructField("value", dt.valueType)])))


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(row count, sum of per-row xxhash64 over every column).

    The action computes every output column, unlike ``count()``, which
    lets Catalyst prune them. The sum is order- and partitioning-free
    and runs in ``decimal(38,0)``, because a ``bigint`` sum overflows
    under ANSI mode."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[canonical(df[f"`{f.name}`"], f.dataType) for f in fields])
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), str(row["s"])


COUNTER_KEYS = ("jobs", "stages", "task_s", "shuffle_write_bytes",
                "spill_bytes", "input_bytes")


class SparkCounters:
    """Jobs, stages and task metrics from Spark's status store, for the
    jobs submitted between two marks. The benchmark is one closed-loop
    caller, so every job in that interval belongs to the call between
    the marks — including micro-batch jobs that a stream runs on its
    own thread, outside the caller's job group."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = spark.sparkContext._gateway
        self._jvm = spark.sparkContext._jvm

    def mark(self) -> int:
        """Highest job id the status store has seen so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest job first
        return jobs.head().jobId() if jobs.size() else -1

    def between(self, lo: int, hi: int) -> dict[str, float]:
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        stage_ids: set[int] = set()
        for job_id in range(lo + 1, hi + 1):
            out["jobs"] += 1
            stages = self._store.job(job_id).stageIds()
            stage_ids.update(stages.apply(i) for i in range(stages.size()))
        no_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, no_tasks, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
        return out


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict | None = None


class Tracer:
    """Spans around each call into a layer, kept in memory and written
    out at the end. Disabled, ``span`` yields ``None`` and records
    nothing, so untraced timings carry no tracing cost beyond a
    generator frame."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, kind: str, counted: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        mark = self.counters.mark() if counted and self.counters else None
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), parent, name, kind, time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if mark is not None:
                sp.counters = self.counters.between(mark, self.counters.mark())

    def self_times(self) -> dict[str, float]:
        """Per span kind: summed duration minus the part covered by the
        span's children."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            own = sp.end - sp.start - child_time.get(sp.id, 0.0)
            out[sp.kind] = out.get(sp.kind, 0.0) + own
        return out

    def records(self) -> list[dict]:
        return [dict(id=s.id, parent=s.parent, name=s.name, kind=s.kind,
                     start=s.start, end=s.end, attrs=s.attrs, counters=s.counters)
                for s in sorted(self.spans, key=lambda s: s.start)]


@dataclass
class Execution:
    """One attempt of one query in one pass."""
    name: str
    pass_name: str
    module: str
    build_s: float
    action_s: float
    result: object = None
    error: str | None = None


def count_failures(executions: list[Execution], expected: dict[str, object]) -> list[Execution]:
    """Executions that raised, or whose result differs from the query's
    verified expected result (a query without one fails every time)."""
    return [e for e in executions
            if e.error is not None or e.name not in expected
            or e.result != expected[e.name]]
