"""Spans and counters for the traced run, recorded from outside the engine.

``Tracer.install`` wraps public functions of the engine's modules at run
time. A function imported by name (``api`` does
``from ...filters import compile_filter``) is wrapped in every module that
holds it, because the caller looks it up in its own module. Spans are kept
in memory; ``Tracer.summary`` reduces them at the end of the run.

Spark work is attributed through a job group that the benchmark sets
around each request or batch phase; its counters come from the JVM status
store, which works with the Spark UI off.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter, defaultdict

SPARK_COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _targets():
    """``(span name, owner, attribute)`` of every wrapped engine entry."""
    # the classic (non-Connect) DataFrame overrides collect
    from pyspark.sql.classic.dataframe import DataFrame

    from vectordb_cloud_spark import filters, pipeline, query_api
    from vectordb_cloud_spark.api import VectorService
    from vectordb_cloud_spark.collections import CollectionCatalog
    from vectordb_cloud_spark.functions import embedding
    from vectordb_cloud_spark.operators import knn

    return [
        ("api", VectorService, "search"),
        ("api", VectorService, "query"),
        ("api", VectorService, "query_batch"),
        ("api.collect", DataFrame, "collect"),
        ("functions.embedding.mock_vector", embedding, "mock_vector"),
        ("filters.compile", filters, "compile_filter"),
        ("operators.knn.search", knn, "knn_search"),
        ("query_api.query_points", query_api, "query_points"),
        ("collections.meta", CollectionCatalog, "meta"),
        ("collections.read_for_user", CollectionCatalog, "read_for_user"),
        ("collections.upsert", CollectionCatalog, "upsert"),
        ("collections.build_ann_index", CollectionCatalog, "build_ann_index"),
        ("collections.search_ann", CollectionCatalog, "search_ann"),
        ("pipeline.construct", pipeline, "curate_corpus"),
    ]


def self_times(spans: list[tuple[str, float, float, int]]) -> list[float]:
    """Self time of each ``(name, start, end, parent index)`` span: its
    duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, start, end, parent in spans:
        if parent >= 0:
            children[parent].append((start, end))
    out = []
    for i, (_, start, end, _) in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(children.get(i, ())):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start) - covered)
    return out


class Tracer:
    """In-memory span recorder. Spans are recorded only between
    ``begin(kind)`` and ``end()``, so set-up work stays out of them."""

    def __init__(self, spark):
        self.spark = spark
        self._group = 0
        self.clear()

    def clear(self) -> None:
        """Forget every span and counter recorded so far (warm-up)."""
        self.spans: list[tuple[str, float, float, int]] = []
        self.span_kind: list[str] = []  # the unit kind each span ran under
        self._stack: list[int] = []
        self._active: str | None = None
        self.units: Counter = Counter()  # requests or phases per kind
        self.spark_totals: dict[str, Counter] = defaultdict(Counter)

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self.span_kind.append(self._active)
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, i: int) -> None:
        name, start, _, parent = self.spans[i]
        self.spans[i] = (name, start, time.perf_counter(), parent)
        self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._active is None:
                return fn(*args, **kwargs)
            i = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(i)

        return traced

    def install(self) -> None:
        """Wrap every target, in every engine module that holds it."""
        for name, owner, attr in _targets():
            orig = getattr(owner, attr)
            wrapped = self.wrap(orig, name)
            if isinstance(owner, type):
                setattr(owner, attr, wrapped)
                continue
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("vectordb_cloud_spark")
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)

    # -- units of work -------------------------------------------------
    def begin(self, kind: str, root: str) -> str:
        """Start one request or batch phase of ``kind``; its Spark jobs
        run under a fresh job group. ``root`` names its outermost span."""
        self._group += 1
        group = f"perfbench-{self._group}"
        self.spark.sparkContext.setJobGroup(group, f"perfbench {kind}")
        self._active = kind
        self.units[kind] += 1
        self._open(root)
        return group

    def end(self, group: str) -> None:
        self._close(self._stack[0])
        kind, self._active = self._active, None
        for k, v in spark_counters(self.spark, group).items():
            self.spark_totals[kind][k] += v

    def summary(self) -> dict:
        """Per unit kind: total self seconds and calls per span name, units
        run, and the Spark counters of their job groups."""
        out: dict = {}
        for (name, *_), kind, st in zip(self.spans, self.span_kind,
                                        self_times(self.spans)):
            k = out.setdefault(kind, {"self_s": Counter(), "calls": Counter()})
            k["self_s"][name] += st
            k["calls"][name] += 1
        for kind, n in self.units.items():
            k = out.setdefault(kind, {"self_s": Counter(), "calls": Counter()})
            k["units"] = n
            k["spark"] = dict(self.spark_totals[kind])
        return out


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, CPU, GC and bytes of every job in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store updates async
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    out["jobs"], out["stages"] = float(len(jobs)), float(len(stage_ids))
    store = jsc.statusStore()
    for sid in stage_ids:
        try:
            d = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: stage evicted
            continue
        out["tasks"] += d.numCompleteTasks()
        out["cpu_s"] += d.executorCpuTime() / 1e9
        out["gc_s"] += d.jvmGcTime() / 1e3
        out["input_bytes"] += d.inputBytes()
        out["shuffle_read_bytes"] += d.shuffleReadBytes()
        out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out
