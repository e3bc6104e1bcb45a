"""Per-layer spans for the traced run, recorded from outside the package.

:class:`Tracer` replaces public functions of the engine's modules by
attribute with timing wrappers, so ``aqueduct_core_spark`` itself is
never edited.  Each call becomes a span with a name, a layer, start and
end times, the span that was open on the same thread (its parent) and
the thread.  Spans stay in memory; :meth:`Tracer.dump` writes them out.

Spark work is attributed to spans through job groups: a span that may
launch jobs sets its own group on the calling thread, so each job lands
in the innermost open span, and :meth:`Tracer.spark_by_layer` reads the
jobs' stage metrics back from Spark's status store.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

LAYERS = ("batching", "merge", "catalog", "compact", "pipeline", "stream")

#: the engine functions wrapped in a traced run:
#: (module, owner attribute or None, function, span name, kind, launches Spark jobs)
TARGETS = (
    ("aqueduct_core_spark.operators.batching", None, "plan_triggers_from_files",
     "batching.plan_triggers_from_files", "function", False),
    ("aqueduct_core_spark.streaming.pipeline", None, "plan_triggers",
     "batching.plan_triggers", "function", True),
    ("aqueduct_core_spark.operators.merge", None, "mor_prepare",
     "merge.mor_prepare", "function", True),
    ("aqueduct_core_spark.streaming.pipeline", None, "apply_batch",
     "merge.apply_batch", "function", True),
    ("aqueduct_core_spark.catalog.table", "ParquetTranscriptTable", "write_delta_data",
     "catalog.write_delta_data", "method", True),
    ("aqueduct_core_spark.catalog.table", "ParquetTranscriptTable", "write_bucket_data",
     "catalog.write_bucket_data", "method", True),
    ("aqueduct_core_spark.catalog.table", "ParquetTranscriptTable", "stage_summary",
     "catalog.stage_summary", "static", False),
    ("aqueduct_core_spark.catalog.snapshot", "SnapshotCatalog", "commit",
     "catalog.commit", "method", False),
    ("aqueduct_core_spark.operators.compact", None, "fold_deltas",
     "compact.fold_deltas", "function", True),
    ("aqueduct_core_spark.catalog.table", "ParquetTranscriptTable", "read_internal",
     "catalog.read_internal", "method", True),
    ("aqueduct_core_spark.catalog.table", "ParquetTranscriptTable", "read_conversation_direct",
     "catalog.read_conversation_direct", "method", False),
    ("aqueduct_core_spark.streaming.pipeline", None, "replay",
     "pipeline.replay", "function", True),
    ("aqueduct_core_spark.streaming.pipeline", None, "run_available_now",
     "stream.run_available_now", "function", True),
)


#: spans that wrap a whole drain; their own time is the unattributed gap
CONTAINERS = ("pipeline.replay", "stream.run_available_now")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    thread: int
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def _files_size(root: str, by_bucket: dict) -> tuple[int, int, int]:
    """(files, bytes, rows) of a bucket -> relative-paths write result."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for rels in by_bucket.values():
        for rel in rels:
            path = os.path.join(root, rel)
            files += 1
            nbytes += os.path.getsize(path)
            rows += pq.ParquetFile(path).metadata.num_rows
    return files, nbytes, rows


class Tracer:
    """Span recorder over the engine's public functions."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.changed_since_fold = 0
        self.folds: list[tuple[int, int]] = []  # (rows rewritten, rows changed)
        self.commit_conflicts = 0

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, jobs: bool) -> tuple[Span, object]:
        st = self._stack()
        sp = Span(next(self._ids), name, 0.0, st[-1].id if st else None, threading.get_ident())
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.id}")
        st.append(sp)
        sp.start = time.perf_counter()
        return sp, prev_group

    def close(self, sp: Span, jobs: bool, prev_group) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        if jobs:
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sp.info["jobs"] = True
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        """A span opened by the benchmark itself."""
        sp, prev = self.open(name, jobs)
        try:
            yield sp
        finally:
            self.close(sp, jobs, prev)

    # -- wrapping ----------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, name, kind, jobs in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            raw = owner.__dict__[attr] if owner_name else getattr(owner, attr)
            fn = raw.__func__ if isinstance(raw, staticmethod) else raw
            wrapped = self._wrap(fn, name, jobs)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, staticmethod(wrapped) if kind == "static" else wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    def _wrap(self, fn, name: str, jobs: bool):
        from aqueduct_core_spark.catalog.snapshot import CommitConflict

        tracer = self
        after = getattr(self, "_after_" + name.split(".", 1)[1], None)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp, prev = tracer.open(name, jobs)
            try:
                out = fn(*args, **kwargs)
            except CommitConflict:
                with tracer._lock:
                    tracer.commit_conflicts += 1
                raise
            finally:
                tracer.close(sp, jobs, prev)
            if after is not None:
                after(sp, args, out)
            return out

        return wrapper

    # -- counters gathered after a call returned (outside its span) ------
    def _after_write_delta_data(self, sp, args, out):
        sp.info["files"], sp.info["bytes"], _ = _files_size(args[0].root, out[0])

    def _after_write_bucket_data(self, sp, args, out):
        sp.info["files"], sp.info["bytes"], sp.info["rows"] = _files_size(args[0].root, out)

    def _after_stage_summary(self, sp, args, out):
        with self._lock:
            self.changed_since_fold += sum(int(s["turn_keys"]) for s in out.values())

    def _after_fold_deltas(self, sp, args, out):
        if not out.get("folded"):
            return
        sp.info["folded"] = True
        rewritten = sum(
            c.info.get("rows", 0) for c in self.spans
            if c.parent == sp.id and c.name == "catalog.write_bucket_data"
        )
        with self._lock:
            self.folds.append((rewritten, self.changed_since_fold))
            self.changed_since_fold = 0

    def _after_apply_batch(self, sp, args, out):
        sp.info["applied"] = int(out.get("applied") or 0)
        sp.info["skipped_epoch"] = out.get("state") == "SKIPPED_DUPLICATE_EPOCH"

    def _after_read_internal(self, sp, args, out):
        snap = args[0].catalog.current()
        sp.info["live_deltas"] = sum(len(v) for v in snap.get("delta_files", {}).values())

    def _after_read_conversation_direct(self, sp, args, out):
        from aqueduct_core_spark.catalog.table import bucket_of

        table, conv_id = args[0], args[1]
        snap = table.catalog.current()
        b = str(bucket_of(conv_id, table.num_buckets))
        deltas = len(snap.get("delta_files", {}).get(b, []))
        sp.info["files_opened"] = len(snap["files"].get(b, [])) + deltas
        sp.info["live_deltas"] = deltas

    # -- analysis ------------------------------------------------------------
    def reset(self) -> None:
        self.spans = []
        self.changed_since_fold = 0
        self.folds = []
        self.commit_conflicts = 0

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by a child span.
        A container's work runs partly on other threads (pipelined
        prepares, ``foreachBatch``), so spans open on other threads
        count as its children too."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            inner = children.get(s.id, [])
            if s.name in CONTAINERS:
                inner = inner + [o for o in self.spans if o.thread != s.thread]
            covered = _union([(c.start, c.end) for c in inner], s.start, s.end)
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def blocking_path(self, main_thread: int) -> tuple[dict[str, float], float]:
        """Split the main thread's root-span time by what it waited on.

        At each instant the main thread is in its innermost open span.
        When that span is a container (a whole ``replay`` or stream
        drain) and a span on another thread is open, the time is charged
        to the other thread's newest span (a pipelined ``mor_prepare``,
        or ``apply_batch`` inside ``foreachBatch``); with nothing open
        elsewhere it is the container's own time, ``<layer>.own``.
        Returns (seconds per layer, total root seconds)."""
        events = sorted({t for s in self.spans for t in (s.start, s.end)})
        roots = [s for s in self.spans if s.thread == main_thread and s.parent is None]
        main = [s for s in self.spans if s.thread == main_thread]
        other = [s for s in self.spans if s.thread != main_thread]
        out: dict[str, float] = {}
        total = sum(s.end - s.start for s in roots)
        for a, b in zip(events, events[1:]):
            mid = (a + b) / 2
            if not any(r.start <= mid < r.end for r in roots):
                continue
            inner = max(
                (s for s in main if s.start <= mid < s.end), key=lambda s: s.start
            )
            key = inner.layer
            if inner.name in CONTAINERS:
                busy = [s for s in other if s.start <= mid < s.end]
                if busy:
                    key = max(busy, key=lambda s: s.start).layer
                elif inner.parent is None:
                    key = inner.layer + ".own"
            out[key] = out.get(key, 0.0) + (b - a)
        return out, total

    def spark_by_layer(self) -> dict[str, dict[str, float]]:
        """Stage metrics of every job launched inside a span, summed per
        layer (each job counted once, in its innermost span)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if not s.info.get("jobs"):
                continue
            acc = out.setdefault(s.layer, {
                "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "input_bytes": 0,
                "input_records": 0, "shuffle_write_bytes": 0, "output_bytes": 0,
            })
            for jid in st.getJobIdsForGroup(f"pb-{s.id}"):
                info = st.getJobInfo(jid)
                acc["jobs"] += 1
                for sid in info.stageIds if info is not None else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    acc["tasks"] += sd.numTasks()
                    acc["executor_run_s"] += sd.executorRunTime() / 1000.0
                    acc["input_bytes"] += sd.inputBytes()
                    acc["input_records"] += sd.inputRecords()
                    acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    acc["output_bytes"] += sd.outputBytes()
                    s.info["input_records"] = s.info.get("input_records", 0) + sd.inputRecords()
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {"id": s.id, "name": s.name, "start": s.start - t0, "end": s.end - t0,
                         "parent": s.parent, "thread": s.thread, **s.info}
                        for s in self.spans
                    ],
                },
                f,
            )


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def overlap_seconds(spans: list[Span]) -> float:
    """Time during which at least two of ``spans`` were open at once."""
    events = sorted([(s.start, 1) for s in spans] + [(s.end, -1) for s in spans])
    depth, last, total = 0, None, 0.0
    for t, d in events:
        if depth >= 2 and last is not None:
            total += t - last
        depth += d
        last = t
    return total


class StreamProgress:
    """Collects ``durationMs`` of each streaming micro-batch (traced run)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({"rows": p.numInputRows, **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM-wide counters: GC wall ms and Janino compiles."""
    jvm = spark._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    cls = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    h = getattr(cls, "MODULE$").METRIC_COMPILATION_TIME()
    n = int(h.getCount())
    # the histogram keeps a sample of per-compile ms; count x mean is
    # the total compile time as far as that sample represents it
    return {"gc_ms": float(gc_ms), "codegen_compiles": n,
            "codegen_ms_total": n * float(h.getSnapshot().getMean())}
