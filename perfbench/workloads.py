"""The benchmark's workloads: closed loops over the engine's public API.

One driver thread calls the engine and waits for each call to return.
A workload is cut into *reps*: one rep applies a fixed amount of the
seeded log into a fresh table and serves reads from it.  The timed
window runs reps while the next one is expected to end inside
``--seconds`` (at least one), and every metric is a median or a
percentile over all samples of the window.  The engine functions are
always reached through their module attribute (``pipeline.replay``),
so the traced run's wrappers see every call.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np

from aqueduct_core_spark import EngineConfig, verify
from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.schema import CHANGES_SCHEMA
from aqueduct_core_spark.streaming import monitor, pipeline

NUM_BUCKETS = 8
#: epochs of one bulk_replay / stream_drain rep, and the fold cadence
BULK_EPOCHS = 8
BULK_FOLD_EVERY = 6
#: point reads after each bulk_replay / stream_drain rep, in as many
#: bursts as there are full reads (one burst after each)
SERVE_READS = 300
#: tail_serve: fold cadence and point reads per epoch (one epoch per
#: interleaved file, inputs.INTERLEAVED_FILES)
TAIL_FOLD_EVERY = 4
TAIL_READS = 64
#: point reads per serve phase during the warm-up
WARMUP_READS = 4
#: full reads at the end of each rep (scan_read_s is their median)
SCANS_PER_REP = 5


class Recorder:
    """Samples of the end-to-end quantities, summed over reps."""

    def __init__(self):
        self.ingest_events = 0
        self.ingest_s = 0.0
        self.freshness_s: list[float] = []
        self.point_read_s: list[float] = []
        self.scan_s: list[float] = []
        self.rep_s: list[float] = []
        #: engine calls made (ingest calls, scans, point reads)
        self.ops = 0


class Workload:
    name = ""

    def __init__(self, spark, inputs: dict, work: str, seed: int, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.checked: list[tuple[str, bool]] = []
        self.tables: list[ParquetTranscriptTable] = []

    # -- helpers -----------------------------------------------------------
    def new_table(self, tag: str) -> ParquetTranscriptTable:
        return ParquetTranscriptTable.create(
            self.spark, os.path.join(self.work, f"{self.name}-{tag}"), num_buckets=NUM_BUCKETS
        )

    def read_keys(self, n: int) -> list[str]:
        ids = self.rng.integers(0, self.inputs["n_convs"], size=n)
        return [f"conv-{int(i):08d}" for i in ids]

    def point_reads(self, table, n: int, rec: Recorder) -> None:
        for key in self.read_keys(n):
            t0 = time.perf_counter()
            table.read_conversation_direct(key)
            rec.point_read_s.append(time.perf_counter() - t0)
        rec.ops += n

    def scan(self, table, rec: Recorder, n: int = SCANS_PER_REP) -> None:
        """Full delta-resolved reads, each materialized with a noop write."""
        for _ in range(n):
            t0 = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.span("catalog.scan"):
                    table.read_internal().write.format("noop").mode("overwrite").save()
            else:
                table.read_internal().write.format("noop").mode("overwrite").save()
            rec.scan_s.append(time.perf_counter() - t0)
        rec.ops += n

    @staticmethod
    def commit_delays(table, start: dt.datetime) -> list[float]:
        """Seconds from the call start, when the whole log is available,
        to each epoch's commit, from the engine's ``committed_at`` stamps."""
        import pyarrow.parquet as pq

        snap = table.catalog.current()
        stamps = []
        for rel in snap["offsets_files"]:
            t = pq.read_table(os.path.join(table.root, rel), columns=["epoch", "committed_at"])
            stamps += t.column("committed_at").to_pylist()
        t0 = start.replace(tzinfo=None)
        return sorted((s - t0).total_seconds() for s in stamps)

    def table_bytes(self) -> int:
        root = self.tables[-1].root
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
        )

    def check(self, name: str, ok: bool) -> None:
        self.checked.append((name, bool(ok)))

    # -- per-workload ---------------------------------------------------------
    def load(self) -> None:
        raise NotImplementedError

    def rep(self, rec: Recorder, tag: str, warmup: bool = False) -> None:
        """One rep into a fresh table.  ``warmup``: the shorter rep that
        runs every plan shape once (JIT, codegen) before timing starts."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        return self.inputs["native_bytes"]

    def verify(self) -> None:
        raise NotImplementedError


class BulkReplay(Workload):
    """The native-order log drained by one ``replay()`` call per rep."""

    name = "bulk_replay"

    def cfg(self) -> EngineConfig:
        return EngineConfig(
            num_buckets=NUM_BUCKETS,
            max_events_per_trigger=-(-self.inputs["events"] // BULK_EPOCHS),
            max_bytes_per_trigger=8 << 30,
            mor_fold_every=BULK_FOLD_EVERY,
        )

    def load(self) -> None:
        self.log = self.spark.read.schema(CHANGES_SCHEMA).parquet(self.inputs["native_dir"])

    def ingest(self, table) -> None:
        pipeline.replay(table, self.log, self.cfg(), start_epoch=0, start_lsn=0)

    def rep(self, rec: Recorder, tag: str, warmup: bool = False) -> None:
        table = self.new_table(tag)
        start = dt.datetime.now(dt.timezone.utc)
        t0 = time.perf_counter()
        self.ingest(table)
        rec.ingest_s += time.perf_counter() - t0
        rec.ingest_events += self.inputs["events"]
        rec.ops += 1
        bursts = 1 if warmup else SCANS_PER_REP
        for _ in range(bursts):
            self.scan(table, rec, 1)
            self.point_reads(table, WARMUP_READS if warmup else SERVE_READS // bursts, rec)
        rec.rep_s.append(time.perf_counter() - t0)
        rec.freshness_s += self.commit_delays(table, start)
        self.tables.append(table)

    def verify(self) -> None:
        want = oracle(self.inputs, "native_consistency_sum", lambda: verify.consistency_sum(self.log))
        for t in self.tables:
            self.check("consistency", verify.table_consistency_sum(t.read_internal()) == want)
            self.check("epoch_lineage_audit", monitor.epoch_lineage_audit(t).count() == 0)
        digest = verify.state_digest(self.tables[-1].read_internal())
        if all(ok for _, ok in self.checked):
            self.check("bulk_state_digest", oracle(self.inputs, "bulk_state_digest", lambda: digest) == digest)


class StreamDrain(BulkReplay):
    """The bulk_replay log drained by Structured Streaming
    (``run_available_now``) with the same epoch count."""

    name = "stream_drain"

    def ingest(self, table) -> None:
        files_per_trigger = -(-len(os.listdir(self.inputs["native_dir"])) // BULK_EPOCHS)
        pipeline.run_available_now(
            self.spark, table, self.inputs["native_dir"],
            os.path.join(self.work, f"ckpt-{os.path.basename(table.root)}"),
            self.cfg(), max_files_per_trigger=files_per_trigger,
        )

    def verify(self) -> None:
        # file-discovery order, not lsn order: the lineage audit's
        # cross-epoch range rules do not apply (see epoch_lineage_audit)
        want = oracle(self.inputs, "native_consistency_sum", lambda: verify.consistency_sum(self.log))
        for t in self.tables:
            self.check("consistency", verify.table_consistency_sum(t.read_internal()) == want)


class TailServe(Workload):
    """The interleaved log applied one small slice per ``replay()`` call,
    with point reads after every commit and a full read at the end."""

    name = "tail_serve"

    def cfg(self, fold_every: int = TAIL_FOLD_EVERY) -> EngineConfig:
        return EngineConfig(
            num_buckets=NUM_BUCKETS,
            max_events_per_trigger=1 << 40,
            max_bytes_per_trigger=8 << 30,
            mor_fold_every=fold_every,
        )

    def load(self) -> None:
        self.log = self.spark.read.schema(CHANGES_SCHEMA).parquet(self.inputs["interleaved_dir"])
        self.slices = self.inputs["interleaved_files"]

    def input_bytes(self) -> int:
        return sum(f["bytes"] for f in self.slices)

    def rep(self, rec: Recorder, tag: str, warmup: bool = False) -> None:
        table = self.new_table(tag)
        t_rep = time.perf_counter()
        # the warm-up's 3 epochs with a fold after the 2nd still run
        # every plan shape: epoch, fold, and reads with deltas live
        slices, cfg = (self.slices[:3], self.cfg(2)) if warmup else (self.slices, self.cfg())
        for epoch, sl in enumerate(slices):
            t0 = time.perf_counter()
            pipeline.replay(table, self.log, cfg, start_epoch=epoch,
                            start_lsn=sl["min_lsn"], end_lsn=sl["max_lsn"])
            took = time.perf_counter() - t0
            rec.ingest_s += took
            rec.ingest_events += sl["rows"]
            rec.ops += 1
            rec.freshness_s.append(took)
            self.point_reads(table, WARMUP_READS if warmup else TAIL_READS, rec)
        self.scan(table, rec, 1 if warmup else SCANS_PER_REP)
        rec.rep_s.append(time.perf_counter() - t_rep)
        self.tables.append(table)

    def verify(self) -> None:
        want = oracle(self.inputs, "interleaved_consistency_sum",
                      lambda: verify.consistency_sum(self.log))
        want_digest = oracle(self.inputs, "bulk_state_digest", self._bulk_digest)
        for t in self.tables:
            state = t.read_internal()
            self.check("consistency", verify.table_consistency_sum(state) == want)
            # LWW is order-independent per key: the interleaved tail must
            # reach the native-order bulk replay's state
            self.check("bulk_tail_state_digest", verify.state_digest(state) == want_digest)

    def _bulk_digest(self) -> int:
        """The state of the native-order log replayed in one epoch, the
        cheapest native-order replay: used when no bulk_replay run has
        cached its digest for this input yet."""
        bulk = BulkReplay(self.spark, self.inputs, self.work, self.seed)
        bulk.load()
        ref = bulk.new_table("digest-ref")
        pipeline.replay(ref, bulk.log, self.cfg(), start_epoch=0, start_lsn=0)
        return verify.state_digest(ref.read_internal())


def oracle(inputs: dict, key: str, compute) -> int:
    """A reference value for this input, computed once and kept in the
    input's cache entry (the cache lives in one checkout, so in one
    version of the engine)."""
    path = os.path.join(os.path.dirname(inputs["native_dir"]), "oracles.json")
    try:
        with open(path) as f:
            known = json.load(f)
    except FileNotFoundError:
        known = {}
    if key not in known:
        known[key] = str(compute())
        with open(path, "w") as f:
            json.dump(known, f)
    return int(known[key])


WORKLOADS = {w.name: w for w in (BulkReplay, TailServe)}


def remove_tables(wl: Workload) -> None:
    for t in wl.tables:
        shutil.rmtree(t.root, ignore_errors=True)
    wl.tables.clear()
