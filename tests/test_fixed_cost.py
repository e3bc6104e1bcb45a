"""Fixed Spark cost of the apply path and of MOR reads.

- Reads of manifest-listed files start no Spark job, however many
  files the manifest lists (``get_spark`` stats explicit file lists on
  the driver; Spark's default starts a parallel listing job past 32
  paths).
- An epoch's statements run on its batch's own session, so a frame
  built in a cloned session (every ``foreachBatch`` frame is one)
  applies the same as a frame built in the table's session.
- A replay epoch whose lsn range is whole log files reads exactly
  those files with no lsn predicate, so every such epoch plans the
  same generated code.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.verify import state_digest
from tests.test_merge import to_spark

_LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("fixed_cost") / "changes")
    to_spark(spark, generate_changes_pdf(120, seed=5)).write.parquet(p)
    return p


def _epochs(log, n):
    """``n`` contiguous lsn slices of ``log`` with their max lsn."""
    hi = log.agg(F.max("lsn")).collect()[0][0] + 1
    cuts = [hi * i // n for i in range(n + 1)]
    return [
        (log.where((F.col("lsn") >= lo) & (F.col("lsn") < up)), up - 1)
        for lo, up in zip(cuts, cuts[1:])
    ]


def _apply_all(table, log, n=3):
    cfg = EngineConfig(num_buckets=table.num_buckets, mor_fold_every=0)
    for e, (batch, max_lsn) in enumerate(_epochs(log, n)):
        apply_batch(table, batch, epoch=e, cfg=cfg, batch_max_lsn=max_lsn)


def _jobs_of(spark, group, fn):
    """(result, number of Spark jobs ``fn`` started) — counted by job
    group through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def many_deltas(spark, log_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fixed_cost") / "t")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    _apply_all(table, spark.read.parquet(log_path))
    n = sum(len(v) for v in table.catalog.current()["delta_files"].values())
    assert n > 32, f"fixture must list more than 32 delta files, has {n}"
    return table


def test_read_internal_build_starts_no_job(spark, many_deltas):
    _, jobs = _jobs_of(spark, "build-read", many_deltas.read_internal)
    assert jobs == 0
    # the guard is live: under Spark's default the same build lists
    # the files in a job
    old = spark.conf.get(_LISTING)
    spark.conf.set(_LISTING, "32")
    try:
        _, jobs = _jobs_of(spark, "build-read-default", many_deltas.read_internal)
    finally:
        spark.conf.set(_LISTING, old)
    assert jobs >= 1


def test_read_offsets_build_starts_no_job(spark, tmp_path):
    import datetime as dt

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    row = {
        "last_lsn": 0, "applied": 0, "skipped": 0, "partition_lineage": None,
        "committed_at": dt.datetime(2024, 1, 1), "state": "UP_TO_DATE",
    }
    rels = [
        table.write_offsets_row(dict(row, epoch=e), label=f"epoch-{e}")
        for e in range(40)
    ]
    table.catalog.commit(table.catalog.current(), added_offsets_files=rels)
    offsets, jobs = _jobs_of(spark, "build-offsets", table.read_offsets)
    assert jobs == 0
    assert offsets.count() == 40


def test_cloned_session_batch_applies_the_same(spark, log_path, tmp_path):
    """A frame from ``spark.newSession()`` (the session kind a
    ``foreachBatch`` frame lives in) commits the same state digest."""
    here = ParquetTranscriptTable.create(spark, str(tmp_path / "a"), num_buckets=8)
    cloned = ParquetTranscriptTable.create(spark, str(tmp_path / "b"), num_buckets=8)
    _apply_all(here, spark.read.parquet(log_path))
    _apply_all(cloned, spark.newSession().read.parquet(log_path))
    assert cloned.last_committed_epoch() == here.last_committed_epoch() == 2
    assert state_digest(cloned.read_internal()) == state_digest(here.read_internal())


def test_whole_file_epochs_read_their_files_without_a_predicate(spark, tmp_path):
    """Footer-planned epochs over whole files are bare scans of just
    their files (no ``Filter``, whose lsn literals would compile a new
    whole-stage class per epoch) and hold exactly the rows the range
    predicate selects; a file whose footer counts a null lsn keeps the
    predicate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aqueduct_core_spark.streaming.pipeline import _epoch_slices

    d = tmp_path / "log"
    d.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({
                "lsn": pa.array(range(10 * i, 10 * i + 10), pa.int64()),
                "v": pa.array([i] * 10, pa.int64()),
            }),
            str(d / f"part-{i}.parquet"),
        )
    pq.write_table(
        pa.table({"lsn": pa.array([30, None, 39], pa.int64()), "v": pa.array([3] * 3, pa.int64())}),
        str(d / "part-3.parquet"),
    )
    log = spark.read.parquet(str(d))
    cfg = EngineConfig(max_events_per_trigger=10, max_bytes_per_trigger=1 << 30)
    ranges, batch_of = _epoch_slices(log, cfg, start_lsn=0)
    batches = [batch_of(r) for r in ranges]
    assert [(r.start_lsn, r.end_lsn) for r in ranges] == [(0, 9), (10, 19), (20, 29), (30, 39)]
    for r, b in zip(ranges, batches):
        want = log.where((F.col("lsn") >= r.start_lsn) & (F.col("lsn") <= r.end_lsn))
        assert sorted(b.collect()) == sorted(want.collect())
    plans = [b._jdf.queryExecution().optimizedPlan().toString() for b in batches]
    assert ["Filter" in p for p in plans] == [False, False, False, True]
    assert [len(b.inputFiles()) for b in batches[:3]] == [1, 1, 1]
    # a window edge inside a file keeps the predicate
    ranges, batch_of = _epoch_slices(log, cfg, start_lsn=5, end_lsn=24)
    plans = [batch_of(r)._jdf.queryExecution().optimizedPlan().toString() for r in ranges]
    assert ["Filter" in p for p in plans] == [True, False, True]


def test_erase_reads_the_manifest_a_constant_number_of_times(spark, tmp_path, monkeypatch):
    """An erase derives its buckets from the manifest its rewrite pins:
    the bucket count is read once, not once per key."""
    from aqueduct_core_spark.catalog.snapshot import SnapshotCatalog
    from aqueduct_core_spark.operators.erase import erase_conversations

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    load, loads = SnapshotCatalog.load, []

    def counted(self, version):
        loads.append(version)
        return load(self, version)

    monkeypatch.setattr(SnapshotCatalog, "load", counted)
    counts = []
    for n in (10, 1000):
        loads.clear()
        erase_conversations(table, [f"k{i}" for i in range(n)])
        counts.append(len(loads))
    assert counts[0] == counts[1] < 20, counts
