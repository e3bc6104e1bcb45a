"""Scale-robustness fixes: bounded trigger planning, incremental MOR
fold, commit-race concurrency (T8), health/lag monitoring (T9),
strategy-switch delta hygiene, uniform lineage, Iceberg SQL validity.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.snapshot import CommitConflict, SnapshotCatalog
from aqueduct_core_spark.catalog.table import TOMBSTONE_PREFIX, ParquetTranscriptTable, bucket_expr
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import expected_state_pdf, generate_changes_pdf
from aqueduct_core_spark.operators.batching import (
    TARGET_BLOCKS,
    choose_block_bits,
    plan_triggers,
)
from aqueduct_core_spark.operators.compact import fold_deltas
from aqueduct_core_spark.operators.merge import apply_batch
from tests.test_merge import assert_state_equal, final_state_pdf, to_spark


# ---------------------------------------------------------------------------
# trigger planning stays driver-bounded at any lsn scale
# ---------------------------------------------------------------------------

def test_choose_block_bits_bounds_driver_collect():
    # 10^10 events with the generator's 2^14 stride → lsn span ~1.6e14;
    # a fixed 14-bit block would collect ~10^10 rows
    lo, hi = 0, 10**10 * (1 << 14)
    bits = choose_block_bits(lo, hi)
    assert ((hi - lo + 1) >> bits) <= TARGET_BLOCKS
    # small logs keep the fine default granularity
    assert choose_block_bits(0, 1 << 20) == 14
    # degenerate single-lsn span
    assert choose_block_bits(5, 5) == 14


def test_plan_triggers_sparse_lsn_space(spark):
    """LSNs sparsely spread over a 2^40 range: the planner must pick a
    coarser block size (bounded collect) and still cover every event
    with ordered, budget-respecting ranges."""
    n = 5000
    stride = (1 << 40) // n
    df = spark.range(n).select(
        (F.col("id") * stride).alias("lsn"),
        F.lit(100).alias("event_size"),
    )
    ranges = plan_triggers(df, max_events=1000, max_bytes=1 << 40)
    assert ranges, "no ranges planned"
    # ordered, non-overlapping, complete coverage
    assert all(
        ranges[i].end_lsn < ranges[i + 1].start_lsn for i in range(len(ranges) - 1)
    )
    assert sum(r.events for r in ranges) == n
    # block granularity ≈ span/TARGET_BLOCKS ⇒ far fewer blocks than
    # events would leak through a fixed 14-bit plan; budget holds at
    # block resolution (each range ≤ max_events + one block's slack)
    bits = choose_block_bits(0, (n - 1) * stride)
    block = 1 << bits
    assert all(r.events <= 1000 + block for r in ranges)
    assert ((n - 1) * stride >> bits) <= TARGET_BLOCKS


def test_plan_triggers_empty_log(spark):
    df = spark.range(0).select(F.col("id").alias("lsn"), F.lit(0).alias("event_size"))
    assert plan_triggers(df, max_events=10, max_bytes=10) == []


# ---------------------------------------------------------------------------
# incremental fold: untouched buckets carried forward byte-identically
# ---------------------------------------------------------------------------

def test_fold_is_incremental(spark, tmp_path):
    pdf = generate_changes_pdf(30, seed=42)
    cfg = EngineConfig(num_buckets=8, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)

    apply_batch(table, to_spark(spark, pdf), epoch=0, cfg=cfg)
    assert fold_deltas(table)["folded"]
    files_before = {
        b: list(v) for b, v in table.catalog.current()["files"].items()
    }

    # a second batch touching ONLY the conversations of one bucket
    convs_b0 = [
        r["conv_id"]
        for r in spark.createDataFrame(pdf[["conv_id"]].drop_duplicates())
        .select("conv_id", bucket_expr(8).alias("b"))
        .where("b = 0")
        .collect()
    ]
    assert convs_b0, "no conversations hash to bucket 0"
    upd = pdf[pdf.conv_id.isin(convs_b0)].copy()
    upd["lsn"] = upd["lsn"] + (1 << 24)
    apply_batch(table, to_spark(spark, upd), epoch=1, cfg=cfg)
    out = fold_deltas(table)
    assert out["folded"] and out["buckets"] == 1

    files_after = table.catalog.current()["files"]
    for b, fl in files_before.items():
        if b == "0":
            assert files_after[b] != fl, "touched bucket must be rewritten"
        else:
            assert files_after[b] == fl, f"untouched bucket {b} was rewritten"
    # an unplanned apply keeps its tombstones across folds: only they remain
    assert all(
        f.startswith(TOMBSTONE_PREFIX)
        for fl in table.catalog.current()["delta_files"].values() for f in fl
    )

    # replay equality: doubled events are idempotent under LWW-by-lsn
    full = pdf.copy()
    exp = expected_state_pdf(
        __import__("pandas").concat([full, upd], ignore_index=True)
    )
    assert_state_equal(final_state_pdf(table), exp)


# ---------------------------------------------------------------------------
# T8: two committers racing the same base snapshot
# ---------------------------------------------------------------------------

def test_commit_conflict_sequential(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "c"))
    base = cat.create(schema_fields=[], properties={})
    cat.commit(base, summary_updates={"w": "a"})
    with pytest.raises(CommitConflict):
        cat.commit(base, summary_updates={"w": "b"})
    # loser retries from the NEW current and succeeds
    out = cat.commit(cat.current(), summary_updates={"w": "b"})
    assert out["snapshot_id"] == 2 and out["summary"]["w"] == "b"


def test_commit_conflict_threads(tmp_path):
    """Reference parallel-compaction lock semantics
    (PostgresqlStorageIntegrationSpec.groovy:448-482): of N writers
    racing one base version, exactly one wins; losers get a clean
    conflict to retry."""
    cat = SnapshotCatalog(str(tmp_path / "c"))
    base = cat.create(schema_fields=[], properties={})

    def attempt(tag):
        try:
            cat.commit(base, summary_updates={"w": tag})
            return "ok"
        except CommitConflict:
            return "conflict"

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(attempt, ["a", "b", "c", "d"]))
    assert sorted(results) == ["conflict", "conflict", "conflict", "ok"]
    assert cat.current_version() == 1


# ---------------------------------------------------------------------------
# T9: health / lag monitoring
# ---------------------------------------------------------------------------

def test_pipe_status_lag(spark, tmp_path):
    from aqueduct_core_spark.streaming.monitor import pipe_status

    pdf = generate_changes_pdf(10, seed=42)
    cfg = EngineConfig(num_buckets=4)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    log = to_spark(spark, pdf)
    half = int(pdf["lsn"].quantile(0.5))
    apply_batch(table, log.where(F.col("lsn") <= half), epoch=0, cfg=cfg)

    st = pipe_status(table, log)
    assert st["state"] == "OUT_OF_DATE"
    # lag_lsn is an lsn DELTA (sparse layouts ≠ event counts)
    assert st["lag_lsn"] == int(pdf["lsn"].max()) - int(
        pdf[pdf.lsn <= half]["lsn"].max()
    )

    apply_batch(table, log.where(F.col("lsn") > half), epoch=1, cfg=cfg)
    st = pipe_status(table, log)
    assert st["state"] == "UP_TO_DATE" and st["lag_lsn"] == 0


def test_stream_records_metrics(spark, tmp_path):
    from aqueduct_core_spark.streaming.monitor import BatchMetricsRecorder
    from aqueduct_core_spark.streaming.pipeline import run_available_now

    pdf = generate_changes_pdf(8, seed=42)
    log_dir = str(tmp_path / "log")
    to_spark(spark, pdf).repartition(2).write.parquet(log_dir)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    run_available_now(
        spark,
        table,
        log_dir,
        str(tmp_path / "ckpt"),
        cfg=EngineConfig(num_buckets=4),
        record_metrics=True,
    )
    lines = BatchMetricsRecorder(table).read()
    assert lines, "no metrics recorded"
    assert all({"epoch", "applied", "duration_s", "state"} <= set(l) for l in lines)
    assert sum(l["applied"] for l in lines) > 0


# ---------------------------------------------------------------------------
# idle triggers, duplicate epochs, lineage shape
# ---------------------------------------------------------------------------

def _lineage(row):
    out = json.loads(row["partition_lineage"])
    assert set(out) == {"scope", "buckets"}
    for b in out["buckets"].values():
        assert {"keys", "min_lsn", "max_lsn"} <= set(b)
    return out


def test_mor_empty_batch_no_commit(spark, tmp_path):
    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    cfg = EngineConfig(num_buckets=4, mor_fold_every=2)
    before = table.catalog.current()["snapshot_id"]
    empty = spark.createDataFrame([], CHANGES_SCHEMA)
    row = apply_batch(table, empty, epoch=0, cfg=cfg)
    assert row["applied"] == 0 and row["state"] == "UP_TO_DATE"
    snap = table.catalog.current()
    assert snap["snapshot_id"] == before, "idle trigger committed a snapshot"
    assert int(snap["summary"].get("aqueduct.delta-epochs", 0)) == 0


def test_skipped_duplicate_epoch_is_honest(spark, tmp_path):
    pdf = generate_changes_pdf(6, seed=42)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    cfg = EngineConfig(num_buckets=4)
    first = apply_batch(table, to_spark(spark, pdf), epoch=0, cfg=cfg)
    lin = _lineage(first)
    assert lin["scope"] == "batch" and lin["buckets"]
    assert sum(b["keys"] for b in lin["buckets"].values()) == first["applied"]
    row = apply_batch(table, to_spark(spark, pdf), epoch=0, cfg=cfg)
    assert row["state"] == "SKIPPED_DUPLICATE_EPOCH"
    assert row["applied"] == 0 and row["skipped"] == 0  # no magic sentinel


# ---------------------------------------------------------------------------
# crash between data write and manifest commit → orphan cleanup
# ---------------------------------------------------------------------------

def test_crash_orphans_invisible_and_removable(spark, tmp_path):
    """A writer that dies AFTER writing delta/data files but BEFORE the
    manifest commit leaves debris that (a) no reader ever sees, (b) a
    restarted apply ignores, and (c) remove_orphan_files deletes —
    while never touching referenced files or in-flight-aged files
    (Iceberg remove_orphan_files semantics)."""
    from aqueduct_core_spark.catalog.table import BUCKET_COLUMN, bucket_expr
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.operators.compact import remove_orphan_files
    from aqueduct_core_spark.verify import state_digest

    pdf = generate_changes_pdf(15, seed=42)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    cfg = EngineConfig(num_buckets=4, mor_fold_every=0)
    half = int(pdf["lsn"].quantile(0.5))
    apply_batch(table, to_spark(spark, pdf[pdf.lsn <= half]), epoch=0, cfg=cfg)

    # simulate the crash: write epoch-1 delta files, never commit
    batch = to_spark(spark, pdf[pdf.lsn > half])
    staged = (
        lww.unified_argmax(batch, ["role", "text", "tool", "ts"])
        .withColumn(BUCKET_COLUMN, bucket_expr(4))
        .withColumn("_isturn", (F.col("_tkey") >= 0).cast("int"))
    )
    table.write_delta_data(staged, "epoch-crashed")
    d0 = state_digest(table.read_internal())

    # restart applies the same batch normally; state is correct
    apply_batch(table, batch, epoch=1, cfg=cfg)
    assert state_digest(table.read_internal()) != d0
    good = state_digest(table.read_internal())

    def all_files():
        import os

        out = set()
        for sub in ("data", "delta", "offsets"):
            base = str(tmp_path / "t" / sub)
            for dirpath, _d, fns in os.walk(base):
                out.update(
                    os.path.relpath(os.path.join(dirpath, f), str(tmp_path / "t"))
                    for f in fns
                    if f.endswith(".parquet")
                )
        return out

    before = all_files()
    # young files are protected (in-flight guard)
    assert remove_orphan_files(table, older_than_s=3600) == 0
    removed = remove_orphan_files(table, older_than_s=0)
    assert removed > 0
    after = all_files()
    # everything removed was unreferenced; referenced files intact
    snap = table.catalog.current()
    referenced = {
        f for fl in snap["files"].values() for f in fl
    } | {f for fl in snap["delta_files"].values() for f in fl} | set(
        snap["offsets_files"]
    )
    assert referenced <= after
    assert (before - after) & referenced == set()
    assert state_digest(table.read_internal()) == good


# ---------------------------------------------------------------------------
# Bucket routing must ride Spark's own partitioner (no second shuffle,
# no collision skew): partition index == bucket value
# ---------------------------------------------------------------------------

def test_bucket_partition_alignment(spark):
    from pyspark.sql import functions as F

    n = 16
    df = spark.range(2000).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id")
    )
    pairs = (
        df.withColumn("b", bucket_expr(n))
        .repartition(n, F.col("conv_id"))
        .withColumn("p", F.spark_partition_id())
        .select("b", "p")
        .distinct()
        .collect()
    )
    assert pairs and all(r["b"] == r["p"] for r in pairs)
