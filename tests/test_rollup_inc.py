"""Incremental rollup (continuous per-conversation aggregate):
dirty-group recompute from the table change feed must equal a full
recompute after every refresh, rewrite only the buckets holding dirty
conversations, and fall back to full recompute across a fold."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.operators.rollup import ConvRollup, conv_rollup
from tests.test_merge import to_spark


def _assert_rollup_equal(rollup: ConvRollup, table: ParquetTranscriptTable):
    got = (
        rollup.read().toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    want = (
        conv_rollup(table.read())
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
    )


def test_incremental_refresh_equals_recompute(spark, tmp_path):
    cfg = EngineConfig(num_buckets=8, mor_fold_every=10**9)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    pdf = generate_changes_pdf(40, seed=11)
    n = len(pdf)
    apply_batch(table, to_spark(spark, pdf.iloc[: n // 2]), epoch=0, cfg=cfg)

    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=16)
    m0 = rollup.refresh(table)
    assert m0["mode"] == "full"
    assert m0["buckets_rewritten"] == 16
    _assert_rollup_equal(rollup, table)

    # second half touches a subset of conversations -> incremental,
    # bucket-pruned rewrite
    apply_batch(table, to_spark(spark, pdf.iloc[n // 2 :]), epoch=1, cfg=cfg)
    m1 = rollup.refresh(table)
    assert m1["mode"] == "incremental"
    _assert_rollup_equal(rollup, table)

    # a tiny update batch touching ONE conversation rewrites few buckets
    one = pdf[pdf["turn_idx"].notna()].head(1).copy()
    one["lsn"] = one["lsn"] + 10_000_000_000
    one["op"] = "U"
    one["text"] = "rewritten"
    apply_batch(table, to_spark(spark, one), epoch=2, cfg=cfg)
    m2 = rollup.refresh(table)
    assert m2["mode"] == "incremental"
    assert m2["buckets_rewritten"] == 1
    _assert_rollup_equal(rollup, table)

    # no new commits -> noop
    assert rollup.refresh(table)["mode"] == "noop"


def test_deleted_conversation_leaves_rollup(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    pdf = generate_changes_pdf(10, seed=3)
    apply_batch(table, to_spark(spark, pdf), epoch=0, cfg=cfg)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=8)
    rollup.refresh(table)
    victim = rollup.read().select("conv_id").first()[0]

    kill = pd.DataFrame(
        [{
            "lsn": int(pdf["lsn"].max()) + 1_000_000,
            "op": "D",
            "conv_id": victim,
            "turn_idx": None,
            "role": None, "text": None, "tool": None,
            "ts": pdf["ts"].max(),
            "event_size": 10, "cluster_id": 0, "location_group": None,
        }]
    )
    apply_batch(table, to_spark(spark, kill), epoch=1, cfg=cfg)
    m = rollup.refresh(table)
    assert m["mode"] == "incremental"
    assert rollup.read().where(f"conv_id = '{victim}'").count() == 0
    _assert_rollup_equal(rollup, table)


def test_fold_between_refreshes_falls_back_to_full(spark, tmp_path):
    from aqueduct_core_spark.operators.compact import fold_deltas

    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    pdf = generate_changes_pdf(10, seed=5)
    n = len(pdf)
    apply_batch(table, to_spark(spark, pdf.iloc[: n // 2]), epoch=0, cfg=cfg)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=8)
    rollup.refresh(table)

    apply_batch(table, to_spark(spark, pdf.iloc[n // 2 :]), epoch=1, cfg=cfg)
    fold_deltas(table)  # rewrites history: CDF over the interval is gone
    m = rollup.refresh(table)
    assert m["mode"] == "full"
    _assert_rollup_equal(rollup, table)

    # expire drops the unreferenced older data dirs
    removed = rollup.expire()
    assert all(d.startswith("data-v") for d in removed)
    _assert_rollup_equal(rollup, table)


def test_streaming_rollup_stays_fresh(spark, tmp_path):
    """The rollup rides foreachBatch: after a multi-epoch streaming
    drain it equals a full recompute, and a second drain over the same
    log (fresh checkpoint, idempotently-skipped epochs) leaves it
    untouched."""
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.streaming.pipeline import run_available_now

    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    changes_dir = str(tmp_path / "changes")
    generate_changes(spark, n_convs=60, seed=21).repartition(6).write.parquet(
        changes_dir
    )
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=8)

    run_available_now(
        spark, table, changes_dir, str(tmp_path / "ckpt"), cfg,
        max_files_per_trigger=2, maintainers=[rollup],
    )
    assert table.catalog.current_version() >= 2  # multiple epochs ran
    assert rollup.last_table_version() == table.catalog.current_version()
    _assert_rollup_equal(rollup, table)

    v = rollup.last_table_version()
    run_available_now(
        spark, table, changes_dir, str(tmp_path / "ckpt2"), cfg,
        max_files_per_trigger=2, maintainers=[rollup],
    )
    assert rollup.last_table_version() == v  # skipped epochs -> noop refreshes
    _assert_rollup_equal(rollup, table)


def test_conversation_text_orders_and_joins(spark):
    from aqueduct_core_spark.operators.rollup import conversation_text

    state = spark.createDataFrame(
        [
            ("c1", 2, "assistant", "hi there"),
            ("c1", 0, "user", "hello"),
            ("c1", 1, "assistant", "hey"),
            ("c2", 0, "user", "solo"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = {r.conv_id: r for r in conversation_text(state).collect()}
    assert out["c1"].n_turns == 3
    assert out["c1"].conv_text == "user: hello\nassistant: hey\nassistant: hi there"
    assert out["c2"].conv_text == "user: solo"


def test_refresh_survives_expired_manifest(spark, tmp_path):
    """A lagging view whose last-refreshed manifest was expired
    (e.g. erase with purge=True ran expire_snapshots) must fall back
    to full recompute, not crash the compliance sweep with
    FileNotFoundError."""
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.operators.compact import expire_snapshots, fold_deltas
    from aqueduct_core_spark.streaming.pipeline import replay

    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    log = generate_changes(spark, n_convs=30, seed=33).cache()
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    replay(table, log.where(F.col("lsn") <= mx // 2), cfg)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=4)
    rollup.refresh(table)

    replay(table, log.where(F.col("lsn") > mx // 2), cfg,
           start_epoch=table.last_committed_epoch() + 1,
           start_lsn=table.last_committed_lsn() + 1)
    fold_deltas(table)
    expire_snapshots(table, keep_last=1)  # the view's v0 manifest is gone

    m = rollup.refresh(table)  # must not raise
    assert m["mode"] == "full"
    _assert_rollup_equal(rollup, table)
