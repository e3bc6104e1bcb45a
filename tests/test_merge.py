"""End-to-end replay: change log → apply_batch loop → final state equals
the independent pandas oracle (FIXTURES.md §4; mirrors the reference's
replay-to-final-state specs SQLiteStorageIntegrationSpec.groovy:696-907).
"""

import os

import pandas as pd
import pytest

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import expected_state_pdf, generate_changes_pdf
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.schema import CHANGES_SCHEMA, LSN_COLUMN


def to_spark(spark, pdf):
    pdf = pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"].astype("object").where(pdf["turn_idx"].notna(), None)
    return spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)


def only_carried_tombstones(snap) -> bool:
    """Every live delta file is a fold's carried tombstones: a table
    applied without planned lsn bounds keeps its tombstones across a
    fold (``fold_deltas``)."""
    from aqueduct_core_spark.catalog.table import TOMBSTONE_PREFIX

    return all(f.startswith(TOMBSTONE_PREFIX) for fl in snap["delta_files"].values() for f in fl)


def final_state_pdf(table):
    out = table.read_internal().toPandas()
    return out.sort_values(["conv_id", "turn_idx", "ts"], ignore_index=True)


def assert_state_equal(got: pd.DataFrame, exp: pd.DataFrame):
    exp = exp.reset_index(drop=True)
    got = got.reset_index(drop=True)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "_lsn"]:
        pd.testing.assert_series_equal(
            got[col].reset_index(drop=True),
            exp[col].rename(col).reset_index(drop=True),
            check_dtype=False,
            obj=col,
        )
    got_ts = pd.to_datetime(got["ts"]).dt.floor("us").reset_index(drop=True)
    exp_ts = pd.to_datetime(exp["ts"]).dt.floor("us").reset_index(drop=True)
    assert (got_ts == exp_ts).all()


@pytest.fixture()
def changes_pdf():
    return generate_changes_pdf(40, seed=42, hot_fraction=0.05)


def test_single_batch_replay(spark, tmp_table_dir, changes_pdf):
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    m = apply_batch(table, to_spark(spark, changes_pdf), epoch=0, cfg=cfg)
    assert m["state"] == "UP_TO_DATE"
    assert m["last_lsn"] == int(changes_pdf["lsn"].max())
    assert_state_equal(final_state_pdf(table), expected_state_pdf(changes_pdf))


def test_multi_batch_replay_matches_oracle(spark, tmp_table_dir, changes_pdf):
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    # cut at arbitrary row positions so conversations straddle batches
    n = len(changes_pdf)
    cuts = [0, n // 4 + 3, n // 2 + 7, 3 * n // 4 + 1, n]
    for e, (a, b) in enumerate(zip(cuts, cuts[1:])):
        apply_batch(table, to_spark(spark, changes_pdf.iloc[a:b]), epoch=e, cfg=cfg)
    assert_state_equal(final_state_pdf(table), expected_state_pdf(changes_pdf))
    # offsets bookkeeping: one row per epoch, monotone last_lsn
    off = table.read_offsets().toPandas().sort_values("epoch")
    assert list(off["epoch"]) == [0, 1, 2, 3]
    assert off["last_lsn"].is_monotonic_increasing


def test_duplicate_epoch_is_idempotent(spark, tmp_table_dir, changes_pdf):
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    n = len(changes_pdf)
    first, second = changes_pdf.iloc[: n // 2], changes_pdf.iloc[n // 2 :]
    apply_batch(table, to_spark(spark, first), epoch=0, cfg=cfg)
    apply_batch(table, to_spark(spark, second), epoch=1, cfg=cfg)
    v_before = table.catalog.current_version()
    # exact re-delivery of epoch 1 (crash-replay) → clean skip, no new snapshot
    m = apply_batch(table, to_spark(spark, second), epoch=1, cfg=cfg)
    assert m["state"] == "SKIPPED_DUPLICATE_EPOCH"
    assert table.catalog.current_version() == v_before
    assert_state_equal(final_state_pdf(table), expected_state_pdf(changes_pdf))


def test_merge_prunes_buckets(spark, tmp_table_dir, changes_pdf):
    """A batch touching one conversation appends deltas to exactly that
    conversation's bucket and leaves every base file list unchanged."""
    from aqueduct_core_spark.catalog.table import bucket_of
    from aqueduct_core_spark.operators.compact import fold_deltas

    cfg = EngineConfig(num_buckets=8, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    apply_batch(table, to_spark(spark, changes_pdf), epoch=0, cfg=cfg)
    assert fold_deltas(table)["folded"]
    snap0 = table.catalog.current()
    assert only_carried_tombstones(snap0)

    one_conv = changes_pdf[changes_pdf["conv_id"] == "conv-00000003"].copy()
    one_conv["lsn"] = one_conv["lsn"] + 10_000_000
    one_conv["op"] = "U"
    one_conv = one_conv[one_conv["turn_idx"].notna()]
    apply_batch(table, to_spark(spark, one_conv), epoch=1, cfg=cfg)
    snap1 = table.catalog.current()

    assert snap1["files"] == snap0["files"]  # no base file rewritten
    touched = [
        b for b, fl in snap1["delta_files"].items()
        if set(fl) - set(snap0["delta_files"].get(b, []))
    ]
    assert touched == [str(bucket_of("conv-00000003", 8))]


def window_winners(turn_events):
    """The window-function formulation of the LWW kernel (reference
    J2/W2): ``row_number() OVER (PARTITION BY key ORDER BY lsn DESC) =
    1`` — the reference the engine's aggregate argmax is checked
    against."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("lsn").desc(), F.col("ts").desc()
    )
    return (
        turn_events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def test_window_vs_agg_lww_parity(spark, changes_pdf):
    from aqueduct_core_spark.operators import lww

    df = to_spark(spark, changes_pdf)
    turns, _ = lww.split_hierarchy(df)
    payload = ["role", "text", "tool", "ts"]
    a = lww.argmax_winners(turns, payload).select("conv_id", "turn_idx", LSN_COLUMN)
    b = window_winners(turns).select("conv_id", "turn_idx", "lsn")
    assert a.count() == b.count()
    assert a.join(b, (a.conv_id == b.conv_id) & (a.turn_idx == b.turn_idx) & (a[LSN_COLUMN] == b.lsn)).count() == a.count()


def test_mor_live_and_folded_deltas_match_oracle(spark, tmp_path, changes_pdf):
    """Two epochs converge to the oracle whether the first epoch's
    deltas are still live when the second lands or were folded into the
    base in between — reads resolve base ∪ deltas with the same LWW
    rules a fold applies."""
    from pyspark.sql import functions as F

    from aqueduct_core_spark.operators.compact import fold_deltas

    df = to_spark(spark, changes_pdf)
    cut = int(changes_pdf["lsn"].iloc[len(changes_pdf) // 2])
    expected = expected_state_pdf(changes_pdf)
    cfg = EngineConfig(num_buckets=8, mor_fold_every=0)
    for fold_between in (False, True):
        table = ParquetTranscriptTable.create(
            spark, str(tmp_path / f"fold-{fold_between}"), num_buckets=8
        )
        apply_batch(table, df.where(F.col("lsn") <= cut), epoch=0, cfg=cfg)
        if fold_between:
            assert fold_deltas(table)["folded"]
        apply_batch(table, df.where(F.col("lsn") > cut), epoch=1, cfg=cfg)
        assert any(table.catalog.current()["delta_files"].values())
        assert_state_equal(final_state_pdf(table), expected)
        assert fold_deltas(table)["folded"]  # and once everything is folded
        assert_state_equal(final_state_pdf(table), expected)


def test_mor_fold(spark, tmp_table_dir, changes_pdf):
    """MOR deltas fold into the base after mor_fold_every epochs; the
    resolved state is identical before and after the fold."""
    cfg = EngineConfig(num_buckets=8, mor_fold_every=2)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    df = to_spark(spark, changes_pdf)
    cut = int(changes_pdf["lsn"].iloc[len(changes_pdf) // 2])
    from pyspark.sql import functions as F

    m0 = apply_batch(table, df.where(F.col("lsn") <= cut), epoch=0, cfg=cfg)
    assert not m0.get("folded")
    snap = table.catalog.current()
    assert any(snap["delta_files"].values()) and not any(snap["files"].values())

    m1 = apply_batch(table, df.where(F.col("lsn") > cut), epoch=1, cfg=cfg)
    assert m1.get("folded")
    snap = table.catalog.current()
    assert only_carried_tombstones(snap) and any(snap["files"].values())
    assert_state_equal(final_state_pdf(table), expected_state_pdf(changes_pdf))


def _events(spark, rows, d_text=False):
    """Change events from ``(lsn, op, conv_id, turn_idx)`` tuples; a
    ``D`` carries text only with ``d_text``."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(lsn, op, c, t, "user", None if op == "D" and not d_text else f"text-{lsn}",
          None, ts, 64, 0, None)
         for lsn, op, c, t in rows],
        schema=CHANGES_SCHEMA,
    )


def _rewrite(table, rewriter, primary):
    """Run one bucket rewriter on ``table``; the feed-crossable ones
    return True."""
    from aqueduct_core_spark.catalog.table import bucket_of
    from aqueduct_core_spark.operators import antientropy, compact, erase

    if rewriter == "erase_conversations":
        # a key the table never held, in c1's bucket: only the rewrite
        # of that bucket touches c1
        other = next(k for k in (f"x{i}" for i in range(100))
                     if bucket_of(k, 2) == bucket_of("c1", 2))
        erase.erase_conversations(table, [other])
    elif rewriter == "redact_conversations":
        erase.redact_conversations(table, "text", "TEXT")
    elif rewriter == "repair_replica":
        antientropy.repair_replica(table, primary, buckets=[0, 1])
    elif rewriter == "rebucket":
        compact.rebucket(table, 4)
    else:
        assert getattr(compact, rewriter)(table)
        return True
    return False


@pytest.mark.parametrize("rewriter,d_text", [
    (None, False),
    ("fold_deltas", False),
    ("rewrite_data_files", False),
    ("rewrite_zorder", False),
    ("rebucket", False),
    ("erase_conversations", False),
    ("redact_conversations", False),
    ("redact_conversations", True),
    ("repair_replica", False),
])
def test_fold_keeps_tombstones_for_older_epochs(spark, tmp_path, rewriter, d_text):
    """Table state does not depend on epoch order across any bucket
    rewrite: epoch 0 deletes turn (c1, 0) at lsn 20 and conversation c2
    at lsn 21, and epoch 1 then carries their OLDER inserts (lsn 10,
    11) — with or without a rewrite between them, neither insert is
    visible.  The carried tombstones hold no payload, even of a ``D``
    that carried text, and are no new changes to the table's change
    feed, before or after they are folded again."""
    import pyarrow.parquet as pq

    from aqueduct_core_spark.catalog.table import TOMBSTONE_PREFIX
    from aqueduct_core_spark.operators.compact import fold_deltas

    cfg = EngineConfig(num_buckets=2, mor_fold_every=0)
    epoch0 = _events(spark, [(20, "D", "c1", 0), (21, "D", "c2", None),
                             (22, "I", "c3", 0)], d_text)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=2)
    apply_batch(table, epoch0, epoch=0, cfg=cfg)
    primary = None
    if rewriter == "repair_replica":
        primary = ParquetTranscriptTable.create(spark, str(tmp_path / "p"), num_buckets=2)
        apply_batch(primary, epoch0, epoch=0, cfg=cfg)
    v0 = table.catalog.current_version()
    feed_crossable = rewriter is None or _rewrite(table, rewriter, primary)
    tombs = [os.path.join(table.root, f) for fl in table.catalog.current()["delta_files"].values()
             for f in fl if f.startswith(TOMBSTONE_PREFIX)]
    apply_batch(table, _events(spark, [(10, "I", "c1", 0), (11, "I", "c2", 0)]),
                epoch=1, cfg=cfg)
    got = table.read_internal().select("conv_id", "turn_idx", LSN_COLUMN).collect()
    assert sorted(map(tuple, got)) == [("c3", 0, 22)]
    for c in ("c1", "c2"):
        assert table.read_conversation_direct(c).empty
    assert bool(tombs) == (rewriter is not None)
    for path in tombs if d_text else ():
        w = pq.read_table(path).column("w").combine_chunks()
        payload = [f.name for f in w.type if f.name not in ("lsn", "op")]
        assert "text" in payload
        for name in payload:
            assert w.field(name).null_count == len(w), (path, name)

    if feed_crossable:
        feed = sorted(
            (r["conv_id"], r["turn_idx"], r["op"], r[LSN_COLUMN])
            for r in table.changes_between(v0).collect()
        )
        assert feed == [("c1", 0, "I", 10), ("c2", 0, "I", 11)]
    assert fold_deltas(table)["folded"]
    assert sorted(map(tuple, table.read_internal()
                      .select("conv_id", "turn_idx", LSN_COLUMN).collect())) == [("c3", 0, 22)]
    assert table.changes_between(table.catalog.current_version() - 1).count() == 0


def test_in_order_replay_fold_writes_no_tombstones(spark, tmp_path):
    """A planned, lsn-ascending replay never sets the flag, so its folds
    rewrite live rows only and leave no delta file behind."""
    from aqueduct_core_spark.catalog.table import KEEP_TOMBSTONES
    from aqueduct_core_spark.operators.compact import fold_deltas
    from aqueduct_core_spark.streaming.pipeline import replay

    pdf = generate_changes_pdf(n_convs=40, seed=5)
    assert (pdf["op"] == "D").any()
    cfg = EngineConfig(num_buckets=4, mor_fold_every=2, max_events_per_trigger=200)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    replay(table, to_spark(spark, pdf), cfg)
    assert KEEP_TOMBSTONES not in table.catalog.current()["summary"]
    fold_deltas(table)
    assert not any(table.catalog.current()["delta_files"].values())
    assert_state_equal(final_state_pdf(table), expected_state_pdf(pdf))
