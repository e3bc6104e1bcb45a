"""Incremental SCD2 history sink: segment-equivalence vs the batch
operator, idempotent re-delivery, ordered-batch contract, and the
current-slice invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.generator import generate_changes
from aqueduct_core_spark.operators.scd2 import OutOfOrderBatch, Scd2History
from aqueduct_core_spark.operators.temporal import scd2_history


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("scd2sink") / "changes")
    generate_changes(spark, n_convs=50, seed=21).write.parquet(p)
    return spark.read.parquet(p)


def _norm(df):
    return df.select(
        "conv_id", "turn_idx", "valid_from_lsn", "valid_to_lsn",
        "end_reason", "is_current", "row_op", "text",
    )


def _assert_same(a, b):
    assert _norm(a).exceptAll(_norm(b)).count() == 0
    assert _norm(b).exceptAll(_norm(a)).count() == 0


def test_segmented_apply_equals_batch_operator(spark, log, tmp_path):
    """For an in-order segmentation of the log (including segments that
    split conversations mid-history), the incrementally-maintained
    history equals the one-pass batch operator over the full log."""
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    cuts = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]

    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=8)
    for i in range(len(cuts) - 1):
        seg = log.where((F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1]))
        m = h.apply(seg, epoch=i)
        assert m["mode"] in ("applied", "empty")

    _assert_same(h.read(), scd2_history(log))
    assert h._meta()["last_lsn"] == mx


def test_redelivered_epoch_skips_and_state_unchanged(spark, log, tmp_path):
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    half = mx // 2
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=8)
    h.apply(log.where(F.col("lsn") <= half), epoch=0)
    before = _norm(h.read()).toPandas()

    m = h.apply(log.where(F.col("lsn") <= half), epoch=0)  # re-delivery
    assert m["mode"] == "skipped"
    after = _norm(h.read()).toPandas()
    assert len(before) == len(after)

    h.apply(log.where(F.col("lsn") > half), epoch=1)
    _assert_same(h.read(), scd2_history(log))


def test_out_of_order_batch_fails_loud(spark, log, tmp_path):
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log.where(F.col("lsn") > mx // 2), epoch=0)
    with pytest.raises(OutOfOrderBatch):
        h.apply(log.where(F.col("lsn") <= mx // 2), epoch=1)


def test_empty_batch_advances_epoch_only(spark, log, tmp_path):
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    m = h.apply(log.where(F.lit(False)), epoch=0)
    assert m["mode"] == "empty"
    assert h.last_epoch() == 0 and h._meta()["last_lsn"] == -1
    assert h.read().count() == 0


def test_current_slice_matches_lww_state(spark, log, tmp_path):
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import LSN_COLUMN, OP_DELETE

    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=8)
    h.apply(log.where(F.col("lsn") <= mx // 3), epoch=0)
    h.apply(log.where(F.col("lsn") > mx // 3), epoch=1)

    cur = h.read().where(F.col("is_current")).select(
        "conv_id", "turn_idx", "text", F.col("valid_from_lsn").alias("lsn")
    )
    winners, _ = lww.resolve_batch(log, ["role", "text", "tool", "ts"])
    alive = winners.where(F.col("op") != OP_DELETE).select(
        "conv_id", "turn_idx", "text", F.col(LSN_COLUMN).alias("lsn")
    )
    assert cur.exceptAll(alive).count() == 0
    assert alive.exceptAll(cur).count() == 0


def test_expire_drops_unreferenced_generations(spark, log, tmp_path):
    import os

    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=2)
    h.apply(log.where(F.col("lsn") <= mx // 2), epoch=0)
    h.apply(log.where(F.col("lsn") > mx // 2), epoch=1)
    # every bucket was rewritten at epoch 1 (2 buckets, 50 convs) so the
    # epoch-0 generation is unreferenced
    removed = h.expire()
    assert removed == ["data-e0"]
    _assert_same(h.read(), scd2_history(log))
    assert not os.path.isdir(str(tmp_path / "h" / "data-e0"))


def test_history_rides_the_streaming_apply_loop(spark, log, tmp_path):
    """start_stream(history=...): the SCD2 history is maintained per
    committed epoch; a re-drain with a fresh checkpoint re-delivers
    every batch id and the history skips idempotently."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.streaming.pipeline import run_available_now

    import time

    # the history hook requires an lsn-ordered tail (the binlog/WAL
    # shape): append contiguous lsn ranges as separate files, oldest
    # first, so the file source delivers them in order
    src = str(tmp_path / "src")
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    cuts = [0, mx // 3, (2 * mx) // 3, mx + 1]
    for i in range(len(cuts) - 1):
        log.where(
            (F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1])
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic source order
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    h = Scd2History.create(spark, str(tmp_path / "hist"), num_buckets=4)
    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    run_available_now(
        spark, table, src, str(tmp_path / "ck"), cfg,
        max_files_per_trigger=1, history=h,
    )
    _assert_same(h.read(), scd2_history(log))
    n = h.read().count()

    run_available_now(
        spark, table, src, str(tmp_path / "ck2"), cfg,
        max_files_per_trigger=1, history=h,
    )
    assert h.read().count() == n
    _assert_same(h.read(), scd2_history(log))


def test_prune_closed_before_keeps_reconstructible_state(spark, log, tmp_path):
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log.where(F.col("lsn") <= mx // 2), epoch=0)
    h.apply(log.where(F.col("lsn") > mx // 2), epoch=1)

    cut = mx // 2
    full = scd2_history(log)
    m = h.prune_closed_before(cut, epoch=2)
    assert m["mode"] == "pruned" and m["pruned"] > 0
    kept = h.read()
    # exactly the expected survivors: open, or closed after the cut
    exp = full.where(F.col("is_current") | (F.col("valid_to_lsn") > cut))
    _assert_same(kept, exp)
    # current state untouched by retention
    assert kept.where(F.col("is_current")).count() == full.where(
        F.col("is_current")
    ).count()
    # re-delivered prune no-ops; ingest continues at the next epoch
    assert h.prune_closed_before(cut, epoch=2)["mode"] == "skipped"


def test_apply_overwrites_crash_debris(spark, log, tmp_path):
    """A crash between the data write and the meta swap leaves an
    unreferenced data-e{epoch} dir; the re-delivered epoch must
    overwrite it, not crash-loop on errorIfExists."""
    import os

    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    # simulate the torn write of epoch 0
    debris = tmp_path / "h" / "data-e0"
    (debris / "_BUCKET=0").mkdir(parents=True)
    (debris / "_BUCKET=0" / "junk.parquet").write_bytes(b"torn")

    m = h.apply(log.where(F.col("lsn") <= mx // 2), epoch=0)
    assert m["mode"] == "applied"
    _assert_same(
        h.read(), scd2_history(log.where(F.col("lsn") <= mx // 2))
    )


def test_prune_epoch_counter_is_independent_of_apply(spark, log, tmp_path):
    """A prune stamped with a huge epoch must NOT make subsequent
    streaming applies look re-delivered: the prune guard has its own
    counter, and history after prune + later applies still matches the
    batch operator on the surviving intervals."""
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    half = mx // 2
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log.where(F.col("lsn") <= half), epoch=0)

    pm = h.prune_closed_before(0, epoch=10_000)  # drops nothing (lsn 0)
    assert pm["mode"] == "pruned" and pm["pruned"] == 0
    # re-delivered prune no-ops
    assert h.prune_closed_before(0, epoch=10_000)["mode"] == "skipped"

    # the NEXT streaming batch id (1) must still apply
    m = h.apply(log.where(F.col("lsn") > half), epoch=1)
    assert m["mode"] == "applied"
    _assert_same(h.read(), scd2_history(log))
    assert h._meta()["last_lsn"] == mx
    # generations from both namespaces expire once unreferenced
    h.prune_closed_before(0, epoch=10_001)
    gone = h.expire()
    assert any(d.startswith("data-e") for d in gone)
    assert any(d.startswith("prune-e") for d in gone)
    _assert_same(h.read(), scd2_history(log))


def test_history_commit_conflict_fails_loud(spark, log, tmp_path):
    """A compliance op racing a streaming apply must not silently
    publish stale meta (regressing the watermark and reverting other
    buckets' generation dirs): the CAS claim makes the loser raise,
    mirroring the table catalog's CommitConflict."""
    from aqueduct_core_spark.operators.scd2 import HistoryCommitConflict

    split = int(log.agg(F.max("lsn")).collect()[0][0]) // 2
    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log.where(F.col("lsn") < split), epoch=0)

    stale = h._meta()  # a slow compliance op read meta here...
    h.apply(log.where(F.col("lsn") >= split), epoch=1)  # ...apply wins
    with pytest.raises(HistoryCommitConflict):
        h._commit_meta(stale, int(stale["version"]))
    # the winner's state is intact
    assert h.last_epoch() == 1
    _assert_same(h.read(), scd2_history(log))


def test_history_meta_roll_forward_after_crash(spark, log, tmp_path):
    """Crash between the CAS claim and the meta pointer swap: the next
    reader publishes the claimed commit (its data generation was fully
    written before the claim), so the commit is never lost and later
    writers do not conflict forever."""
    import json
    import os

    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log, epoch=0)
    meta = h._meta()

    crashed = dict(meta)
    crashed["epoch"] = 99
    crashed["version"] = int(meta["version"]) + 1
    cdir = os.path.join(h.root, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, f"v{crashed['version']}"), "w") as f:
        json.dump(crashed, f)  # claim landed; pointer swap did not

    rolled = h._meta()
    assert rolled["epoch"] == 99
    assert rolled["version"] == int(meta["version"]) + 1
    # and the pointer itself was repaired on disk
    with open(h._meta_path) as f:
        assert json.load(f)["epoch"] == 99


def test_compliance_sweep_skips_inflight_epoch_dirs(spark, log, tmp_path):
    """The physical sweep after erase/redact must not gut a generation
    dir a RACING apply is writing: dirs whose epoch exceeds the
    committed watermark (in-flight or to-be-retried) are skipped, and
    dirs created after the op's pre-commit listing are never
    candidates."""
    import os
    import shutil

    from aqueduct_core_spark.catalog.table import bucket_of

    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    h.apply(log, epoch=0)
    key = h.read().select("conv_id").orderBy("conv_id").first()[0]
    b = bucket_of(key, 4)

    # simulate a racing apply's in-flight generation for a FUTURE epoch
    # holding the touched bucket (its meta commit has not landed yet)
    inflight = os.path.join(h.root, "data-e99", f"_hbucket={b}")
    src = os.path.join(h.root, h._meta()["bucket_dirs"][str(b)], f"_hbucket={b}")
    shutil.copytree(src, inflight)

    h.erase([key])
    assert os.path.isdir(inflight)  # in-flight epoch dir untouched
    # while the superseded committed generation's copy was swept
    assert not os.path.isdir(src)


def test_expire_spares_in_flight_generations(spark, log, tmp_path):
    """A generation dir is unreferenced between its write and its
    writer's CAS commit; expire() must not sweep it (the commit would
    succeed referencing deleted files).  Epoch-named dirs above the
    committed counter are skipped structurally; uuid-named rewrite dirs
    are age-guarded."""
    import os

    h = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=2)
    h.apply(log, epoch=0)
    # simulate in-flight writers: next apply epoch, next prune epoch,
    # and a fresh erase rewrite dir
    for d in ("data-e1", "prune-e0", "erase-deadbeef"):
        os.makedirs(str(tmp_path / "h" / d))
    gone = h.expire()
    assert gone == []
    for d in ("data-e1", "prune-e0", "erase-deadbeef"):
        assert os.path.isdir(str(tmp_path / "h" / d)), d
    # quiesced sweep (grace 0) reclaims the uuid-named debris;
    # epoch-named dirs above the counters stay structurally protected
    gone = h.expire(grace_s=0)
    assert gone == ["erase-deadbeef"]
