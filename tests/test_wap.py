"""Write-audit-publish and named tags.

WAP: stage an epoch's commit unpublished, audit the staged state, then
publish (atomic pointer swap) or abandon (manifest removed, data files
orphaned).  The Iceberg-WAP analog of the reference's pre-publish
validation, layered on the snapshot catalog's manifest claim.
"""

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.snapshot import CommitConflict
from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes
from aqueduct_core_spark.operators.batching import plan_triggers
from aqueduct_core_spark.operators.compact import remove_orphan_files
from aqueduct_core_spark.operators.merge import apply_audited, apply_batch
from aqueduct_core_spark.verify import states_equal


def _log_and_ranges(spark, cfg):
    log = generate_changes(spark, n_convs=40, seed=45).cache()
    ranges = plan_triggers(log, max_events=cfg.max_events_per_trigger,
                           max_bytes=1 << 40)
    return log, ranges


def _batch(log, r):
    return log.where(F.col("lsn").between(r.start_lsn, r.end_lsn))


def test_wap_pass_publishes_and_matches_plain_apply(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=400)
    log, ranges = _log_and_ranges(spark, cfg)

    plain = ParquetTranscriptTable.create(spark, str(tmp_path / "plain"), num_buckets=4)
    wap = ParquetTranscriptTable.create(spark, str(tmp_path / "wap"), num_buckets=4)
    audits = {
        "nonempty": lambda df: df.count() > 0,
        "no_null_keys": lambda df: df.where(F.col("conv_id").isNull()).count() == 0,
    }
    for i, r in enumerate(ranges):
        apply_batch(plain, _batch(log, r), epoch=i, cfg=cfg, batch_max_lsn=r.end_lsn)
        m = apply_audited(wap, _batch(log, r), epoch=i, audits=audits, cfg=cfg,
                          batch_max_lsn=r.end_lsn)
        assert m["published"] is True and m["audit_failures"] == []
    assert states_equal(wap.read_internal(), plain.read_internal())
    assert wap.catalog.staged_version() is None
    log.unpersist()


def test_wap_fail_abandons_and_retry_converges(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    log, ranges = _log_and_ranges(spark, cfg)
    (r,) = ranges

    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    v0 = t.catalog.current_version()
    m = apply_audited(
        t, _batch(log, r), epoch=0,
        audits={"always_fails": lambda df: False}, cfg=cfg, batch_max_lsn=r.end_lsn,
    )
    # nothing published: version unchanged, state empty, watermark unmoved
    assert m["published"] is False and m["audit_failures"] == ["always_fails"]
    assert t.catalog.current_version() == v0
    assert t.catalog.staged_version() is None
    assert t.read().count() == 0
    assert t.last_committed_epoch() == -1

    # the abandoned epoch's files are unreferenced -> orphan cleanup
    removed = remove_orphan_files(t, older_than_s=0)
    assert removed > 0

    # retry with a passing audit converges to the plain apply
    m2 = apply_audited(
        t, _batch(log, r), epoch=0,
        audits={"ok": lambda df: True}, cfg=cfg, batch_max_lsn=r.end_lsn,
    )
    assert m2["published"] is True
    plain = ParquetTranscriptTable.create(spark, str(tmp_path / "plain"), num_buckets=4)
    apply_batch(plain, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn)
    assert states_equal(t.read_internal(), plain.read_internal())
    log.unpersist()


def test_wap_staged_invisible_until_publish(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    log, ranges = _log_and_ranges(spark, cfg)
    (r,) = ranges

    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    apply_batch(t, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    v = t.catalog.staged_version()
    assert v == t.catalog.current_version() + 1
    # readers still see the empty pre-stage state; the pinned staged
    # read sees the data
    assert t.read().count() == 0
    staged_rows = t.read_internal(version=v).count()
    assert staged_rows > 0
    # a concurrent writer cannot sneak past the staged manifest
    with pytest.raises(CommitConflict):
        apply_batch(t, _batch(log, r), epoch=1, cfg=cfg, batch_max_lsn=r.end_lsn)

    t.catalog.publish(v)
    assert t.read().count() == staged_rows
    assert t.last_committed_epoch() == 0
    log.unpersist()


def test_wap_crash_recovery_same_epoch_restages(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    log, ranges = _log_and_ranges(spark, cfg)
    (r,) = ranges

    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    # crash between stage and publish
    apply_batch(t, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    assert t.catalog.staged_version() is not None

    # rerun of the SAME epoch abandons the dead attempt and proceeds
    m = apply_audited(t, _batch(log, r), epoch=0, audits={"ok": lambda df: True},
                      cfg=cfg, batch_max_lsn=r.end_lsn)
    assert m["published"] is True
    assert t.last_committed_epoch() == 0

    # a DIFFERENT epoch refuses to destroy an in-flight stage
    apply_batch(t, _batch(log, r), epoch=1, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    with pytest.raises(RuntimeError, match="in flight"):
        apply_audited(t, _batch(log, r), epoch=2, audits={"ok": lambda df: True},
                      cfg=cfg, batch_max_lsn=r.end_lsn)
    log.unpersist()


def test_tags_pin_versions_and_survive_expiry(spark, tmp_path):
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=300,
                       mor_fold_every=10**9)
    log, ranges = _log_and_ranges(spark, cfg)

    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    apply_batch(t, _batch(log, ranges[0]), epoch=0, cfg=cfg,
                batch_max_lsn=ranges[0].end_lsn)
    tagged_v = t.tag("train-run-1")
    tagged_rows = t.read_as_of(tagged_v).count()

    for i, r in enumerate(ranges[1:], start=1):
        apply_batch(t, _batch(log, r), epoch=i, cfg=cfg, batch_max_lsn=r.end_lsn)
    assert t.catalog.current_version() > tagged_v

    # tag resolves by name; content identical to the pinned version
    assert t.catalog.resolve("train-run-1") == tagged_v
    assert t.read_as_of("train-run-1").count() == tagged_rows

    # expiry keeps the tagged version even with keep_last=1
    t.catalog.expire_snapshots(keep_last=1)
    assert tagged_v in t.catalog.history()
    assert t.read_as_of("train-run-1").count() == tagged_rows

    # immutability: re-tagging the name raises; unknown tags fail loud
    with pytest.raises(CommitConflict):
        t.tag("train-run-1")
    with pytest.raises(KeyError):
        t.read_as_of("no-such-tag")
    log.unpersist()


def test_wap_publish_abandon_decision_is_single_winner(spark, tmp_path):
    """The publish-vs-abandon decision on one staged snapshot has
    exactly one winner (O_EXCL stage-id claim): the loser raises
    instead of corrupting the pointer or destroying published work."""
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    log, ranges = _log_and_ranges(spark, cfg)
    (r,) = ranges

    # publish wins -> abandon refuses (version now published)
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t1"), num_buckets=4)
    apply_batch(t, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    v = t.catalog.staged_version()
    t.catalog.publish(v)
    with pytest.raises(ValueError, match="published"):
        t.catalog.abandon(v)
    assert t.read().count() > 0

    # abandon wins -> publish fails loud (manifest gone), repeat abandon
    # is a no-op, and restaging the same version gets a FRESH decision
    t2 = ParquetTranscriptTable.create(spark, str(tmp_path / "t2"), num_buckets=4)
    apply_batch(t2, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    v2 = t2.catalog.staged_version()
    t2.catalog.abandon(v2)
    with pytest.raises(FileNotFoundError):
        t2.catalog.publish(v2)
    t2.catalog.abandon(v2)  # idempotent
    apply_batch(t2, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    assert t2.catalog.staged_version() == v2
    t2.catalog.publish(v2)  # new stage-id -> new decision claim
    assert t2.last_committed_epoch() == 0

    # the raw double-decision race: second decision on one stage loses
    t3 = ParquetTranscriptTable.create(spark, str(tmp_path / "t3"), num_buckets=4)
    apply_batch(t3, _batch(log, r), epoch=0, cfg=cfg, batch_max_lsn=r.end_lsn,
                publish=False)
    v3 = t3.catalog.staged_version()
    snap = t3.catalog.load(v3)
    t3.catalog._claim_decision(snap, "abandon")  # simulate racing winner
    with pytest.raises(CommitConflict, match="decided abandon"):
        t3.catalog.publish(v3)
    log.unpersist()
