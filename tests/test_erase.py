"""Key erasure across every engine-owned storage surface.

The reference keeps deletion tombstones on purpose (late consumers must
converge — SQLiteQueries.java:54-55); GDPR erasure is the opposite
contract: the payload must stop existing — in the table's live files,
in the change log it would be replayed from, and in the SCD2 history
that keeps superseded text by design.
"""

import os

import pyspark.sql.functions as F
import pytest

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes
from aqueduct_core_spark.operators.erase import erase_conversations, erase_from_log
from aqueduct_core_spark.streaming.pipeline import replay


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def applied_table(spark, tmp_path):
    root = str(tmp_path / "transcripts")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=8)
    log = generate_changes(spark, n_convs=120, seed=31)
    replay(table, log, EngineConfig(num_buckets=8))
    return table, log


def _pick_keys(table, n=3):
    """Deterministic erasure targets that are alive in the final state."""
    return [
        r[0]
        for r in table.read()
        .select("conv_id")
        .distinct()
        .orderBy("conv_id")
        .limit(n)
        .collect()
    ]


def test_erase_removes_keys_and_preserves_everything_else(spark, applied_table):
    table, _ = applied_table
    keys = _pick_keys(table)
    before = table.read()
    others_before = _rows(before.join(
        spark.createDataFrame([(k,) for k in keys], "conv_id string"),
        "conv_id", "left_anti"))
    wm_epoch, wm_lsn = table.last_committed_epoch(), table.last_committed_lsn()

    report = erase_conversations(table, keys)
    assert report["keys"] == len(keys)

    after = table.read()
    assert after.where(F.col("conv_id").isin(keys)).count() == 0
    assert _rows(after) == others_before  # untouched convs bit-identical
    # point lookup path agrees
    assert table.read_conversation(keys[0]).count() == 0
    # exactly-once watermark untouched: erasure rewrites history,
    # it does not ban the future
    assert table.last_committed_epoch() == wm_epoch
    assert table.last_committed_lsn() == wm_lsn


def test_erase_purge_physically_removes_text(spark, applied_table):
    table, _ = applied_table
    keys = _pick_keys(table, n=2)
    marker = keys[0].encode()

    def files_with_marker():
        hits = []
        for dirpath, _, files in os.walk(table.root):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                with open(os.path.join(dirpath, fn), "rb") as f:
                    if marker in f.read():
                        hits.append(os.path.join(dirpath, fn))
        return hits

    assert files_with_marker()  # present before
    erase_conversations(table, keys, purge=True)
    # purge expired old snapshots + swept their files: the key's bytes
    # are gone from disk, not just from the current manifest
    assert files_with_marker() == []
    # and the table still reads fine
    assert table.read().count() > 0


def test_erase_conflicts_with_racing_epoch(spark, applied_table, monkeypatch):
    """The erase commit is pinned to the snapshot it read — a writer
    landing mid-erase must surface as CommitConflict, never be
    silently dropped by the bucket replace."""
    from aqueduct_core_spark.catalog.snapshot import CommitConflict

    table, log = applied_table
    keys = _pick_keys(table)
    write = ParquetTranscriptTable.write_bucket_data

    def write_then_race(self, *args, **kwargs):
        out = write(self, *args, **kwargs)
        # another writer lands between the erase's write and its commit
        monkeypatch.setattr(ParquetTranscriptTable, "write_bucket_data", write)
        replay(table, generate_changes(spark, n_convs=10, seed=77)
               .withColumn("lsn", F.col("lsn") + F.lit(10_000_000)),
               EngineConfig(num_buckets=8))
        return out

    monkeypatch.setattr(ParquetTranscriptTable, "write_bucket_data", write_then_race)
    with pytest.raises(CommitConflict):
        erase_conversations(table, keys)
    assert table.read().where(F.col("conv_id").isin(keys)).count() > 0


def test_erase_from_log_prevents_resurrection(spark, tmp_path):
    log = generate_changes(spark, n_convs=80, seed=13)
    log_dir = str(tmp_path / "log")
    log.repartition(6, "lsn").write.parquet(log_dir)

    keys = [r[0] for r in spark.read.parquet(log_dir)
            .select("conv_id").distinct().orderBy("conv_id").limit(3).collect()]
    n_key_rows = spark.read.parquet(log_dir).where(F.col("conv_id").isin(keys)).count()
    others_before = _rows(
        spark.read.parquet(log_dir).where(~F.col("conv_id").isin(keys)))

    report = erase_from_log(spark, log_dir, keys)
    assert report["rows_erased"] == n_key_rows
    assert report["files_rewritten"] + report["files_removed"] >= 1

    cleaned = spark.read.parquet(log_dir)
    assert cleaned.where(F.col("conv_id").isin(keys)).count() == 0
    assert _rows(cleaned) == others_before  # other rows byte-identical

    # bootstrap from the cleaned log: the keys stay gone
    root = str(tmp_path / "t2")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=8)
    replay(table, cleaned, EngineConfig(num_buckets=8))
    assert table.read().where(F.col("conv_id").isin(keys)).count() == 0

    # idempotent: rerun no-ops
    again = erase_from_log(spark, log_dir, keys)
    assert again == {"files_rewritten": 0, "files_removed": 0, "rows_erased": 0}


def test_erase_scd2_history(spark, tmp_path):
    from aqueduct_core_spark.operators.scd2 import Scd2History

    log = generate_changes(spark, n_convs=60, seed=19)
    split = int(log.agg(F.max("lsn")).collect()[0][0]) // 2
    h = Scd2History.create(spark, str(tmp_path / "hist"), num_buckets=8)
    h.apply(log.where(F.col("lsn") < split), epoch=0)
    h.apply(log.where(F.col("lsn") >= split), epoch=1)

    keys = [r[0] for r in h.read().select("conv_id").distinct()
            .orderBy("conv_id").limit(2).collect()]
    others = _rows(h.read().where(~F.col("conv_id").isin(keys)))
    n_key = h.read().where(F.col("conv_id").isin(keys)).count()
    assert n_key > 0

    report = h.erase(keys)
    assert report["mode"] == "erased"
    assert report["erased"] == n_key
    assert h.read().where(F.col("conv_id").isin(keys)).count() == 0
    assert _rows(h.read().where(~F.col("conv_id").isin(keys))) == others

    # old generation dirs (still holding the text) sweep away
    h.expire()
    marker = keys[0].encode()
    for dirpath, _, files in os.walk(str(tmp_path / "hist")):
        for fn in files:
            if fn.endswith(".parquet"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    assert marker not in f.read()


def test_redact_table_whole_and_scoped(spark, applied_table):
    from aqueduct_core_spark.operators.erase import redact_conversations

    table, _ = applied_table
    keys = _pick_keys(table, n=2)
    before = {(r[0], r[1]): (r[2], r[3]) for r in
              table.read().select("conv_id", "turn_idx", "text", "role").collect()}
    wm = (table.last_committed_epoch(), table.last_committed_lsn())

    # scoped: only the named conversations' text changes
    redact_conversations(table, r"[0-9]+", "<num>", conv_ids=keys)
    mid = {(r[0], r[1]): (r[2], r[3]) for r in
           table.read().select("conv_id", "turn_idx", "text", "role").collect()}
    assert set(mid) == set(before)  # no row added/removed
    for k, (text, role) in mid.items():
        if k[0] in keys:
            assert text is None or not any(c.isdigit() for c in text)
        else:
            assert (text, role) == before[k]

    # corpus-wide: every row's text is scrubbed
    redact_conversations(table, r"[0-9]+", "<num>")
    for r in table.read().select("text").collect():
        assert r[0] is None or not any(c.isdigit() for c in r[0])
    # watermark untouched by both commits
    assert (table.last_committed_epoch(), table.last_committed_lsn()) == wm


def test_redact_log_then_replay_matches_table_redaction(spark, tmp_path):
    from aqueduct_core_spark.operators.erase import (
        redact_conversations,
        redact_log,
    )

    log = generate_changes(spark, n_convs=60, seed=7)
    log_dir = str(tmp_path / "log")
    log.repartition(4, "lsn").write.parquet(log_dir)

    # table A: replay then redact in place
    ta = ParquetTranscriptTable.create(spark, str(tmp_path / "ta"), num_buckets=8)
    replay(ta, spark.read.parquet(log_dir), EngineConfig(num_buckets=8))
    redact_conversations(ta, r"[0-9]+", "<num>")

    # log redaction, then table B replays the clean log
    rep = redact_log(spark, log_dir, r"[0-9]+", "<num>")
    assert rep["files_rewritten"] >= 1
    cleaned = spark.read.parquet(log_dir)
    assert cleaned.count() == log.count()  # row-invariant
    for r in cleaned.select("text").collect():
        assert r[0] is None or not any(c.isdigit() for c in r[0])

    tb = ParquetTranscriptTable.create(spark, str(tmp_path / "tb"), num_buckets=8)
    replay(tb, cleaned, EngineConfig(num_buckets=8))
    assert _rows(ta.read()) == _rows(tb.read())


def test_purge_reports_tag_retention_and_delete_tag_releases(spark, applied_table):
    """A tagged snapshot pins its files through expire_snapshots: the
    purge must REPORT the retention instead of silently claiming
    physical deletion; delete_tag + re-expire completes it."""
    from aqueduct_core_spark.operators.compact import expire_snapshots

    table, _ = applied_table
    keys = _pick_keys(table, n=1)
    marker = keys[0].encode()
    table.catalog.tag("release-1")  # pins the pre-erase version

    def marker_on_disk():
        for dirpath, _, files in os.walk(table.root):
            for fn in files:
                if fn.endswith(".parquet"):
                    with open(os.path.join(dirpath, fn), "rb") as f:
                        if marker in f.read():
                            return True
        return False

    report = erase_conversations(table, keys, purge=True)
    assert report["retained_by_tags"] == {"release-1": report["snapshot_id"] - 1}
    assert marker_on_disk()  # honest: the tag still holds the bytes
    # the tagged version still reads the key (that's what a tag means)
    assert (table.read_as_of("release-1")
            .where(F.col("conv_id").isin(keys)).count() > 0)

    assert table.catalog.delete_tag("release-1") == report["snapshot_id"] - 1
    expire_snapshots(table, keep_last=1)
    assert not marker_on_disk()  # now physically gone


def test_erase_audit_stamp(spark, applied_table):
    """The erase commit carries an order-insensitive digest of the key
    set: an auditor presenting the key list out-of-band can verify the
    erasure landed, while the stamp itself retains no identifiers."""
    from aqueduct_core_spark.operators.erase import _keys_digest

    table, _ = applied_table
    keys = _pick_keys(table, n=2)
    report = erase_conversations(table, keys)
    summary = table.catalog.load(report["snapshot_id"])["summary"]
    assert summary["aqueduct.last-erase-audit"] == _keys_digest(list(reversed(keys)))
    for k in keys:
        assert k not in summary["aqueduct.last-erase-audit"]


def test_erase_everywhere_sweeps_all_surfaces(spark, tmp_path):
    """The one-call compliance sweep: table, log, SCD2 history,
    materialized view and dedup index all stop knowing the keys."""
    from aqueduct_core_spark.functions.dedup_index import DedupIndex
    from aqueduct_core_spark.operators.erase import erase_everywhere
    from aqueduct_core_spark.operators.rollup import ConvRollup
    from aqueduct_core_spark.operators.scd2 import Scd2History

    log = generate_changes(spark, n_convs=80, seed=47)
    log_dir = str(tmp_path / "log")
    log.repartition(4, "lsn").write.parquet(log_dir)

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    replay(table, spark.read.parquet(log_dir), EngineConfig(num_buckets=8))
    hist = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=8)
    hist.apply(spark.read.parquet(log_dir), epoch=0)
    view = ConvRollup.create(spark, str(tmp_path / "v"), num_buckets=8)
    view.refresh(table)
    index = DedupIndex.create(spark, str(tmp_path / "ix"), num_parts=4)
    from aqueduct_core_spark.operators.rollup import conversation_text
    index.add(
        conversation_text(table.read())
        .select(F.col("conv_id").alias("doc_id"), F.col("conv_text").alias("text"))
    )

    keys = _pick_keys(table, n=2)
    report = erase_everywhere(
        spark, keys,
        tables=[table], log_dirs=[log_dir], histories=[hist],
        views=[(table, view)], indexes=[index],
    )
    assert len(report["tables"]) == len(report["logs"]) == 1

    assert table.read().where(F.col("conv_id").isin(keys)).count() == 0
    assert spark.read.parquet(log_dir).where(F.col("conv_id").isin(keys)).count() == 0
    assert hist.read().where(F.col("conv_id").isin(keys)).count() == 0
    assert view.read().where(F.col("conv_id").isin(keys)).count() == 0
    probe = spark.createDataFrame([(k, "x") for k in keys], "doc_id string, text string")
    # retraction: the erased ids no longer match as historical members
    hits = index.check(probe)
    assert hits.where(F.col("id_indexed").isin(keys)).count() == 0


def test_redact_scd2_history_reaches_superseded_versions(spark, tmp_path):
    """The history is where superseded text lives — redaction must
    rewrite CLOSED versions too, with intervals/keys/lsns invariant."""
    from aqueduct_core_spark.operators.scd2 import Scd2History

    log = generate_changes(spark, n_convs=50, seed=11)
    split = int(log.agg(F.max("lsn")).collect()[0][0]) // 2
    h = Scd2History.create(spark, str(tmp_path / "hist"), num_buckets=8)
    h.apply(log.where(F.col("lsn") < split), epoch=0)
    h.apply(log.where(F.col("lsn") >= split), epoch=1)

    before = h.read().cache()
    skeleton_before = _rows(before.drop("text"))
    assert before.where(~F.col("is_current")
                        & F.col("text").rlike("[0-9]")).count() > 0

    rep = h.redact(r"[0-9]+", "<num>")
    assert rep["mode"] == "redacted"
    after = h.read().cache()
    # every version — open and closed — scrubbed; everything else intact
    assert after.where(F.col("text").rlike("[0-9]")).count() == 0
    assert _rows(after.drop("text")) == skeleton_before

    # physical: no current or superseded generation file keeps digits
    # inside an 'evt' payload marker after the sweep
    h.expire()
    for dirpath, _, files in os.walk(str(tmp_path / "hist")):
        for fn in files:
            if fn.endswith(".parquet"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    assert b"evt 1" not in f.read()


def test_duplicate_keys_do_not_fan_out(spark, tmp_path):
    """A compliance request list with a repeated key must not duplicate
    rows through the redact paths' left joins — each surface's rewrite
    is row-count- and key-uniqueness-invariant under duplicate keys."""
    from aqueduct_core_spark.operators.erase import (
        redact_conversations,
        redact_log,
    )
    from aqueduct_core_spark.operators.scd2 import Scd2History

    log = generate_changes(spark, n_convs=40, seed=5)
    log_dir = str(tmp_path / "log")
    log.repartition(2, "lsn").write.parquet(log_dir)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"),
                                          num_buckets=8)
    replay(table, spark.read.parquet(log_dir), EngineConfig(num_buckets=8))
    key = _pick_keys(table, n=1)[0]
    dups = [key, key, key]

    n_table = table.read().count()
    out = redact_conversations(table, r"[0-9]+", "<num>", conv_ids=dups)
    assert table.read().count() == n_table
    assert (table.read().groupBy("conv_id", "turn_idx").count()
            .where("count > 1").count()) == 0
    summary = table.catalog.load(out["snapshot_id"])["summary"]
    assert summary["aqueduct.last-redact-keys"] == 1
    # erase counts the keys its audit digest covers
    out = erase_conversations(table, dups)
    summary = table.catalog.load(out["snapshot_id"])["summary"]
    assert out["keys"] == summary["aqueduct.last-erase-keys"] == 1
    assert summary["aqueduct.last-erase-audit"].endswith(":1")

    n_log = spark.read.parquet(log_dir).count()
    redact_log(spark, log_dir, r"[0-9]+", "<num>", conv_ids=dups)
    cleaned = spark.read.parquet(log_dir)
    assert cleaned.count() == n_log
    assert cleaned.groupBy("lsn").count().where("count > 1").count() == 0

    h = Scd2History.create(spark, str(tmp_path / "hist"), num_buckets=8)
    h.apply(log, epoch=0)
    n_hist = h.read().count()
    h.redact(r"[0-9]+", "<num>", conv_ids=dups)
    assert h.read().count() == n_hist
    # erase with duplicates still reports the true per-row count
    n_key = h.read().where(F.col("conv_id") == key).count()
    rep = h.erase(dups)
    assert rep["erased"] == n_key
    assert h.read().count() == n_hist - n_key


def test_erase_everywhere_rejects_empty_keys(spark):
    """A malformed (empty) compliance request fails loud on the sweep
    entry point instead of returning a success-shaped empty report."""
    from aqueduct_core_spark.operators.erase import erase_everywhere

    with pytest.raises(ValueError):
        erase_everywhere(spark, [], indexes=[object()])


def test_erase_from_log_under_percent_encoded_dir(spark, tmp_path):
    """input_file_name() hands back percent-encoded file: URIs; the
    footer counts (pyarrow) and the atomic swap (os.replace) need the
    DECODED local path — a log under a directory with a space must
    rewrite, not FileNotFoundError up front."""
    log = generate_changes(spark, n_convs=40, seed=7)
    log_dir = str(tmp_path / "my logs" / "log")
    log.repartition(3, "lsn").write.parquet(log_dir)

    keys = [r[0] for r in spark.read.parquet(log_dir)
            .select("conv_id").distinct().orderBy("conv_id").limit(2).collect()]
    report = erase_from_log(spark, log_dir, keys)
    assert report["rows_erased"] > 0
    cleaned = spark.read.parquet(log_dir)
    assert cleaned.where(F.col("conv_id").isin(keys)).count() == 0
