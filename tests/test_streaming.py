"""Structured Streaming apply loop: availableNow drain, checkpoint
recovery, exactly-once across crash-replay (SURVEY §2.9 T5/T6)."""

import glob
import os

import pytest

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import expected_state_pdf, generate_changes_pdf
from aqueduct_core_spark.streaming.pipeline import replay, resume_lsn, run_available_now
from tests.test_merge import assert_state_equal, final_state_pdf, to_spark


@pytest.fixture()
def log_dir(tmp_path, spark):
    """Change log written as several parquet files (stream source)."""
    pdf = generate_changes_pdf(30, seed=42)
    d = str(tmp_path / "changes")
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        to_spark(spark, pdf.iloc[a:b]).coalesce(1).write.parquet(
            os.path.join(d, f"seg-{i}"), mode="overwrite"
        )
    # flatten: move part files up so the dir is a flat stream source
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(d, "seg-*", "*.parquet")))):
        os.rename(f, os.path.join(flat, f"{i:04d}.parquet"))
    return flat, pdf


def test_available_now_stream(spark, tmp_path, log_dir):
    flat, pdf = log_dir
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    run_available_now(
        spark, table, flat, str(tmp_path / "ckpt"), cfg, max_files_per_trigger=1
    )
    assert_state_equal(final_state_pdf(table), expected_state_pdf(pdf))
    # one epoch per file-trigger
    offs = table.read_offsets().toPandas()
    assert len(offs) == 3


def test_stream_resume_with_new_data(spark, tmp_path, log_dir):
    flat, pdf = log_dir
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    run_available_now(spark, table, flat, ckpt, cfg)

    # append a new log segment, resume from the same checkpoint
    extra = generate_changes_pdf(30, seed=42).iloc[:50].copy()
    extra["lsn"] = extra["lsn"] + 100_000_000
    extra["op"] = extra["op"].where(extra["op"] != "I", "U")
    to_spark(spark, extra).coalesce(1).write.parquet(str(tmp_path / "seg-x"))
    for i, f in enumerate(glob.glob(str(tmp_path / "seg-x" / "*.parquet"))):
        os.rename(f, os.path.join(flat, f"9{i:03d}.parquet"))

    run_available_now(spark, table, flat, ckpt, cfg)
    full = pdf.copy()
    import pandas as pd

    combined = pd.concat([full, extra], ignore_index=True).sort_values("lsn")
    assert_state_equal(final_state_pdf(table), expected_state_pdf(combined))


def test_crash_replay_is_idempotent(spark, tmp_path, log_dir):
    """Simulate a crash after MERGE commit but before checkpoint write:
    the same batch id is re-delivered → snapshot epoch stamp skips it."""
    flat, pdf = log_dir
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    run_available_now(spark, table, flat, str(tmp_path / "ckpt-a"), cfg)
    v = table.catalog.current_version()
    sum_before = final_state_pdf(table)

    # fresh checkpoint ⇒ Spark re-delivers everything from batch 0
    run_available_now(spark, table, flat, str(tmp_path / "ckpt-b"), cfg)
    assert_state_equal(final_state_pdf(table), sum_before)
    assert table.catalog.current_version() == v  # all skips, no commits


def test_batch_replay_with_trigger_budgets(spark, tmp_path, log_dir):
    _, pdf = log_dir
    cfg = EngineConfig(num_buckets=8, max_events_per_trigger=300, max_bytes_per_trigger=10**9)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t2"), num_buckets=8)
    metrics = replay(table, to_spark(spark, pdf), cfg)
    assert len(metrics) >= 2  # budget forced multiple triggers
    assert_state_equal(final_state_pdf(table), expected_state_pdf(pdf))
    assert resume_lsn(table) == int(pdf["lsn"].max()) + 1

    # resume replay: nothing pending → no new epochs
    again = replay(table, to_spark(spark, pdf), cfg)
    assert again == []


def test_tail_loop_pacing_adapts(spark, tmp_path):
    """X7 closed-loop: the tail derives each poll delay from the
    MEASURED drain time (reference Retry-After fed by query time) — a
    busy drain produces a longer back-off than an idle one, new data
    arriving between polls is applied, and exactly-once holds across
    drains."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes_pdf
    from aqueduct_core_spark.schema import CHANGES_SCHEMA
    from aqueduct_core_spark.streaming.pipeline import tail_loop
    from aqueduct_core_spark.verify import consistency_sum, table_consistency_sum

    changes_dir = str(tmp_path / "changes")
    pdf = generate_changes_pdf(n_convs=120, seed=21)
    mid = int(pdf["lsn"].median())
    first, second = pdf[pdf["lsn"] <= mid], pdf[pdf["lsn"] > mid]
    spark.createDataFrame(first, schema=CHANGES_SCHEMA).write.parquet(changes_dir)

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        if len(sleeps) == 1:  # new data lands between poll 1 and poll 2
            spark.createDataFrame(second, schema=CHANGES_SCHEMA).write.mode(
                "append"
            ).parquet(changes_dir)

    recs = tail_loop(
        spark, table, changes_dir, str(tmp_path / "ckpt"),
        EngineConfig(num_buckets=4), iterations=3,
        node_count=4, pool_size=1, floor_ms=100, sleep_fn=fake_sleep,
    )
    assert len(recs) == 3 and len(sleeps) == 2
    # pacing follows measured time: retry == clamp(node_count * q / pool)
    for r in recs:
        expect = max(100, -(-r["query_time_ms"] * 4 // 1))
        assert abs(r["retry_after_ms"] - expect) <= 1, r
    # the busy drains paced a longer back-off than an idle-ish one
    assert max(r["retry_after_ms"] for r in recs) > min(
        r["retry_after_ms"] for r in recs
    )
    # all data (including late-arriving) applied exactly once
    full = spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)
    assert consistency_sum(full) == table_consistency_sum(table.read_internal())


def test_dedup_redeliveries_across_batches(spark, tmp_path, log_dir):
    """At-least-once transport: the same log file delivered twice, in
    different micro-batches (maxFilesPerTrigger=1).  The
    dropDuplicatesWithinWatermark stage emits every event exactly once
    — cross-batch duplicates are dropped by the keyed dedup state."""
    import shutil

    from aqueduct_core_spark.schema import CHANGES_SCHEMA
    from aqueduct_core_spark.streaming.pipeline import dedup_redeliveries

    flat, pdf = log_dir
    dup = str(tmp_path / "dup")
    os.makedirs(dup)
    for f in sorted(glob.glob(os.path.join(flat, "*.parquet"))):
        base = os.path.basename(f)
        shutil.copy(f, os.path.join(dup, base))
        shutil.copy(f, os.path.join(dup, "re-" + base))  # re-delivery

    stream = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dup)
    )
    q = (
        dedup_redeliveries(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-d"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT lsn, count(*) AS c FROM dedup_sink GROUP BY lsn")
    assert out.where("c > 1").count() == 0  # no lsn delivered downstream twice
    assert out.count() == len(pdf)          # and none lost


def test_stream_with_dedup_end_to_end(spark, tmp_path, log_dir):
    """Full pipeline over a doubled log with dedup_within: final state
    equals the clean single-delivery replay."""
    import shutil

    flat, pdf = log_dir
    dup = str(tmp_path / "dup2")
    os.makedirs(dup)
    for f in sorted(glob.glob(os.path.join(flat, "*.parquet"))):
        base = os.path.basename(f)
        shutil.copy(f, os.path.join(dup, base))
        shutil.copy(f, os.path.join(dup, "re-" + base))

    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t2"), num_buckets=8)
    run_available_now(
        spark, table, dup, str(tmp_path / "ckpt2"), cfg,
        max_files_per_trigger=2, dedup_within="1 hour",
    )
    assert_state_equal(final_state_pdf(table), expected_state_pdf(pdf))


def test_stream_audits_fail_stop_then_recover(spark, tmp_path, log_dir):
    """Streaming WAP: a failing audit stops the query BEFORE the
    checkpoint advances; a restart re-delivers the same batch, and a
    passing audit drains everything with no lost epoch."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    flat, pdf = log_dir
    cfg = EngineConfig(num_buckets=8)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    with pytest.raises(StreamingQueryException, match="AuditFailed"):
        run_available_now(
            spark, table, flat, ckpt, cfg, max_files_per_trigger=1,
            audits={"always_fails": lambda df: False},
        )
    # nothing published, watermark unmoved
    assert table.read().count() == 0
    assert table.last_committed_epoch() == -1
    assert table.catalog.staged_version() is None  # abandoned, not wedged

    # restart from the SAME checkpoint with passing audits: the failed
    # batch is re-delivered and the drain completes losslessly
    run_available_now(
        spark, table, flat, ckpt, cfg, max_files_per_trigger=1,
        audits={"nonempty": lambda df: df.count() > 0},
    )
    assert_state_equal(final_state_pdf(table), expected_state_pdf(pdf))
    offs = table.read_offsets().toPandas()
    assert len(offs) == 3  # all three file-triggers committed exactly once


def test_full_topology_every_hook_at_once(spark, tmp_path):
    """The production topology in ONE query: a JSON-envelope wire tail
    (corrupt lines → quarantine DLQ) drains through the exactly-once
    merge while the SAME driver turn maintains the SCD2 audit history,
    the conv-rollup materialization and the near-dup admission index,
    with per-batch telemetry recording.  Every surface then equals its
    from-scratch recompute, and a fresh-checkpoint re-drain (crash
    re-delivery of every batch id) leaves every surface untouched —
    the hooks compose without stealing each other's exactly-once."""
    import json
    import time

    from pyspark.sql import functions as F

    from aqueduct_core_spark.functions.dedup_index import (
        DedupIndex,
        DedupIndexMaintainer,
    )
    from aqueduct_core_spark.functions.examples import (
        PreferencePairsView,
        preference_pairs,
    )
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.operators.merge import apply_batch
    from aqueduct_core_spark.operators.rollup import ConvRollup, conv_rollup
    from aqueduct_core_spark.operators.scd2 import Scd2History
    from aqueduct_core_spark.operators.temporal import scd2_history
    from aqueduct_core_spark.sources.envelope import to_envelope_json
    from aqueduct_core_spark.streaming.feed import FeedCursor

    log = generate_changes(spark, n_convs=30, seed=33)
    mx = int(log.agg(F.max("lsn")).collect()[0][0])

    # lsn-ordered envelope tail (the history hook's contract), one file
    # per contiguous lsn range, distinct mtimes → deterministic order;
    # one corrupt wire line per file exercises the DLQ alongside
    src = tmp_path / "wire"
    src.mkdir()
    cuts = [0, mx // 3, (2 * mx) // 3, mx + 1]
    for i in range(len(cuts) - 1):
        seg = log.where((F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1]))
        lines = [
            r["value"]
            for r in to_envelope_json(seg.orderBy("lsn")).select("value").collect()
        ]
        (src / f"seg-{i}.txt").write_text(
            "\n".join(lines) + f"\n{{corrupt {i}\n"
        )
        time.sleep(1.1)

    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=4)
    hist = Scd2History.create(spark, str(tmp_path / "h"), num_buckets=4)
    ix = DedupIndex.create(spark, str(tmp_path / "ix"), num_parts=4)
    pv = PreferencePairsView.create(spark, str(tmp_path / "pv"))
    cur = FeedCursor(table, state_path=str(tmp_path / "cur.json"))
    qdir = str(tmp_path / "dlq")

    kwargs = dict(
        max_files_per_trigger=1,
        wire_format="json-envelope",
        quarantine_dir=qdir,
        record_metrics=True,
        history=hist,
        history_views=[pv],
        maintainers=[rollup, DedupIndexMaintainer(ix, cur)],
    )
    run_available_now(spark, table, str(src), str(tmp_path / "ck"), cfg, **kwargs)

    # merge: state equals a direct batch apply of the clean log
    ref = ParquetTranscriptTable.create(spark, str(tmp_path / "ref"), num_buckets=4)
    apply_batch(ref, log, epoch=0, cfg=cfg)
    assert table.read().orderBy("conv_id", "turn_idx").collect() == \
        ref.read().orderBy("conv_id", "turn_idx").collect()

    # DLQ holds exactly the corrupt lines
    dlq = spark.read.parquet(qdir)
    assert {r["raw"] for r in dlq.collect()} == {f"{{corrupt {i}" for i in range(3)}

    # rollup equals the from-scratch aggregate
    a, b = rollup.read(), conv_rollup(table.read())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # SCD2 history equals the one-pass batch operator over the full log
    cols = ["conv_id", "turn_idx", "valid_from_lsn", "valid_to_lsn",
            "end_reason", "is_current", "row_op", "text"]
    ha, hb = hist.read().select(cols), scd2_history(log).select(cols)
    assert ha.exceptAll(hb).count() == 0 and hb.exceptAll(ha).count() == 0
    assert hist._meta()["last_lsn"] == mx

    # the preference-pair view followed the history per batch
    pa, pb = pv.read(), preference_pairs(log)
    sel = ["conv_id", "turn_idx", "rejected_lsn", "chosen_lsn", "n_versions"]
    assert pa.select(sel).exceptAll(pb.select(sel)).count() == 0
    assert pb.select(sel).exceptAll(pa.select(sel)).count() == 0

    # dedup index rode every commit
    assert cur.version == table.catalog.current_version()

    # telemetry recorded one row per committed epoch
    with open(os.path.join(table.root, "metrics", "batches.jsonl")) as f:
        metrics = [json.loads(line) for line in f if line.strip()]
    assert len(metrics) >= 3

    # crash re-delivery: fresh checkpoint re-sends every batch id; the
    # table version holds and every sidecar no-ops
    v0 = table.catalog.current_version()
    r0 = rollup.last_table_version()
    h0 = hist.read().count()
    p0 = pv._meta()["epoch"]
    c0 = cur.version
    run_available_now(spark, table, str(src), str(tmp_path / "ck2"), cfg, **kwargs)
    assert table.catalog.current_version() == v0
    assert rollup.last_table_version() == r0
    assert hist.read().count() == h0 and hist._meta()["last_lsn"] == mx
    assert pv._meta()["epoch"] == p0
    assert cur.version == c0


def test_dedup_null_ts_does_not_poison_watermark(spark, tmp_path):
    """Catch-up safety: a NULL-ts conversation tombstone in an early
    trigger must NOT drag the stream watermark to wall-clock — the old
    coalesce(ts, now()) formulation then silently dropped every
    subsequent historical-ts event as late.  NULL-ts rows bypass the
    stateful dedup; timed rows in later triggers survive."""
    import time

    import pandas as pd

    from aqueduct_core_spark.schema import CHANGES_SCHEMA
    from aqueduct_core_spark.streaming.pipeline import dedup_redeliveries

    def row(lsn, conv, turn, op, ts):
        return dict(lsn=lsn, op=op, conv_id=conv, turn_idx=turn,
                    role="user", text=f"t{lsn}", tool=None,
                    ts=pd.Timestamp(ts) if ts else None,
                    event_size=100, cluster_id=0, location_group=None)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # trigger 1: two 2024-era turns + a NULL-ts conv tombstone
    f0 = [row(1, "c0", 0, "I", "2024-01-01 10:00:00"),
          row(2, "c0", 1, "I", "2024-01-01 10:01:00"),
          row(3, "c9", None, "D", None)]
    # trigger 2: MORE 2024-era turns (historical catch-up continues)
    f1 = [row(4, "c1", 0, "I", "2024-01-01 10:02:00"),
          row(5, "c1", 1, "I", "2024-01-01 10:03:00")]
    for i, rows in enumerate([f0, f1]):
        spark.createDataFrame(pd.DataFrame(rows), CHANGES_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic trigger order

    stream = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_redeliveries(stream, "10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_wm_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["lsn"] for r in spark.sql("SELECT lsn FROM dedup_wm_sink").collect()}
    assert got == {1, 2, 3, 4, 5}  # nothing dropped, tombstone included
