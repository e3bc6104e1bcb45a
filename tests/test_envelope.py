"""Debezium-envelope wire adapter: round trip, op mapping, dead letters."""

import json

from pyspark.sql import functions as F

from aqueduct_core_spark.sources.envelope import (
    REASON_COLUMN,
    parse_envelopes,
    split_envelopes,
    to_envelope_json,
)
from aqueduct_core_spark.sources.events_cdc import load_changes

SF_DIR = "/root/testdata/sf0.001"


def _raw(spark, *values):
    return spark.createDataFrame([(v,) for v in values], "value string")


def _env(op="c", lsn=1, after=None, before=None, ts_us=1_000_000, **src):
    e = {"op": op, "ts_us": ts_us, "source": {"lsn": lsn, **src}}
    if after is not None:
        e["after"] = after
    if before is not None:
        e["before"] = before
    return json.dumps(e)


IMG = {"conv_id": "conv-0001", "turn_idx": 3, "role": "user", "text": "hi", "tool": None}


def test_roundtrip_identity(spark):
    """parse(serialize(changes)) == changes, column for column —
    including NULL-payload tombstones, conversation-level deletes
    (turn_idx NULL), ts microseconds, and recomputed event_size."""
    changes = load_changes(spark, SF_DIR)
    back, bad = split_envelopes(to_envelope_json(changes))
    assert bad.limit(1).count() == 0
    cols = changes.columns
    assert back.columns == cols
    assert back.select(cols).exceptAll(changes.select(cols)).count() == 0
    assert changes.select(cols).exceptAll(back.select(cols)).count() == 0


def test_op_mapping_and_snapshot_reads(spark):
    raw = _raw(
        spark,
        _env(op="c", lsn=1, after=IMG),
        _env(op="r", lsn=2, after=IMG),  # Debezium initial-snapshot row
        _env(op="u", lsn=3, after=IMG),
        _env(op="d", lsn=4, before=IMG),
    )
    ok, bad = split_envelopes(raw)
    assert bad.count() == 0
    got = {r["lsn"]: r["op"] for r in ok.collect()}
    assert got == {1: "I", 2: "I", 3: "U", 4: "D"}


def test_delete_takes_key_from_before_and_nulls_payload(spark):
    ok, _ = split_envelopes(_raw(spark, _env(op="d", lsn=9, before=IMG)))
    row = ok.collect()[0]
    assert row["conv_id"] == "conv-0001" and row["turn_idx"] == 3
    assert row["role"] is None and row["text"] is None and row["tool"] is None
    # tombstone costs exactly the fixed overhead
    assert row["event_size"] == 89


def test_dead_letters_keep_raw_and_first_reason(spark):
    corrupt = '{"op": "c", oops'
    raw = _raw(
        spark,
        corrupt,                                      # not_json
        _env(op="x", lsn=1, after=IMG),               # bad_op
        _env(op="c", lsn=None, after=IMG),            # no_lsn
        _env(op="c", lsn=2),                          # no_row_image
        _env(op="c", lsn=3, after=IMG),               # clean
    )
    ok, bad = split_envelopes(raw)
    assert ok.count() == 1
    got = {r["reason"]: r["raw"] for r in bad.collect()}
    assert set(got) == {"not_json", "bad_op", "no_lsn", "no_row_image"}
    assert got["not_json"] == corrupt  # wire bytes survive the failure


def test_routing_metadata_rides_source(spark):
    ok, _ = split_envelopes(
        _raw(spark, _env(op="c", lsn=5, after=IMG, cluster_id=7, location_group=2))
    )
    row = ok.collect()[0]
    assert row["cluster_id"] == 7 and row["location_group"] == 2
    # absent → NULL (= broadcast routing, reference semantics)
    ok2, _ = split_envelopes(_raw(spark, _env(op="c", lsn=6, after=IMG)))
    assert ok2.collect()[0]["location_group"] is None


def test_parse_is_jvm_only_single_projection(spark):
    """No Python in the wire path: the stamped parse must be pure
    column expressions (no BatchEvalPython / ArrowEvalPython) and no
    shuffle (no Exchange)."""
    stamped = parse_envelopes(_raw(spark, _env(op="c", lsn=1, after=IMG)))
    plan = stamped._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_streaming_parse(spark, tmp_path):
    """from_json composes with readStream — the Kafka-tail shape."""
    src = tmp_path / "wire"
    src.mkdir()
    (src / "a.txt").write_text(
        _env(op="c", lsn=1, after=IMG) + "\n" + _env(op="d", lsn=2, before=IMG)
    )
    raw = spark.readStream.format("text").load(str(src)).withColumnRenamed(
        "value", "value"
    )
    ok, _ = split_envelopes(raw)
    q = (
        ok.writeStream.format("memory")
        .queryName("env_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT lsn, op FROM env_stream ORDER BY lsn").collect()
    assert [(r["lsn"], r["op"]) for r in got] == [(1, "I"), (2, "D")]


def test_envelope_wire_format_end_to_end(spark, tmp_path):
    """run_available_now(wire_format='json-envelope'): a newline-
    delimited envelope tail (with corrupt lines mixed in) drains into
    the table exactly-once; dead letters land in the quarantine sidecar
    with their raw bytes; final state equals applying the clean rows
    directly."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.streaming.pipeline import run_available_now
    from aqueduct_core_spark.operators.merge import apply_batch

    cfg = EngineConfig(num_buckets=8)
    log = generate_changes(spark, n_convs=40, seed=42)
    wire = to_envelope_json(log).select("value")

    src = tmp_path / "wire"
    src.mkdir()
    lines = [r["value"] for r in wire.collect()]
    half = len(lines) // 2
    (src / "a.txt").write_text("\n".join(lines[:half]) + "\n{corrupt a\n")
    (src / "b.txt").write_text("{corrupt b\n" + "\n".join(lines[half:]))

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    qdir = str(tmp_path / "dlq")
    run_available_now(
        spark, table, str(src), str(tmp_path / "ckpt"), cfg,
        max_files_per_trigger=1, wire_format="json-envelope",
        quarantine_dir=qdir,
    )

    # dead letters: both corrupt lines, raw bytes intact
    dlq = spark.read.parquet(qdir)
    assert {r["raw"] for r in dlq.collect()} == {"{corrupt a", "{corrupt b"}
    assert {r["reason"] for r in dlq.collect()} == {"not_json"}

    # state equality with a direct batch apply of the same log
    ref = ParquetTranscriptTable.create(spark, str(tmp_path / "ref"), num_buckets=8)
    apply_batch(ref, log, epoch=0, cfg=cfg)
    a = table.read().orderBy("conv_id", "turn_idx").collect()
    b = ref.read().orderBy("conv_id", "turn_idx").collect()
    assert a == b

    # exactly-once: a fresh checkpoint re-delivers everything; all
    # epochs skip, the snapshot version stays put
    v0 = table.catalog.current_version()
    run_available_now(
        spark, table, str(src), str(tmp_path / "ckpt2"), cfg,
        max_files_per_trigger=1, wire_format="json-envelope",
        quarantine_dir=qdir,
    )
    assert table.catalog.current_version() == v0
