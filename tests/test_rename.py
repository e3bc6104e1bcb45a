"""Column rename without rewrite: logical name mapping over
write-once physical columns (Iceberg field-id indirection analog)."""

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf
from aqueduct_core_spark.operators.evolve import (
    IncompatibleSchemaChange,
    rename_column,
)
from aqueduct_core_spark.operators.merge import apply_batch
from tests.test_merge import to_spark


CFG = EngineConfig(num_buckets=8)


def _seeded(spark, tmp_table_dir, n_convs=20):
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=8)
    pdf = generate_changes_pdf(n_convs, seed=42)
    half = len(pdf) // 2
    apply_batch(table, to_spark(spark, pdf.iloc[:half]), epoch=0, cfg=CFG)
    return table, pdf.iloc[half:]


def test_rename_is_metadata_only_and_read_maps(spark, tmp_table_dir):
    table, _ = _seeded(spark, tmp_table_dir)
    before = table.read().toPandas().sort_values(["conv_id", "turn_idx"])
    files_before = table.catalog.current()["files"]

    rename_column(table, "tool", "tool_name")

    # no data file was touched (metadata-only), physical schema unchanged
    assert table.catalog.current()["files"] == files_before
    assert "tool" in [f.name for f in table.schema().fields]
    # the public read shows the new name with identical data
    after = table.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert "tool_name" in after.columns and "tool" not in after.columns
    assert list(before["tool"].fillna("-")) == list(after["tool_name"].fillna("-"))
    assert "tool_name" in [f.name for f in table.logical_schema().fields]


def test_ingest_under_new_name_lands_in_old_column(spark, tmp_table_dir):
    table, rest = _seeded(spark, tmp_table_dir)
    rename_column(table, "tool", "tool_name")

    batch = to_spark(spark, rest).withColumnRenamed("tool", "tool_name")
    m = apply_batch(table, batch, epoch=1, cfg=CFG)
    # no evolution happened: the batch mapped onto the existing physical
    assert m.get("added_columns") in (None, []), m
    state = table.read()
    assert "tool_name" in state.columns
    assert state.where(F.col("tool_name").isNotNull()).count() > 0


def test_old_name_after_rename_fails_loud(spark, tmp_table_dir):
    table, rest = _seeded(spark, tmp_table_dir)
    rename_column(table, "tool", "tool_name")
    with pytest.raises(IncompatibleSchemaChange, match="retired"):
        apply_batch(table, to_spark(spark, rest), epoch=1, cfg=CFG)


def test_time_travel_sees_historical_names(spark, tmp_table_dir):
    table, _ = _seeded(spark, tmp_table_dir)
    v_before = table.catalog.current_version()
    rename_column(table, "role", "speaker")
    assert "speaker" in table.read().columns
    # a read pinned before the rename keeps the old name
    old = table.read_as_of(v_before)
    assert "role" in old.columns and "speaker" not in old.columns


def test_key_columns_never_renameable_or_droppable(spark, tmp_table_dir):
    table, _ = _seeded(spark, tmp_table_dir)
    with pytest.raises(IncompatibleSchemaChange):
        rename_column(table, "conv_id", "conversation")
    with pytest.raises(IncompatibleSchemaChange):
        rename_column(table, "role", "text")  # collision with visible column


def test_feed_and_rollback_carry_the_mapping(spark, tmp_table_dir):
    table, rest = _seeded(spark, tmp_table_dir)
    rename_column(table, "tool", "tool_name")
    v_renamed = table.catalog.current_version()

    batch = to_spark(spark, rest).withColumnRenamed("tool", "tool_name")
    apply_batch(table, batch, epoch=1, cfg=CFG)
    feed = table.changes_between(v_renamed)
    assert "tool_name" in feed.columns and "tool" not in feed.columns
    assert feed.count() > 0

    # rollback to the renamed version: mapping survives the new commit
    table.rollback(v_renamed)
    assert "tool_name" in table.read().columns


def test_new_column_after_rename_coexists(spark, tmp_table_dir):
    table, rest = _seeded(spark, tmp_table_dir)
    rename_column(table, "tool", "tool_name")
    batch = (
        to_spark(spark, rest)
        .withColumnRenamed("tool", "tool_name")
        .withColumn("model", F.lit("m-1"))
    )
    m = apply_batch(table, batch, epoch=1, cfg=CFG)
    assert m["added_columns"] == ["model"]
    state = table.read()
    assert {"tool_name", "model"} <= set(state.columns)
    # and the new column is renameable too
    rename_column(table, "model", "model_id")
    assert "model_id" in table.read().columns
