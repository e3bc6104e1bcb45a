"""Additive schema evolution: the ``tool`` column appears mid-stream
(epoch-0 batches lack it entirely) and later batches may add brand-new
columns — absorbed metadata-only, no rewrite (north rule)."""

import pandas as pd
import pytest

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf
from aqueduct_core_spark.operators.evolve import IncompatibleSchemaChange, evolve_table_fields
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.schema import CHANGES_SCHEMA, CHANGES_SCHEMA_EPOCH0
from tests.test_merge import to_spark


def test_epoch0_without_tool_then_evolution(spark, tmp_table_dir):
    import pyspark.sql.types as T

    cfg = EngineConfig(num_buckets=8)
    epoch0_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("_lsn", T.LongType(), False),
        ]
    )
    table = ParquetTranscriptTable.create(
        spark, tmp_table_dir, num_buckets=8, schema=epoch0_schema
    )

    pdf = generate_changes_pdf(20, seed=42)
    n = len(pdf)
    first, second = pdf.iloc[: n // 2], pdf.iloc[n // 2 :]

    # epoch 0: the tool column does not exist yet
    first_no_tool = first.drop(columns=["tool"])
    df0 = spark.createDataFrame(
        first_no_tool.assign(
            turn_idx=first_no_tool["turn_idx"].astype("object").where(first_no_tool["turn_idx"].notna(), None)
        ),
        schema=CHANGES_SCHEMA_EPOCH0,
    )
    m0 = apply_batch(table, df0, epoch=0, cfg=cfg)
    assert "tool" not in [f.name for f in table.schema().fields]

    # epoch 1: tool appears → additive evolution in the same commit
    m1 = apply_batch(table, to_spark(spark, second), epoch=1, cfg=cfg)
    assert m1["added_columns"] == ["tool"]
    fields = [f.name for f in table.schema().fields]
    assert "tool" in fields

    # rows merged in epoch 0 read back with tool = NULL (no rewrite)
    state = table.read().toPandas()
    assert "tool" in state.columns
    e0_keys = set(
        first[first["turn_idx"].notna()].apply(lambda r: (r["conv_id"], int(r["turn_idx"])), axis=1)
    )
    only_e0 = state[
        state.apply(lambda r: (r["conv_id"], int(r["turn_idx"])) in e0_keys, axis=1)
    ]
    assert len(only_e0) > 0


def test_brand_new_column_mid_stream(spark, tmp_table_dir):
    cfg = EngineConfig(num_buckets=4)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=4)
    pdf = generate_changes_pdf(8, seed=1)
    apply_batch(table, to_spark(spark, pdf), epoch=0, cfg=cfg)

    extra = pdf[pdf["turn_idx"].notna()].head(5).copy()
    extra["lsn"] = extra["lsn"] + 50_000_000
    extra["op"] = "U"
    extra["model_name"] = "m-1"
    df = to_spark(spark, extra.drop(columns=["model_name"])).withColumn(
        "model_name", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("m-1")
    )
    m = apply_batch(table, df, epoch=1, cfg=cfg)
    assert m["added_columns"] == ["model_name"]
    state = table.read().toPandas()
    assert state["model_name"].notna().sum() == 5
    assert state["model_name"].isna().sum() == len(state) - 5


def test_type_change_rejected():
    import pyspark.sql.types as T

    table_fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("_lsn", T.LongType(), False),
    ]

    class FakeBatch:
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("text", T.IntegerType(), True),  # type change!
            ]
        )

    with pytest.raises(IncompatibleSchemaChange):
        evolve_table_fields(table_fields, FakeBatch())


# ---------------------------------------------------------------------------
# Type widening (Iceberg schema-evolution rules): int -> long,
# float -> double, decimal precision growth — metadata-only; old narrow
# parquet files read back through the widened schema (Spark 4 widening
# type promotion in the parquet reader).
# ---------------------------------------------------------------------------

def test_widens_matrix():
    import pyspark.sql.types as T

    from aqueduct_core_spark.operators.evolve import widens

    assert widens(T.IntegerType(), T.LongType())
    assert widens(T.ShortType(), T.IntegerType())
    assert widens(T.ByteType(), T.LongType())
    assert widens(T.FloatType(), T.DoubleType())
    assert widens(T.DecimalType(10, 2), T.DecimalType(18, 2))
    assert not widens(T.LongType(), T.IntegerType())          # narrowing
    assert not widens(T.DoubleType(), T.FloatType())          # narrowing
    assert not widens(T.DecimalType(10, 2), T.DecimalType(18, 4))  # scale change
    assert not widens(T.StringType(), T.LongType())           # unrelated
    assert not widens(T.IntegerType(), T.DoubleType())        # not in Iceberg spec


def test_type_widening_mid_stream(spark, tmp_table_dir):
    """A payload column born int goes long mid-stream: the table field
    widens in place, the old int32 files read back unrewritten, and a
    later *narrower* (int again) batch is upcast on entry."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    cfg = EngineConfig(num_buckets=4)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=4)
    pdf = generate_changes_pdf(8, seed=7)
    turns = pdf[pdf["turn_idx"].notna()]

    # epoch 0: token_count arrives as INT (new column, additive)
    e0 = turns.head(6).copy()
    df0 = to_spark(spark, e0).withColumn("token_count", F.lit(11).cast("int"))
    m0 = apply_batch(table, df0, epoch=0, cfg=cfg)
    assert m0["added_columns"] == ["token_count"]
    assert (
        dict((f.name, f.dataType) for f in table.schema().fields)["token_count"]
        == T.IntegerType()
    )

    # epoch 1: token_count arrives as BIGINT -> widened metadata-only
    e1 = turns.tail(4).copy()
    e1["lsn"] = e1["lsn"] + 50_000_000
    e1["op"] = "U"
    df1 = to_spark(spark, e1).withColumn(
        "token_count", F.lit(3_000_000_000).cast("long")
    )
    m1 = apply_batch(table, df1, epoch=1, cfg=cfg)
    assert m1["added_columns"] == []
    assert m1["widened_columns"] == ["token_count"]
    assert (
        dict((f.name, f.dataType) for f in table.schema().fields)["token_count"]
        == T.LongType()
    )

    # old int32 rows and the new long rows coexist; values intact
    state = table.read().toPandas()
    vals = set(state["token_count"].dropna().astype("int64"))
    assert 11 in vals and 3_000_000_000 in vals

    # epoch 2: a narrower (int) batch after widening is upcast on entry
    e2 = turns.head(2).copy()
    e2["lsn"] = e2["lsn"] + 90_000_000
    e2["op"] = "U"
    df2 = to_spark(spark, e2).withColumn("token_count", F.lit(7).cast("int"))
    m2 = apply_batch(table, df2, epoch=2, cfg=cfg)
    assert m2["widened_columns"] == []
    state2 = table.read().toPandas()
    assert 7 in set(state2["token_count"].dropna().astype("int64"))


def test_key_column_widening_rejected():
    import pyspark.sql.types as T

    table_fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("_lsn", T.LongType(), False),
    ]

    class FakeBatch:
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.LongType(), False),  # key widened!
                T.StructField("text", T.StringType(), True),
            ]
        )

    with pytest.raises(IncompatibleSchemaChange):
        evolve_table_fields(table_fields, FakeBatch())
