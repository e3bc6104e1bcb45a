"""Z-order clustered rewrite (Delta/Iceberg ``OPTIMIZE ZORDER`` analog).

The default layout sorts each bucket file by (conv_id, turn_idx, ts) —
perfect for conversation lookups, useless for time-slice scans: every
row group's ts [min,max] spans the whole table, so "turns updated in
window W" (the incremental-export read) decodes everything.  After
``rewrite_zorder`` the row groups are narrow in BOTH dimensions, which
this test measures directly from the parquet footers.
"""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.operators.compact import rewrite_zorder
from aqueduct_core_spark.operators.merge import apply_batch

N = 40_000
TS0 = 1_700_000_000
SPAN = 1_000_000  # seconds


def synth_changes(spark):
    """10 turns per conv; event time decorrelated from conv id (each
    conversation's turns are spread across the whole range — the
    worst case for the conv-sorted layout's ts stats)."""
    return spark.range(N).select(
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
        F.format_string("conv-%06d", (F.col("id") / 10).cast("long")).alias("conv_id"),
        (F.col("id") % 10).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("text-%08d", F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(TS0) + (F.col("id") * 2654435761).cast("long") % SPAN
        ).alias("ts"),
        F.lit(64).cast("int").alias("event_size"),
        F.lit(0).cast("long").alias("cluster_id"),
        F.lit(None).cast("long").alias("location_group"),
    )


def live_data_files(table):
    root = table.root
    return [
        os.path.join(root, p)
        for fl in table.catalog.current()["files"].values()
        for p in fl
    ]


def ts_rowgroup_ranges(files):
    """(min, max) unix seconds per row group per file, from footers."""
    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        ci = names.index("ts")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(ci).statistics
            out.append((st.min.timestamp(), st.max.timestamp()))
    return out


def intersect_fraction(ranges, w_lo, w_hi):
    hit = sum(1 for lo, hi in ranges if hi >= w_lo and lo <= w_hi)
    return hit / max(1, len(ranges))


def state_pdf(table):
    return (
        table.read_internal()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )


def test_zorder_prunes_time_slices_and_preserves_state(spark, tmp_table_dir):
    cfg = EngineConfig(num_buckets=2, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=2)
    apply_batch(table, synth_changes(spark), epoch=0, cfg=cfg)

    from aqueduct_core_spark.operators.compact import fold_deltas

    fold_deltas(table)  # conv-sorted baseline layout
    before_state = state_pdf(table)
    base_ranges = ts_rowgroup_ranges(live_data_files(table))

    out = rewrite_zorder(table, row_group_bytes=64 * 1024)
    assert out["rewritten"]
    z_ranges = ts_rowgroup_ranges(live_data_files(table))
    assert len(z_ranges) >= 8, "need multiple row groups for the claim to mean anything"

    # a 2%-of-span window: conv-sorted layout intersects ~every row
    # group; z-ordered intersects a small fraction
    w_lo, w_hi = TS0 + 0.40 * SPAN, TS0 + 0.42 * SPAN
    f_before = intersect_fraction(base_ranges, w_lo, w_hi)
    f_after = intersect_fraction(z_ranges, w_lo, w_hi)
    assert f_before > 0.9, f"baseline unexpectedly prunable: {f_before}"
    assert f_after <= 0.5, f"z-order did not cluster time: {f_after}"
    assert f_after < f_before

    # logical state is bit-identical; layout is physical only
    import pandas as pd

    pd.testing.assert_frame_equal(state_pdf(table), before_state)
    assert table.catalog.current()["summary"]["aqueduct.zorder"] == "conv_id,ts"

    # conversation point lookup still correct under the new layout
    got = table.read_conversation("conv-001234").collect()
    assert len(got) == 10


def test_zorder_empty_table_noop(spark, tmp_table_dir):
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=2)
    out = rewrite_zorder(table)
    assert out == {"rewritten": False, "reason": "empty table"}
