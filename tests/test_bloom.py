"""Parquet bloom filters on the conversation key.

Iceberg ``write.parquet.bloom-filter-enabled.column.conv_id`` analog
(the production backend would set exactly that table property).  Why
this matters for the serving path: point lookups prune row groups by
footer min/max only where rows are conv-sorted — true for folded base
files, but MOR **delta** files hold rows in batch order, so a 1-key
:meth:`read_conversation` would otherwise decode every delta row group
in the key's bucket.  The split-block bloom filter gives those scans a
row-group-level membership test (reference serving reads are
single-key indexed lookups, ``SQLiteQueries.java:51-55``).

Sizing: parquet-mr's adaptive writer picks the smallest of the table's
candidate sizes that holds the chunk's distinct keys at a 1% false
positive rate — 1 KiB at the floor, 1 MiB at the ceiling — so a delta
file of ~100 keys carries ~1 KiB of filter and a file of tens of
thousands of keys a filter of tens of KiB or more.  A chunk that stays
fully dictionary-encoded gets NO bloom filter (the dictionary page is
already an exact filter); the small-table test asserts the skip.
"""

import glob
import os

from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.operators.merge import apply_batch

N_CONVS = 60_000


def synth_changes(spark, n=N_CONVS, turns_per_conv=1):
    """n events over n/turns_per_conv distinct ~60-byte conv ids.  With
    turns_per_conv=1 every value is unique, the writer abandons
    dictionary encoding and emits plain pages + bloom filter; with high
    reuse the chunk stays dictionary-encoded end-to-end and parquet-mr
    drops the bloom (the dictionary already gives exact membership)."""
    pad = "f" * 40
    return spark.range(n).select(
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
        F.format_string(
            "conversation-%s-%08d", F.lit(pad), (F.col("id") / turns_per_conv).cast("long")
        ).alias("conv_id"),
        (F.col("id") % turns_per_conv).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("text-%08d", F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.lit(64).cast("int").alias("event_size"),
        F.lit(0).cast("long").alias("cluster_id"),
        F.lit(None).cast("long").alias("location_group"),
    )


def bloom_offsets_by_column(spark, path: str) -> dict[str, list[int]]:
    """column name → per-row-group bloom filter offsets (-1 = none),
    read from the parquet footer via parquet-mr (the library Spark
    itself writes with, so this asserts what a reader will see)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf
        )
    )
    try:
        out: dict[str, list[int]] = {}
        blocks = rd.getFooter().getBlocks()
        for bi in range(blocks.size()):
            cols = blocks.get(bi).getColumns()
            for ci in range(cols.size()):
                c = cols.get(ci)
                name = str(c.getPath()).strip("[]")
                out.setdefault(name, []).append(int(c.getBloomFilterOffset()))
        return out
    finally:
        rd.close()


def bloom_lengths(spark, path: str) -> list[int]:
    """Per-row-group ``conv_id`` bloom filter length in bytes (-1 =
    none), from ``ColumnChunkMetaData.getBloomFilterLength()``."""
    jvm = spark._jvm
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
        )
    )
    try:
        out = []
        blocks = rd.getFooter().getBlocks()
        for bi in range(blocks.size()):
            cols = blocks.get(bi).getColumns()
            for ci in range(cols.size()):
                c = cols.get(ci)
                if str(c.getPath()).strip("[]") == "conv_id":
                    out.append(int(c.getBloomFilterLength()))
        return out
    finally:
        rd.close()


def parquet_files(root: str, sub: str) -> list[str]:
    return glob.glob(os.path.join(root, sub, "**", "*.parquet"), recursive=True)


def test_delta_and_base_files_carry_conv_bloom(spark, tmp_table_dir):
    cfg = EngineConfig(num_buckets=2, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=2)
    assert table.bloom_columns == ("conv_id",)

    changes = synth_changes(spark)
    apply_batch(table, changes, epoch=0, cfg=cfg)
    delta_files = parquet_files(tmp_table_dir, "delta")
    assert delta_files, "MOR apply must produce delta files"
    for f in delta_files:
        offs = bloom_offsets_by_column(spark, f)
        assert all(o >= 0 for o in offs["conv_id"]), f"no bloom on conv_id in {f}"
        # only the declared column gets a filter
        for name, ol in offs.items():
            if name != "conv_id":
                assert all(o == -1 for o in ol), f"unexpected bloom on {name}"

    # fold → base data files written through write_bucket_data
    from aqueduct_core_spark.operators.compact import fold_deltas

    fold_deltas(table)
    data_files = parquet_files(tmp_table_dir, "data")
    assert data_files
    live = {
        os.path.join(tmp_table_dir, p)
        for fl in table.catalog.current()["files"].values()
        for p in fl
    }
    checked = 0
    for f in data_files:
        if f not in live:
            continue
        offs = bloom_offsets_by_column(spark, f)
        assert all(o >= 0 for o in offs["conv_id"]), f"no bloom on conv_id in {f}"
        checked += 1
    assert checked > 0

    # the lookup the filter serves: correct on present and absent keys
    key = "conversation-" + "f" * 40 + "-00012345"
    got = table.read_conversation(key).collect()
    assert len(got) == 1 and got[0]["text"] == "text-00012345"
    assert table.read_conversation("conversation-absent").count() == 0


def test_small_delta_file_bloom_fits_its_keys(spark, tmp_table_dir):
    """A plain-encoded delta file of ≤200 distinct keys carries a bloom
    filter sized to them (≤2 KiB), not the 64 KiB floor of parquet-mr's
    default five candidates — and the filter still answers lookups."""
    cfg = EngineConfig(num_buckets=1, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=1)
    # 150 distinct ~60-byte keys, one turn each: the dictionary saves
    # nothing, so the writer falls back to plain pages + bloom filter
    apply_batch(table, synth_changes(spark, n=150), epoch=0, cfg=cfg)
    lengths = [n for f in parquet_files(tmp_table_dir, "delta") for n in bloom_lengths(spark, f)]
    assert lengths and all(0 < n <= 2048 for n in lengths), lengths
    key = "conversation-" + "f" * 40 + "-00000077"
    got = table.read_conversation(key).collect()
    assert len(got) == 1 and got[0]["text"] == "text-00000077"
    assert table.read_conversation("conversation-absent").count() == 0


def test_dictionary_encoded_small_table_skips_bloom(spark, tmp_table_dir):
    """Adaptive behavior: a small table's conv chunk stays
    dictionary-encoded, and parquet-mr correctly writes NO bloom filter
    (the dictionary is already an exact membership test) — i.e. small
    tables pay zero bytes for the feature."""
    cfg = EngineConfig(num_buckets=2, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, tmp_table_dir, num_buckets=2)
    # 40 conversations × 50 turns: heavy value reuse keeps the conv
    # chunk dictionary-encoded, so no bloom bytes are written
    apply_batch(table, synth_changes(spark, n=2000, turns_per_conv=50), epoch=0, cfg=cfg)
    for f in parquet_files(tmp_table_dir, "delta"):
        offs = bloom_offsets_by_column(spark, f)
        assert all(o == -1 for o in offs["conv_id"])


def test_bloom_columns_property_roundtrip(spark, tmp_table_dir):
    t = ParquetTranscriptTable.create(
        spark, tmp_table_dir, num_buckets=2, bloom_columns=("conv_id", "role")
    )
    t2 = ParquetTranscriptTable.load(spark, tmp_table_dir)
    assert t2.bloom_columns == ("conv_id", "role")
    opts = t2._write_options()
    assert opts["parquet.bloom.filter.enabled#conv_id"] == "true"
    assert opts["parquet.bloom.filter.enabled#role"] == "true"
    assert opts["parquet.bloom.filter.adaptive.enabled"] == "true"
    assert opts["parquet.bloom.filter.candidates.number#conv_id"] == "11"
    assert opts["parquet.bloom.filter.candidates.number#role"] == "11"
