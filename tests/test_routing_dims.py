"""F3 location-group routing, J4/J5 dim lookups, A6 typed max-offset,
and the md5 hash-method variants of the dedup pipelines.

Reference semantics:
- F3 group routing: ``cluster_id = ANY(?) AND (location_group IS NULL
  OR location_group = ANY(?))`` — PostgresqlStorage.java:469-473,
  behavior tests PostgresqlStorageIntegrationSpec.groovy:881-948.
- J4 cluster uuid→id: ClusterStorage.java:29, 190-210.
- J5 location→groups: PostgresqlStorage.java:109-132.
- A6 max offset for consumer types: SQLiteQueries.java:114-124.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.schema import CHANGES_SCHEMA


@pytest.fixture(scope="module")
def changes(spark):
    rows = [
        # lsn, op, conv, turn, role, text, tool, ts, size, cluster, loc_group
        (1, "I", "c1", 0, "user", "a", None, None, 10, 1, None),
        (2, "I", "c2", 0, "user", "b", None, None, 10, 1, 2),
        (3, "I", "c3", 0, "user", "c", None, None, 10, 2, 4),
        (4, "D", "c1", 0, None, None, None, None, 10, 3, 3),
        (5, "U", "c4", 1, "user", "d", None, None, 10, 9, 2),
    ]
    return spark.createDataFrame(rows, CHANGES_SCHEMA)


def test_location_group_routing(changes):
    from aqueduct_core_spark.sources.changes import routing_filter

    got = routing_filter(changes, cluster_ids=[1, 2, 3], location_groups=[2, 3])
    # NULL group rows broadcast to everyone; targeted rows need a match
    assert sorted(r.lsn for r in got.collect()) == [1, 2, 4]


def test_route_for_location(spark, changes):
    from aqueduct_core_spark.sources.dims import location_groups_dim, route_for_location

    # loc-0003 → groups [2, 3]
    got = route_for_location(
        changes, location_groups_dim(spark), "loc-0003", cluster_ids=[1, 2, 3]
    )
    assert sorted(r.lsn for r in got.collect()) == [1, 2, 4]
    assert "groups" not in got.columns
    # unknown location fails loudly instead of silently dropping
    # broadcast rows (reference 404s via the location service)
    with pytest.raises(KeyError):
        route_for_location(changes, location_groups_dim(spark), "loc-9999")


def test_cluster_uuid_lookup(spark, changes):
    from aqueduct_core_spark.sources.dims import cluster_dim, resolve_cluster_ids

    got = resolve_cluster_ids(changes, cluster_dim(spark), ["uuid-0001", "uuid-0009"])
    # uuid-0009 doesn't exist in an 8-row dim; uuid-0001 → cluster 1
    assert sorted(r.lsn for r in got.collect()) == [1, 2]
    # the dim side must be broadcast, never shuffled
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_max_offset_for_types(changes):
    from aqueduct_core_spark.sources.changes import max_offset_for_types

    assert max_offset_for_types(changes, ["I"]).collect()[0][0] == 3
    assert max_offset_for_types(changes, ["D"]).collect()[0][0] == 4
    # empty list = all types (reference StorageSpec.groovy:82-105)
    assert max_offset_for_types(changes, []).collect()[0][0] == 5


def test_hash64_md5_range(spark):
    """The md5-derived variant is non-negative, 60-bit, seed-sensitive."""
    from aqueduct_core_spark.functions.dedup import hash64

    df = spark.createDataFrame([("abc",), ("def",)], ["s"])
    rows = df.select(
        hash64(F.col("s"), method="md5").alias("h"),
        hash64(F.col("s"), seed=3, method="md5").alias("h3"),
    ).collect()
    for r in rows:
        assert 0 <= r.h < (1 << 60)
        assert r.h != r.h3


def test_minhash_md5_matches_xxhash_semantics(spark):
    """Both hash methods find the same obvious near-duplicate pair
    (candidate generation differs; verified Jaccard is hash-free)."""
    from aqueduct_core_spark.functions.dedup import minhash_dedup

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely unrelated text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    for method in ("xxhash64", "md5"):
        pairs = minhash_dedup(docs, threshold=0.3, hash_method=method).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


def test_simhash_md5_band_bits(spark):
    from aqueduct_core_spark.functions.dedup import simhash64_df, simhash_candidates

    docs = spark.createDataFrame(
        [
            (0, "alpha bravo charlie delta echo foxtrot"),
            (1, "alpha bravo charlie delta echo foxtrot"),
            (2, "zulu yankee xray whiskey victor uniform"),
        ],
        ["doc_id", "text"],
    )
    h = {r.id: r.sh for r in simhash64_df(docs, hash_method="md5").collect()}
    assert h[0] == h[1] and all(0 <= v < (1 << 60) for v in h.values())
    cands = simhash_candidates(docs, band_bits=15, hash_method="md5").collect()
    assert {(c.id_a, c.id_b, c.hamming) for c in cands} >= {(0, 1, 0)}


def test_streaming_windowed_throughput(spark, tmp_path):
    """T3: watermarked tumbling-window aggregation over the stream
    equals the batch groupBy — late data inside the watermark lands in
    its window."""
    from aqueduct_core_spark.generator import generate_changes_pdf
    from aqueduct_core_spark.streaming.monitor import (
        streaming_throughput,
        throughput_by_hour,
    )
    from tests.test_merge import to_spark

    pdf = generate_changes_pdf(20, seed=42)
    log_dir = str(tmp_path / "log")
    to_spark(spark, pdf).repartition(2).write.parquet(log_dir)

    q = (
        streaming_throughput(spark, log_dir, window="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_tp")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"], r["op"]): (r["events"], r["max_lsn"])
        for r in spark.table("win_tp").collect()
    }
    exp = {
        (r["hour"], r["op"]): (r["events"], r["max_lsn"])
        for r in throughput_by_hour(spark.read.parquet(log_dir)).collect()
    }
    assert got == exp


def test_media_feature_summary_scalars(spark):
    """The contract view must be all-scalar (driver canonicalizer
    requirement) and deterministic."""
    from aqueduct_core_spark.functions.multimodal import (
        media_feature_summary,
        synthetic_media,
    )

    df = media_feature_summary(synthetic_media(spark, n=9))
    pdf = df.toPandas()
    assert list(pdf.columns) == ["media_id", "kind", "n_bytes", "feat_sum"]
    assert not any(
        isinstance(v, (list, tuple))
        for row in pdf.itertuples(index=False)
        for v in row
    )
    assert len(pdf) == 9
    # payload is the ascii hexdigest repeated 1+i%4 times → 64·(1+i%4)
    assert pdf.set_index("media_id")["n_bytes"].to_dict()[5] == 64 * 2
    pd.testing.assert_frame_equal(
        pdf.sort_values("media_id", ignore_index=True),
        media_feature_summary(synthetic_media(spark, n=9))
        .toPandas()
        .sort_values("media_id", ignore_index=True),
    )
