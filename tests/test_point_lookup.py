"""Point-lookup serving path: driver-side bucket math + pruned read.

``spark_hash`` must agree with ``F.hash`` bit-for-bit (it decides which
bucket's files a lookup scans), and ``read_conversation`` must return
exactly what a full-table filter would — while listing only one
bucket's files.
"""

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from aqueduct_core_spark.catalog.table import (
    ParquetTranscriptTable,
    bucket_expr,
    bucket_of,
    spark_hash,
)
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes
from aqueduct_core_spark.streaming.pipeline import replay


def test_spark_hash_matches_f_hash_strings(spark):
    # tail lengths 0-3, multi-byte UTF-8, empty string
    vals = [
        "", "a", "ab", "abc", "abcd", "abcde", "conv-000123",
        "héllo wörld", "emoji \U0001f600 tail", "x" * 67,
    ] + [f"conv-{i:06d}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", F.hash("s").alias("h")).collect()}
    for v in vals:
        assert spark_hash(v) == got[v], v


def test_spark_hash_matches_f_hash_longs(spark):
    vals = [0, 1, -1, 42, -42, 2**31, -(2**31), 2**62, -(2**62), 123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], T.StructType(
        [T.StructField("x", T.LongType())]
    ))
    got = {r["x"]: r["h"] for r in df.select("x", F.hash("x").alias("h")).collect()}
    for v in vals:
        assert spark_hash(v) == got[v], v


def test_bucket_of_matches_bucket_expr(spark):
    vals = [f"conv-{i:06d}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], ["conv_id"])
    got = {
        r["conv_id"]: r["b"]
        for r in df.select("conv_id", bucket_expr(16).alias("b")).collect()
    }
    for v in vals:
        assert bucket_of(v, 16) == got[v], v


@pytest.fixture(scope="module")
def lookup_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pt") / "transcripts")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=8)
    log = generate_changes(spark, n_convs=200, seed=11)
    cfg = EngineConfig(num_buckets=8)
    replay(table, log, cfg)
    # fold MOR deltas into base files, then land a second small delta
    # epoch so the lookup exercises BOTH the base and the delta path
    from aqueduct_core_spark.operators.compact import fold_deltas

    fold_deltas(table)
    hi = log.agg(F.max("lsn")).collect()[0][0]
    more = generate_changes(spark, n_convs=200, seed=12).withColumn(
        "lsn", F.col("lsn") + F.lit(hi)
    )
    replay(table, more, cfg)
    return table


def test_read_conversation_identity(spark, lookup_table):
    state = lookup_table.read()
    cid = state.agg(F.min("conv_id")).collect()[0][0]
    via_lookup = sorted(map(tuple, lookup_table.read_conversation(cid).collect()))
    via_filter = sorted(map(tuple, state.where(F.col("conv_id") == cid).collect()))
    assert via_lookup and via_lookup == via_filter


def test_read_conversation_prunes_to_one_bucket(spark, lookup_table):
    cid = lookup_table.read().agg(F.min("conv_id")).collect()[0][0]
    plan = lookup_table.read_conversation(cid)._jdf.queryExecution().executedPlan().toString()
    # the residual equality must reach the parquet scan...
    assert "PushedFilters" in plan and "EqualTo(conv_id" in plan
    # ...and only ONE bucket's base files may be listed: every scanned
    # parquet path must live under the looked-up bucket's directory
    snap = lookup_table.catalog.current()
    n_total = sum(len(v) for v in snap["files"].values()) + sum(
        len(v) for v in snap.get("delta_files", {}).values()
    )
    b = bucket_of(cid, 8)
    allowed = {p for p in snap["files"].get(str(b), [])}
    allowed |= {p for p in snap.get("delta_files", {}).get(str(b), [])}
    assert snap["files"].get(str(b)), "fixture should leave base files"
    assert len(allowed) < n_total  # pruning is real, not vacuous
    scanned = lookup_table.read_conversation(cid).inputFiles()
    assert scanned, "no input files resolved"
    for f in scanned:
        assert any(f.endswith(p) for p in allowed), f"file outside bucket {b}: {f}"


def test_read_conversations_multi_get(spark, lookup_table):
    """Batch multi-get: identity vs a full-table IN filter, scan pruned
    to the union of the keys' buckets, duplicates/empties handled."""
    state = lookup_table.read()
    cids = [r["conv_id"] for r in
            state.select("conv_id").distinct().orderBy("conv_id").limit(3).collect()]

    got = lookup_table.read_conversations(cids + [cids[0]])  # dupe key
    via_filter = sorted(map(tuple,
                            state.where(F.col("conv_id").isin(cids)).collect()))
    assert sorted(map(tuple, got.collect())) == via_filter

    # scan lists only the union of the keys' buckets
    snap = lookup_table.catalog.current()
    bs = {bucket_of(c, 8) for c in cids}
    allowed = set()
    for b in bs:
        allowed |= set(snap["files"].get(str(b), []))
        allowed |= set(snap.get("delta_files", {}).get(str(b), []))
    n_total = sum(len(v) for v in snap["files"].values()) + sum(
        len(v) for v in snap.get("delta_files", {}).values()
    )
    assert len(allowed) < n_total
    for f in got.inputFiles():
        assert any(f.endswith(p) for p in allowed), f

    # column projection + empty key list
    slim = lookup_table.read_conversations(cids, columns=["text"])
    assert set(slim.columns) == {"conv_id", "turn_idx", "text"}
    assert lookup_table.read_conversations([]).count() == 0


# ---------------------------------------------------------------------------
# Zero-Spark-job direct read (the serving escape hatch)
# ---------------------------------------------------------------------------


def _normalize(df):
    """pandas frame → comparable list of tuples (timestamps unified)."""
    import pandas as pd

    out = []
    for _, row in df.sort_values("turn_idx").iterrows():
        vals = []
        for c in df.columns:
            v = row[c]
            if pd.isna(v):
                vals.append(None)
            elif c == "ts":
                vals.append(pd.Timestamp(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def test_direct_read_equals_spark_read(spark, lookup_table):
    """read_conversation_direct must return the identical rows the
    Spark read does — over a table with BOTH folded base files and
    live MOR deltas — including a missing key (empty frame)."""
    cids = [
        r["conv_id"]
        for r in lookup_table.read().select("conv_id").distinct().limit(6).collect()
    ]
    for cid in cids + ["conv-never-existed"]:
        direct = lookup_table.read_conversation_direct(cid)
        via = lookup_table.read_conversation(cid).toPandas()
        assert list(direct.columns) == list(via.columns)
        assert _normalize(direct) == _normalize(via), cid


def test_direct_read_matches_full_read_for_every_key(spark, lookup_table):
    """Every conversation of the fixture (plus an absent key) reads back
    through the direct path exactly as one full Spark read groups it —
    with deltas live, after a fold, and after a rollback to the pre-fold
    version.  The fold and rollback change which files are live without
    changing the state, so a path-keyed footer cache that served a
    stale footer would show up here."""
    from aqueduct_core_spark.operators.compact import fold_deltas

    def check():
        full = lookup_table.read().toPandas()
        groups = dict(tuple(full.groupby("conv_id")))
        assert len(groups) > 100
        for cid in [*groups, "conv-never-existed"]:
            direct = lookup_table.read_conversation_direct(cid)
            assert list(direct.columns) == list(full.columns)
            assert _normalize(direct) == _normalize(groups.get(cid, full.iloc[:0])), cid

    v = lookup_table.catalog.current_version()
    assert any(lookup_table.catalog.current()["delta_files"].values())
    check()
    fold_deltas(lookup_table)
    assert not any(lookup_table.catalog.current()["delta_files"].values())
    check()
    lookup_table.rollback(v)  # back to live deltas: the fixture is unchanged
    assert any(lookup_table.catalog.current()["delta_files"].values())
    check()


def _table_with_live_deltas(spark, root):
    """A 4-bucket table with folded base files and one live delta epoch."""
    from aqueduct_core_spark.operators.compact import fold_deltas

    table = ParquetTranscriptTable.create(spark, root, num_buckets=4)
    cfg = EngineConfig(num_buckets=4)
    log = generate_changes(spark, n_convs=40, seed=21)
    replay(table, log, cfg)
    fold_deltas(table)
    hi = log.agg(F.max("lsn")).collect()[0][0]
    more = generate_changes(spark, n_convs=40, seed=22).withColumn(
        "lsn", F.col("lsn") + F.lit(hi)
    )
    replay(table, more, cfg)
    return table


def test_point_reads_pin_one_manifest_across_rebucket(spark, tmp_path, monkeypatch):
    """A rebucket committed right after a point read loads its manifest
    must not change what the read sees: the bucket count comes from the
    same pinned manifest as the file map.  Taking it from a second
    manifest read would hash the key with the new count into the old
    layout and read an existing conversation as absent."""
    from aqueduct_core_spark.operators.compact import rebucket

    table = _table_with_live_deltas(spark, str(tmp_path / "t"))
    counts = [4, 3, 5, 2]  # the count before and after each rebucket
    cid = next(
        r["conv_id"] for r in table.read().select("conv_id").distinct().collect()
        if len({bucket_of(r["conv_id"], n) for n in counts}) == len(counts)
    )
    want = _normalize(table.read_conversation(cid).toPandas())
    assert want

    load = table.catalog.load

    def rebucket_after_first_load(to):
        fired = []

        def hooked(v):
            snap = load(v)
            if not fired:
                fired.append(v)
                rebucket(table, to)
            return snap

        monkeypatch.setattr(table.catalog, "load", hooked)

    reads = [
        lambda: table.read_conversation_direct(cid),
        lambda: table.read_conversation(cid).toPandas(),
        lambda: table.read_conversations([cid]).toPandas(),
    ]
    for read, to in zip(reads, counts[1:]):
        rebucket_after_first_load(to)
        assert _normalize(read()) == want
        assert table.num_buckets == to  # the rebucket did commit


def test_epoch_commit_refuses_deltas_hashed_before_rebucket(spark, tmp_path):
    """An epoch prepared (deltas hashed and written) under one bucket
    count must not commit after a rebucket changed the count: the
    commit raises ``CommitConflict`` and leaves the rebucketed state
    untouched, and a resumed replay converges to the oracle with every
    key readable through the direct point read.  Attaching the old
    count's delta files to the new layout would put rows in buckets a
    point read never opens."""
    from aqueduct_core_spark.catalog.snapshot import CommitConflict
    from aqueduct_core_spark.generator import expected_state_pdf
    from aqueduct_core_spark.operators.compact import rebucket
    from aqueduct_core_spark.operators.merge import apply_batch, mor_prepare
    from aqueduct_core_spark.verify import state_digest

    log = generate_changes(spark, n_convs=60, seed=23).cache()
    lsns = sorted(r["lsn"] for r in log.select("lsn").collect())
    half = lsns[len(lsns) // 2]
    cfg = EngineConfig(num_buckets=4, mor_fold_every=0)
    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    replay(table, log, cfg, end_lsn=half)
    epoch = table.last_committed_epoch() + 1

    prep = mor_prepare(table, log.where(F.col("lsn") > half), epoch)
    rebucket(table, 8)
    after_rebucket = state_digest(table.read_internal())
    with pytest.raises(CommitConflict):
        apply_batch(
            table, None, epoch=epoch, cfg=cfg,
            batch_max_lsn=lsns[-1], prewritten=prep,
        )
    assert table.num_buckets == 8 and table.last_committed_lsn() == half
    assert state_digest(table.read_internal()) == after_rebucket

    replay(table, log, cfg)  # resumes after the refused epoch
    expected = expected_state_pdf(log.toPandas())
    got = table.read_internal().orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(expected)
    assert (got["_lsn"].to_numpy() == expected["_lsn"].to_numpy()).all()
    full = table.read().toPandas()
    for cid, rows in full.groupby("conv_id"):
        assert _normalize(table.read_conversation_direct(cid)) == _normalize(rows), cid


def test_point_reads_fail_loud_on_missing_live_file(spark, tmp_path):
    """A file the pinned manifest references but that cannot be read
    is an error for both point reads — never rows silently missing from
    the answer (Spark's read does not ignore missing files)."""
    import os

    import pyarrow.parquet as pq

    table = _table_with_live_deltas(spark, str(tmp_path / "t"))
    # a live delta file and a visible conversation with rows in it
    in_delta = {
        c: rel
        for rels in table.catalog.current()["delta_files"].values()
        for rel in rels
        for c in pq.read_table(os.path.join(table.root, rel), columns=["conv_id"])[
            "conv_id"
        ].to_pylist()
    }
    cid, rel = next(
        (c, rel) for c, rel in sorted(in_delta.items())
        if len(table.read_conversation_direct(c))  # caches the footers
    )
    os.remove(os.path.join(table.root, rel))
    with pytest.raises(OSError):
        table.read_conversation_direct(cid)
    with pytest.raises(Exception):
        table.read_conversation(cid).collect()


def test_direct_read_respects_conversation_delete(spark, tmp_path):
    """A conversation-level tombstone in a live delta must kill every
    turn at-or-below its watermark in the direct read too."""
    import pyspark.sql.types as T

    root = str(tmp_path / "t")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=4)
    cfg = EngineConfig(num_buckets=4)
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("event_size", T.IntegerType(), True),
        ]
    )
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, "I", "keep", 0, "user", "hello", None, t0, 10),
        (2, "I", "dead", 0, "user", "bye", None, t0, 10),
        (3, "D", "dead", None, None, None, None, t0, 10),  # conv delete
        (4, "I", "dead", 1, "user", "resurrected", None, t0, 10),  # post-delete turn
    ]
    replay(table, spark.createDataFrame(rows, schema), cfg)
    alive = table.read_conversation_direct("keep")
    assert len(alive) == 1 and alive.iloc[0]["text"] == "hello"
    dead = table.read_conversation_direct("dead")
    # only the post-watermark turn survives
    assert len(dead) == 1 and dead.iloc[0]["text"] == "resurrected"


def test_direct_read_evolution_null_fill_and_columns(spark, tmp_path):
    """Files written before an additive evolution lack the new column:
    the direct reader must null-fill it per file (no schema
    unification), and the columns= prune must work."""
    import datetime as dt

    import pyspark.sql.types as T

    root = str(tmp_path / "t")
    table = ParquetTranscriptTable.create(
        spark, root, num_buckets=4,
        schema=T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("role", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("ts", T.TimestampType(), True),
                T.StructField("_lsn", T.LongType(), False),
            ]
        ),
    )
    cfg = EngineConfig(num_buckets=4)
    t0 = dt.datetime(2026, 1, 1)
    sch0 = ("lsn long, op string, conv_id string, turn_idx int, role string, "
            "text string, ts timestamp, event_size int")
    replay(
        table,
        spark.createDataFrame([(1, "I", "c1", 0, "user", "old", t0, 10)], sch0),
        cfg,
    )
    # epoch 1: additive evolution — 'tool' appears
    sch1 = sch0 + ", tool string"
    replay(
        table,
        spark.createDataFrame(
            [(2, "I", "c1", 1, "assistant", "new", t0, 10, "search")], sch1
        ),
        cfg,
    )
    got = table.read_conversation_direct("c1")
    assert list(got["text"]) == ["old", "new"]
    assert got.iloc[0]["tool"] is None and got.iloc[1]["tool"] == "search"
    pruned = table.read_conversation_direct("c1", columns=["text"])
    assert list(pruned.columns) == ["conv_id", "turn_idx", "text"]
    # the prune reaches the decode and matches the Spark read's prune,
    # the evolved column included (null-filled from the older file)
    for cols in (None, ["text"], ["tool"], ["role", "ts", "tool"]):
        direct = table.read_conversation_direct("c1", columns=cols)
        via = table.read_conversation("c1", columns=cols).toPandas()
        assert list(direct.columns) == list(via.columns), cols
        assert _normalize(direct) == _normalize(via), cols
    import pytest as _pt

    with _pt.raises(KeyError):
        table.read_conversation_direct("c1", columns=["nope"])


def test_direct_read_sees_renamed_columns_logically(spark, tmp_path):
    """After a metadata-only rename the direct read must surface the
    LOGICAL name, like every Spark read boundary."""
    import datetime as dt

    root = str(tmp_path / "t")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=4)
    cfg = EngineConfig(num_buckets=4)
    t0 = dt.datetime(2026, 1, 1)
    sch = (
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, event_size int"
    )
    replay(
        table,
        spark.createDataFrame([(1, "I", "c1", 0, "user", "hi", None, t0, 10)], sch),
        cfg,
    )
    from aqueduct_core_spark.operators.evolve import rename_column

    rename_column(table, "text", "content")
    got = table.read_conversation_direct("c1")
    assert "content" in got.columns and "text" not in got.columns
    assert got.iloc[0]["content"] == "hi"
    for cols in (None, ["content"], ["role", "content", "ts"]):
        direct = table.read_conversation_direct("c1", columns=cols)
        via = table.read_conversation("c1", columns=cols).toPandas()
        assert list(direct.columns) == list(via.columns), cols
        assert _normalize(direct) == _normalize(via), cols
    with pytest.raises(KeyError):
        table.read_conversation_direct("c1", columns=["text"])


def test_decoded_file_cache_evicts_least_recent(tmp_path):
    """The point reads' decoded-file cache keeps its Arrow bytes under
    its bound, evicting the least recently used file first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aqueduct_core_spark.catalog.table import _DecodedFiles

    paths = []
    for i in range(3):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"conv_id": [f"c{i}-{j}" for j in range(100)]}), p)
        paths.append(p)
    one = pq.ParquetFile(paths[0]).read().nbytes
    cache = _DecodedFiles(max_bytes=2 * one)
    a = cache.get(paths[0])
    cache.get(paths[1])
    assert cache.get(paths[0]) is a  # a hit, and now the most recent
    cache.get(paths[2])
    assert list(cache._tables) == [paths[0], paths[2]]
    assert cache._bytes <= 2 * one
    assert cache.get(paths[1]).equals(pq.ParquetFile(paths[1]).read())
