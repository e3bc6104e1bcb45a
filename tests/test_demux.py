"""replay_demux: one central log fanned out to N routed replica
tables — the reference's pipe → store-node distribution topology
(location/cluster routing) as a single replay loop.

Covers: route-partitioned states union to the full state, per-table
exactly-once on rerun, a lagging replica catching up through the same
global epoch sequence, and overlapping routes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes
from aqueduct_core_spark.schema import LSN_COLUMN
from aqueduct_core_spark.streaming.pipeline import (
    replay,
    replay_demux,
    start_stream_demux,
)


def _cfg():
    # small triggers so the demux spans several global epochs
    return EngineConfig(
        num_buckets=4, max_events_per_trigger=1500, mor_fold_every=10**9
    )


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("demux") / "changes")
    generate_changes(spark, n_convs=60, seed=7).write.parquet(p)
    return spark.read.parquet(p)


def _drain_demux(spark, tables, src, ckpt, routes, cfg):
    """Drain the log once through the streaming demux (``availableNow``),
    then stop the query."""
    q = start_stream_demux(
        spark, tables, src, ckpt, routes, cfg,
        max_files_per_trigger=3, available_now=True,
    )
    try:
        q.awaitTermination(600)
    finally:
        if q.isActive:
            q.stop()


def _state(table):
    return table.read_internal().select(
        "conv_id", "turn_idx", "text", F.col(LSN_COLUMN).alias("lsn")
    )


def test_demux_routes_union_to_full_state(spark, log, tmp_path):
    tables = {
        r: ParquetTranscriptTable.create(spark, str(tmp_path / f"r{r}"), num_buckets=4)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    metrics = replay_demux(tables, log, routes, _cfg())
    assert len(metrics[0]) > 1 and len(metrics[1]) > 1  # multi-epoch

    single = ParquetTranscriptTable.create(spark, str(tmp_path / "all"), num_buckets=4)
    replay(single, log, _cfg(), start_epoch=0, start_lsn=0)

    union = _state(tables[0]).unionByName(_state(tables[1]))
    full = _state(single)
    assert union.exceptAll(full).count() == 0
    assert full.exceptAll(union).count() == 0
    # routes are disjoint: no key lands in both replicas
    both = _state(tables[0]).join(_state(tables[1]), ["conv_id", "turn_idx"], "inner")
    assert both.count() == 0


def test_demux_rerun_is_exactly_once(spark, log, tmp_path):
    tables = {
        r: ParquetTranscriptTable.create(spark, str(tmp_path / f"r{r}"), num_buckets=4)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    replay_demux(tables, log, routes, _cfg())
    versions = {r: t.catalog.current_version() for r, t in tables.items()}

    again = replay_demux(tables, log, routes, _cfg())
    assert all(not v for v in again.values())  # every epoch skipped pre-plan
    for r, t in tables.items():
        assert t.catalog.current_version() == versions[r]


def test_demux_lagging_replica_catches_up(spark, log, tmp_path):
    """Crash-between-route-applies story: a fresh replica joining with
    the same route replays the same global epoch sequence and converges
    while the up-to-date one no-ops."""
    cfg = _cfg()
    a = ParquetTranscriptTable.create(spark, str(tmp_path / "a"), num_buckets=4)
    route = F.col("cluster_id") % 2 == 0
    replay_demux({"a": a}, log, {"a": route}, cfg)

    c = ParquetTranscriptTable.create(spark, str(tmp_path / "c"), num_buckets=4)
    m = replay_demux({"a": a, "c": c}, log, {"a": route, "c": route}, cfg)
    assert not m["a"]  # already committed every epoch: skipped pre-plan
    assert len(m["c"]) > 1
    assert _state(c).exceptAll(_state(a)).count() == 0
    assert _state(a).exceptAll(_state(c)).count() == 0
    # identical global epoch sequence → identical watermarks
    assert a.last_committed_epoch() == c.last_committed_epoch()
    assert a.last_committed_lsn() == c.last_committed_lsn()


def test_demux_overlapping_routes_allowed(spark, log, tmp_path):
    tables = {
        "even": ParquetTranscriptTable.create(spark, str(tmp_path / "e"), num_buckets=4),
        "all": ParquetTranscriptTable.create(spark, str(tmp_path / "x"), num_buckets=4),
    }
    routes = {"even": F.col("cluster_id") % 2 == 0, "all": F.lit(True)}
    replay_demux(tables, log, routes, _cfg())
    single = ParquetTranscriptTable.create(spark, str(tmp_path / "s"), num_buckets=4)
    replay(single, log, _cfg(), start_epoch=0, start_lsn=0)
    assert _state(tables["all"]).exceptAll(_state(single)).count() == 0
    assert _state(single).exceptAll(_state(tables["all"])).count() == 0
    # the overlapping subset replica equals the full replica filtered
    sub = _state(tables["even"])
    assert sub.count() > 0
    assert sub.exceptAll(_state(tables["all"])).count() == 0


def test_demux_key_mismatch_raises(spark, log, tmp_path):
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    with pytest.raises(ValueError, match="mismatch"):
        replay_demux({"a": t}, log, {"b": F.lit(True)})


def test_streaming_demux_available_now(spark, log, tmp_path):
    """One stream, N tables: availableNow drain converges each replica
    to its routed slice; a re-drain with a FRESH checkpoint re-delivers
    every batch id and every table skips idempotently."""
    src = str(tmp_path / "src")
    log.write.parquet(src)
    tables = {
        r: ParquetTranscriptTable.create(spark, str(tmp_path / f"s{r}"), num_buckets=4)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    _drain_demux(spark, tables, src, str(tmp_path / "ckpt"), routes, cfg)

    single = ParquetTranscriptTable.create(spark, str(tmp_path / "one"), num_buckets=4)
    replay(single, log, cfg, start_epoch=0, start_lsn=0)
    union = _state(tables[0]).unionByName(_state(tables[1]))
    assert union.exceptAll(_state(single)).count() == 0
    assert _state(single).exceptAll(union).count() == 0

    versions = {r: t.catalog.current_version() for r, t in tables.items()}
    _drain_demux(spark, tables, src, str(tmp_path / "ckpt2"), routes, cfg)
    for r, t in tables.items():
        assert t.catalog.current_version() == versions[r]


def test_fleet_status_rolls_up_lag(spark, log, tmp_path):
    from aqueduct_core_spark.streaming.monitor import fleet_status

    cfg = _cfg()
    tables = {
        r: ParquetTranscriptTable.create(spark, str(tmp_path / f"f{r}"), num_buckets=4)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    replay_demux(tables, log, routes, cfg)

    st = fleet_status(tables, log)
    assert st["all_up_to_date"] and st["max_lag_lsn"] == 0
    assert set(st["routes"]) == {0, 1}

    # a replica that stopped early shows up as the slowest route
    lag_t = ParquetTranscriptTable.create(spark, str(tmp_path / "lag"), num_buckets=4)
    mid = int(log.agg(F.max("lsn")).collect()[0][0]) // 2
    replay(lag_t, log, cfg, start_epoch=0, start_lsn=0, end_lsn=mid)
    st2 = fleet_status({**tables, "late": lag_t}, log)
    assert not st2["all_up_to_date"]
    assert st2["slowest_route"] == "late"
    assert st2["max_lag_lsn"] > 0
    assert st2["routes"]["late"]["state"] == "OUT_OF_DATE"


def test_streaming_demux_watermarks_cover_filtered_ranges(spark, log, tmp_path):
    """Every route commits the batch's global max lsn: a caught-up
    replica reports lag 0 even when the tail of the log carried no
    events for its route."""
    from aqueduct_core_spark.streaming.monitor import fleet_status

    src = str(tmp_path / "src")
    log.write.parquet(src)
    tables = {
        r: ParquetTranscriptTable.create(spark, str(tmp_path / f"w{r}"), num_buckets=4)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9)
    _drain_demux(spark, tables, src, str(tmp_path / "wk"), routes, cfg)
    st = fleet_status(tables, log)
    assert st["all_up_to_date"], st
    assert st["max_lag_lsn"] == 0
    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    for r, t in tables.items():
        assert t.last_committed_lsn() == mx


def test_demux_resume_survives_trigger_renumbering(spark, log, tmp_path):
    """Resume correctness is watermark-based: re-running with DIFFERENT
    trigger budgets (shifted epoch boundaries) neither re-applies into
    caught-up replicas nor skips events for a replica joining late."""
    fine = _cfg()  # max_events_per_trigger=1500
    coarse = EngineConfig(num_buckets=4, max_events_per_trigger=10**9,
                          mor_fold_every=10**9)
    route = F.col("cluster_id") % 2 == 0

    a = ParquetTranscriptTable.create(spark, str(tmp_path / "a"), num_buckets=4)
    replay_demux({"a": a}, log, {"a": route}, fine)
    v_a = a.catalog.current_version()

    # same tables, coarser (renumbered) triggers, plus a fresh replica
    b = ParquetTranscriptTable.create(spark, str(tmp_path / "b"), num_buckets=4)
    m = replay_demux({"a": a, "b": b}, log, {"a": route, "b": route}, coarse)
    assert not m["a"]                      # caught up: watermark skip
    assert a.catalog.current_version() == v_a
    assert len(m["b"]) >= 1                # newcomer converges
    assert _state(b).exceptAll(_state(a)).count() == 0
    assert _state(a).exceptAll(_state(b)).count() == 0
    assert a.last_committed_lsn() == b.last_committed_lsn()


def test_demux_unmatched_route_resume_noops(spark, log, tmp_path):
    """Watermark coverage: the committed lsn stamp must cover the whole
    SLICE (not just the rows a route kept), so a rerun of a caught-up
    demux plans zero applies and commits nothing — including for a
    route that matches nothing, whose watermark must still advance."""
    cfg = EngineConfig(
        num_buckets=4, max_events_per_trigger=1500, mor_fold_every=10**9,
    )
    tables = {
        "even": ParquetTranscriptTable.create(
            spark, str(tmp_path / "e"), num_buckets=4
        ),
        "none": ParquetTranscriptTable.create(
            spark, str(tmp_path / "n"), num_buckets=4
        ),
    }
    routes = {"even": F.col("cluster_id") % 2 == 0, "none": F.lit(False)}
    replay_demux(tables, log, routes, cfg)

    mx = int(log.agg(F.max("lsn")).collect()[0][0])
    for t in tables.values():
        assert t.last_committed_lsn() == mx  # slice-covering watermark
    versions = {k: t.catalog.current_version() for k, t in tables.items()}

    m = replay_demux(tables, log, routes, cfg)
    assert not m["even"] and not m["none"]  # no epochs re-applied
    for k, t in tables.items():
        assert t.catalog.current_version() == versions[k]


def test_fleet_status_empty_fleet(spark, log):
    """An empty fleet (bootstrap, before any route table exists) gets a
    well-formed roll-up, not max() over an empty sequence."""
    from aqueduct_core_spark.streaming.monitor import fleet_status

    st = fleet_status({}, changes_df=log)
    assert st["routes"] == {}
    assert st["all_up_to_date"] is False and st["slowest_route"] is None
    assert st["max_lag_lsn"] > 0
