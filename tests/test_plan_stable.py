"""Replay epoch planning: the driver-side footer index over a bare log
scan, zero-job manifest trigger planning, replay windows, and
literal ``lsn``-range epoch slices (which push into the parquet scan);
and the contract of the one ingest loop, ``_apply_epochs``, that every
apply path commits through.
"""

import ast
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf, expected_state_pdf
from aqueduct_core_spark.schema import CHANGES_SCHEMA
from aqueduct_core_spark.streaming.pipeline import (
    AuditFailed,
    _apply_epochs,
    _lsn_file_index,
    _plan,
    replay,
    run_available_now,
)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan-stable") / "changes")
    pdf = generate_changes_pdf(n_convs=120, seed=7)
    spark.createDataFrame(pdf, schema=CHANGES_SCHEMA).repartition(6).write.parquet(d)
    return d


def test_file_index_refuses_non_leaf_plans(spark, log_dir):
    """A transformed DataFrame must NOT be bypassed by raw file reads —
    the index is only valid for a bare scan."""
    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    assert _lsn_file_index(log.where(F.col("op") == "I")) is None
    assert _lsn_file_index(log.select("lsn", "op")) is None
    local = spark.createDataFrame([(1,)], "lsn bigint")
    assert _lsn_file_index(local) is None  # no input files


def test_replay_state_identical_both_modes(spark, log_dir, tmp_path):
    """End-to-end: a multi-epoch replay and a replay applied one epoch
    per call (as a tailing replica runs it) produce the same final
    table state as the pandas oracle."""
    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    pdf = log.toPandas()
    expected = expected_state_pdf(pdf)

    def check(t):
        got = (
            t.read_internal()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert len(got) == len(expected)
        assert (got["text"].fillna("") == expected["text"].fillna("")).all()
        assert (got["_lsn"] == expected["_lsn"]).all()

    cfg = EngineConfig(
        num_buckets=4, max_events_per_trigger=600, max_bytes_per_trigger=1 << 30
    )
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "pipelined"), num_buckets=4)
    metrics = replay(t, log, cfg, start_epoch=0, start_lsn=0)
    assert len(metrics) > 3  # genuinely multi-epoch
    check(t)

    one = EngineConfig(
        num_buckets=4, max_events_per_trigger=1 << 40, max_bytes_per_trigger=1 << 40
    )
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "per-call"), num_buckets=4)
    for m in metrics:
        (got,) = replay(t, log, one, end_lsn=m["last_lsn"])
        assert got["last_lsn"] == m["last_lsn"]
    check(t)


def test_plan_triggers_from_files_unit():
    """Pure-driver manifest planning: budget packing, window clipping,
    overlap and missing-stats fallbacks."""
    from aqueduct_core_spark.operators.batching import plan_triggers_from_files

    idx = [
        ("a", 0, 99, 100, 1000),
        ("b", 100, 199, 100, 1000),
        ("c", 200, 299, 100, 1000),
        ("d", 300, 399, 50, 500),
    ]
    # row budget 200 → files pack pairwise
    r = plan_triggers_from_files(idx, max_events=200, max_bytes=1 << 30)
    assert [(t.start_lsn, t.end_lsn, t.events) for t in r] == [
        (0, 199, 200), (200, 399, 150)]
    # byte budget dominates: a | b | c+d (1000+500 fits 1500 exactly)
    r = plan_triggers_from_files(idx, max_events=10**9, max_bytes=1500)
    assert [(t.start_lsn, t.end_lsn) for t in r] == [
        (0, 99), (100, 199), (200, 399)]
    # window clipping drops non-intersecting files and clamps bounds
    r = plan_triggers_from_files(idx, 10**9, 1 << 30, start_lsn=150, end_lsn=250)
    assert len(r) == 1 and r[0].start_lsn == 150 and r[0].end_lsn == 250
    # overlapping lsn ranges → None (scan-planner fallback)
    assert plan_triggers_from_files(
        [("a", 0, 150, 10, 10), ("b", 100, 300, 10, 10)], 10, 10) is None
    # stats-less file → None
    assert plan_triggers_from_files(
        [("a", 0, 99, None, None)], 10, 10) is None
    # fully-replayed window → []
    assert plan_triggers_from_files(idx, 10, 10, start_lsn=1000) == []


def test_replay_manifest_planned(spark, tmp_path):
    """A log written in lsn order (disjoint per-file ranges) replays
    through the manifest planner — epochs align to file groups, zero
    planner Spark jobs — and the final state matches the oracle."""
    from aqueduct_core_spark.operators.batching import plan_triggers_from_files

    d = str(tmp_path / "sorted-log")
    pdf = generate_changes_pdf(n_convs=120, seed=7).sort_values("lsn")
    n = len(pdf)
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        spark.createDataFrame(pdf.iloc[a:b], schema=CHANGES_SCHEMA).coalesce(
            1
        ).write.parquet(d, mode="append")
    log = spark.read.schema(CHANGES_SCHEMA).parquet(d)
    idx = _lsn_file_index(log)
    assert idx is not None and all(t[3] is not None for t in idx)
    # disjoint files → the manifest plan exists and is file-aligned
    plan = plan_triggers_from_files(
        idx, max_events=n // 4 + 1, max_bytes=1 << 40, start_lsn=0)
    assert plan is not None and len(plan) == 4

    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    cfg = EngineConfig(
        num_buckets=4, max_events_per_trigger=n // 4 + 1,
        max_bytes_per_trigger=1 << 40,
    )
    metrics = replay(t, log, cfg, start_epoch=0, start_lsn=0)
    assert len(metrics) == 4  # one epoch per file: manifest-aligned
    expected = expected_state_pdf(pdf)
    got = t.read_internal().orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(expected)
    assert (got["_lsn"].to_numpy() == expected["_lsn"].to_numpy()).all()


def test_replay_window_end_lsn(spark, log_dir, tmp_path):
    """end_lsn bounds the replay window (warmup/backfill use case)."""
    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    b = log.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    split = int(b["lo"]) + (int(b["hi"]) - int(b["lo"])) // 2
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    cfg = EngineConfig(num_buckets=4)
    replay(t, log, cfg, start_epoch=0, start_lsn=0, end_lsn=split)
    assert t.last_committed_lsn() <= split
    # resume covers the rest; final state matches the full-log oracle
    replay(t, log, cfg)
    expected = expected_state_pdf(log.toPandas())
    got = t.read_internal().orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(expected)
    assert (got["_lsn"].to_numpy() == expected["_lsn"].to_numpy()).all()


def _delta_files(root):
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "delta"))
        for f in fs
    )


def test_committed_replay_rerun_prepares_nothing(spark, log_dir, tmp_path):
    """Rerunning a committed multi-epoch replay from epoch 0 / lsn 0
    skips every epoch through the exactly-once guard without preparing
    it: no commit and no delta file written (a prepared-then-skipped
    epoch would leave its deltas behind as orphans)."""
    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    cfg = EngineConfig(
        num_buckets=4, max_events_per_trigger=600, max_bytes_per_trigger=1 << 30
    )
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    first = replay(t, log, cfg, start_epoch=0, start_lsn=0)
    assert len(first) > 3
    v, files = t.catalog.current_version(), _delta_files(t.root)

    again = replay(t, log, cfg, start_epoch=0, start_lsn=0)
    assert [m["state"] for m in again] == ["SKIPPED_DUPLICATE_EPOCH"] * len(first)
    assert t.catalog.current_version() == v
    assert _delta_files(t.root) == files


def test_committed_epoch_with_new_lsns_raises_collision(spark, log_dir, tmp_path):
    """A committed epoch number whose slice carries lsns past the
    watermark is not a re-delivery: the replay raises EpochCollision
    and commits and writes nothing, not even for the later epochs of
    the same call."""
    from aqueduct_core_spark.operators.merge import EpochCollision

    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    cfg = EngineConfig(
        num_buckets=4, max_events_per_trigger=600, max_bytes_per_trigger=1 << 30
    )
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    first = replay(t, log, cfg, start_epoch=0, start_lsn=0)
    head = first[0]["last_lsn"]
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "head"), num_buckets=4)
    (m,) = replay(t, log, cfg, start_epoch=0, start_lsn=0, end_lsn=head)
    assert m["epoch"] == 0
    v, files = t.catalog.current_version(), _delta_files(t.root)

    with pytest.raises(EpochCollision, match="NOT a re-delivery"):
        replay(t, log, cfg, start_epoch=0, start_lsn=head + 1)
    assert t.catalog.current_version() == v
    assert _delta_files(t.root) == files


def _loop_items(log, cfg, n=None):
    """Replay-shaped loop items over the first ``n`` trigger ranges."""
    ranges, pending = _plan(log, cfg, start_lsn=0)
    return ranges[:n], [
        (pending.where(F.col("lsn").between(r.start_lsn, r.end_lsn)), i, r.end_lsn, None)
        for i, r in enumerate(ranges[:n])
    ]


def test_loop_failed_audit_stops_later_items(spark, log_dir, tmp_path):
    """An audited loop whose audit fails on item 2 raises AuditFailed
    before item 3 commits: the head stays at item 1's epoch and
    watermark with no staged version left, and rerunning the items
    with passing audits skips item 1 and converges to the plain
    replay of the same window."""
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.verify import states_equal

    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=600, max_bytes_per_trigger=1 << 30)
    ranges, items = _loop_items(log, cfg, n=3)
    assert len(items) == 3
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    first_only = {
        "first_range": lambda st: st.agg(F.max(LSN_COLUMN)).first()[0] <= ranges[0].end_lsn
    }
    with pytest.raises(AuditFailed, match="epoch 1 failed audits"):
        _apply_epochs(t, items, cfg, audits=first_only)
    assert t.last_committed_epoch() == 0
    assert t.last_committed_lsn() == ranges[0].end_lsn
    assert t.catalog.staged_version() is None

    rows = _apply_epochs(t, items, cfg, audits={"ok": lambda st: True})
    assert rows[0]["state"] == "SKIPPED_DUPLICATE_EPOCH"
    assert [m.get("published") for m in rows[1:]] == [True, True]
    plain = ParquetTranscriptTable.create(spark, str(tmp_path / "plain"), num_buckets=4)
    replay(plain, log, cfg, start_epoch=0, start_lsn=0, end_lsn=ranges[2].end_lsn)
    assert t.last_committed_lsn() == plain.last_committed_lsn()
    assert states_equal(t.read_internal(), plain.read_internal())


def test_loop_maintainer_matches_stream_rollup(spark, log_dir, tmp_path):
    """A rollup maintained by a multi-item loop call equals the one the
    streaming drain maintains over the same log."""
    from aqueduct_core_spark.operators.rollup import ConvRollup

    cfg = EngineConfig(num_buckets=4, mor_fold_every=10**9, max_events_per_trigger=600,
                       max_bytes_per_trigger=1 << 30)
    streamed = ParquetTranscriptTable.create(spark, str(tmp_path / "s"), num_buckets=4)
    stream_rollup = ConvRollup.create(spark, str(tmp_path / "sr"), num_buckets=8)
    run_available_now(spark, streamed, log_dir, str(tmp_path / "ckpt"), cfg,
                      max_files_per_trigger=2, maintainers=[stream_rollup])

    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    _, items = _loop_items(log, cfg)
    assert len(items) > 1
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    rollup = ConvRollup.create(spark, str(tmp_path / "r"), num_buckets=8)
    rows = _apply_epochs(t, items, cfg, maintainers=[rollup])
    assert all("ConvRollup" in m for m in rows)
    assert rollup.last_table_version() == t.catalog.current_version()

    def frame(r):
        df = r.read().toPandas()
        return df[sorted(df.columns)].sort_values("conv_id").reset_index(drop=True)

    pd.testing.assert_frame_equal(frame(rollup), frame(stream_rollup))


def test_loop_fold_overlaps_next_prepares(spark, log_dir, tmp_path, monkeypatch):
    """A fold due with epoch 0 runs while the prepares of epochs 1 AND 2
    are under way: the loop submits the next planned item before it
    commits the oldest, so epoch 2's prepare starts before epoch 0's
    slowed fold returns."""
    import threading
    import time

    from aqueduct_core_spark.operators import compact, merge

    events: dict = {}
    lock = threading.Lock()
    real_prepare, real_fold = merge.mor_prepare, compact.fold_deltas

    def prepare(table, batch, epoch):
        with lock:
            events.setdefault(("prepare", epoch), time.monotonic())
        return real_prepare(table, batch, epoch)

    def slow_fold(table, *a, **kw):
        first = "fold_end" not in events
        if first:
            time.sleep(3)
        out = real_fold(table, *a, **kw)
        if first:
            events["fold_end"] = time.monotonic()
        return out

    monkeypatch.setattr(merge, "mor_prepare", prepare)
    monkeypatch.setattr(compact, "fold_deltas", slow_fold)
    log = spark.read.schema(CHANGES_SCHEMA).parquet(log_dir)
    cfg = EngineConfig(num_buckets=4, mor_fold_every=1, max_events_per_trigger=600,
                       max_bytes_per_trigger=1 << 30)
    _, items = _loop_items(log, cfg, n=4)
    assert len(items) == 4
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    rows = _apply_epochs(t, items, cfg)
    assert [m["epoch"] for m in rows] == [0, 1, 2, 3] and rows[0].get("folded")
    assert events[("prepare", 2)] < events["fold_end"]


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _references(path, names):
    """``(enclosing function, name)`` of every call of, or reference to,
    one of ``names`` in the module at ``path`` (definitions excluded).
    The enclosing function is the outermost one, qualified by its class
    (``Class.method``)."""
    found = []

    def visit(node, outer, in_fn):
        for child in ast.iter_child_nodes(node):
            scope, fn = outer, in_fn
            if not in_fn and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                scope = f"{outer}.{child.name}" if outer else child.name
                fn = not isinstance(child, ast.ClassDef)
            name = (child.id if isinstance(child, ast.Name)
                    else child.attr if isinstance(child, ast.Attribute) else None)
            if name in names:
                found.append((outer, name))
            visit(child, scope, fn)

    with open(path) as f:
        visit(ast.parse(f.read(), path), None, False)
    return found


def _assert_only_reached_from(names, sites):
    """Outside tests, ``names`` are referenced exactly at ``sites``:
    ``(file, enclosing function, name)`` triples."""
    paths = [os.path.join(_REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    for top in ("aqueduct_core_spark", "bench", "tools"):
        for d, _, fs in os.walk(os.path.join(_REPO, top)):
            paths += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    seen = {
        (os.path.relpath(p, _REPO), outer, name)
        for p in paths
        for outer, name in _references(p, names)
    }
    assert seen == sites, (seen - sites, sites - seen)


def test_one_ingest_loop_guard():
    """Outside tests, ``apply_batch`` and ``apply_audited`` are reached
    only from the one ingest loop, ``streaming.pipeline._apply_epochs``
    (plus ``apply_audited``'s own call to ``apply_batch``): every other
    path commits epochs through the loop."""
    loop = ("aqueduct_core_spark/streaming/pipeline.py", "_apply_epochs")
    _assert_only_reached_from(("apply_batch", "apply_audited"), {
        (*loop, "apply_batch"),
        (*loop, "apply_audited"),
        ("aqueduct_core_spark/operators/merge.py", "apply_audited", "apply_batch"),
    })


def test_one_bucket_write_guard():
    """Outside tests, ``write_bucket_data`` is reached only from
    ``ParquetTranscriptTable.rewrite_buckets``: every bucket rewriter
    reads, writes, carries tombstones and commits through it."""
    _assert_only_reached_from(("write_bucket_data",), {
        ("aqueduct_core_spark/catalog/table.py", "ParquetTranscriptTable.rewrite_buckets",
         "write_bucket_data"),
    })
