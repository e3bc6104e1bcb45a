"""Cross-PROCESS single-writer proof (T8) + maintenance-race hardening.

The reference proves two whole compaction processes racing
(PostgresqlStorageIntegrationSpec.groovy:448-482, advisory-lock NOWAIT);
here the analog is two OS processes racing SnapshotCatalog.commit (and
VersionedMeta.commit) on one root — the loser must get a conflict from
the exclusive claim on a real filesystem, in every round.

The racers are FRESH interpreters (``subprocess``), not forks: forking
a pytest process that holds a live Spark JVM is fragile (a child can
inherit locks held by JVM/py4j threads mid-fork and die or hang — this
bit the earlier fork-based version of these tests under the full
suite), and a crashed fork twin left its sibling on a timeout-less
barrier, hanging pytest at exit.  The file barrier below has a hard
deadline and the parent kills stragglers, so the worst failure mode is
a loud test failure.
"""

import json
import os
import subprocess
import sys
import time

import pytest

from aqueduct_core_spark.catalog.snapshot import SnapshotCatalog

_RACER_PROG = r"""
import json, os, sys, time

kind, root, idx_s, rounds_s, sync = sys.argv[1:6]
idx, rounds = int(idx_s), int(rounds_s)


def barrier(tag):
    open(os.path.join(sync, f"{tag}-{idx}"), "w").close()
    other = os.path.join(sync, f"{tag}-{1 - idx}")
    deadline = time.time() + 60
    while not os.path.exists(other):
        if time.time() > deadline:
            sys.exit(3)  # sibling died: fail loud, never hang
        time.sleep(0.001)


if kind == "catalog":
    from aqueduct_core_spark.catalog.snapshot import (
        CommitConflict as Conflict,
        SnapshotCatalog as Target,
    )

    target = Target(root)

    def read():
        return target.current()

    def commit(base):
        target.commit(base, summary_updates={"who": idx})
else:
    from aqueduct_core_spark.catalog.meta import (
        MetaCommitConflict as Conflict,
        VersionedMeta as Target,
    )

    target = Target(root)

    def read():
        return target.read()

    def commit(base):
        meta = dict(base)
        meta["who"] = idx
        target.commit(meta, base_version=meta["version"])


wins = conflicts = 0
for r in range(rounds):
    barrier(f"a{r}")
    base = read()
    barrier(f"m{r}")  # both hold the SAME base before either commits
    try:
        commit(base)
        wins += 1
    except Conflict:
        conflicts += 1
    barrier(f"b{r}")

with open(os.path.join(sync, f"result-{idx}.json"), "w") as f:
    json.dump({"wins": wins, "conflicts": conflicts}, f)
"""


def _race_subprocesses(kind: str, root: str, tmp_path, rounds: int = 20):
    """Run two fresh-interpreter racers against ``root``; returns their
    (wins, conflicts) pairs.  Fails loud on any child error."""
    import aqueduct_core_spark

    sync = str(tmp_path / f"sync-{kind}")
    os.makedirs(sync, exist_ok=True)
    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(aqueduct_core_spark.__file__))
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER_PROG, kind, root, str(i),
             str(rounds), sync],
            env=env,
        )
        for i in range(2)
    ]
    try:
        for p in procs:
            assert p.wait(timeout=180) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    out = []
    for i in range(2):
        with open(os.path.join(sync, f"result-{i}.json")) as f:
            r = json.load(f)
        out.append((r["wins"], r["conflicts"]))
    return out


def test_commit_race_cross_process(tmp_path):
    root = str(tmp_path / "table")
    cat = SnapshotCatalog(root)
    cat.create(schema_fields=[], properties={})

    rounds = 20
    (w0, c0), (w1, c1) = _race_subprocesses("catalog", root, tmp_path, rounds)
    # every round: exactly one winner, exactly one CommitConflict loser
    assert w0 + w1 == rounds, (w0, w1, c0, c1)
    assert c0 + c1 == rounds, (w0, w1, c0, c1)
    assert cat.current()["snapshot_id"] == rounds
    # the lineage is a single chain — no forked history survived
    for v in range(1, rounds + 1):
        assert cat.load(v)["parent_id"] == v - 1


def test_orphan_cleanup_tolerates_racing_deleter(spark, tmp_path, monkeypatch):
    """A concurrent fold/cleanup deleting files mid-walk must not abort
    the pass (ADVICE: unhandled FileNotFoundError)."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes_pdf
    from aqueduct_core_spark.operators import compact
    from aqueduct_core_spark.operators.merge import apply_batch
    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    pdf = generate_changes_pdf(n_convs=10, seed=6)
    changes = spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    apply_batch(t, changes, epoch=0, cfg=EngineConfig(num_buckets=4))

    # unreferenced orphan, old enough to be collected
    orphan_dir = os.path.join(t.root, "data", "ghost")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "gone.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    os.utime(orphan, (time.time() - 100, time.time() - 100))

    real_getmtime = os.path.getmtime

    def racy_getmtime(path):
        if path == orphan:
            os.remove(orphan)  # racing deleter wins just before our stat
        return real_getmtime(path)

    monkeypatch.setattr("os.path.getmtime", racy_getmtime)
    # must complete without raising
    compact.remove_orphan_files(t, older_than_s=1)
    assert not os.path.exists(orphan)


def test_orphan_cleanup_keeps_markers_of_live_dirs(spark, tmp_path):
    """_SUCCESS/.crc markers inside directories holding referenced data
    are neither deleted nor counted."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes_pdf
    from aqueduct_core_spark.operators.compact import remove_orphan_files
    from aqueduct_core_spark.operators.merge import apply_batch
    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    pdf = generate_changes_pdf(n_convs=10, seed=7)
    changes = spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    apply_batch(t, changes, epoch=0, cfg=EngineConfig(num_buckets=4))

    markers = []
    for dp, _dn, fns in os.walk(os.path.join(t.root, "delta")):
        for fn in fns:
            if fn == "_SUCCESS" or fn.endswith(".crc"):
                markers.append(os.path.join(dp, fn))
        for fn in fns:
            os.utime(os.path.join(dp, fn), (time.time() - 100,) * 2)
    assert markers, "expected Spark job markers in the delta dir"
    removed = remove_orphan_files(t, older_than_s=1)
    assert removed == 0
    for m in markers:
        assert os.path.exists(m), f"live dir marker {m} was deleted"


def test_compact_log_validates_ts_monotonicity(spark):
    """ADVICE: the dead-state drop assumes ts monotone with lsn — the
    optional validator must catch a source that violates it."""
    import datetime as dt

    from aqueduct_core_spark.operators.compact import compact_log
    from aqueduct_core_spark.verify import ts_lsn_inversions

    t0 = dt.datetime(2024, 1, 1)

    def row(lsn, ts_off_h):
        return (lsn, "I", "c-1", 0, "user", "x", None,
                t0 + dt.timedelta(hours=ts_off_h), 10, 0, None)

    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    # block_bits=14: put rows in different blocks with inverted ts
    ok = spark.createDataFrame(
        [row(0, 0), row(1 << 14, 1), row(2 << 14, 2)], CHANGES_SCHEMA
    )
    assert ts_lsn_inversions(ok) == 0
    compact_log(ok, threshold=t0 + dt.timedelta(hours=1),
                validate_ts_monotone=True).collect()

    bad = spark.createDataFrame([row(0, 5), row(1 << 14, 1)], CHANGES_SCHEMA)
    assert ts_lsn_inversions(bad) > 0
    with pytest.raises(ValueError, match="monotone"):
        compact_log(bad, threshold=t0 + dt.timedelta(hours=2),
                    validate_ts_monotone=True)


def test_versioned_meta_race_cross_process(tmp_path):
    """The satellite surfaces' CAS meta (catalog/meta.py) holds across
    OS processes too: two drivers racing the same base version — e.g.
    a compliance process racing the streaming apply process on one
    SCD2 history — produce exactly one winner per round, and the
    version chain never forks or regresses."""
    from aqueduct_core_spark.catalog.meta import VersionedMeta

    root = str(tmp_path / "meta")
    vm = VersionedMeta(root)
    vm.init({"epoch": -1})

    rounds = 20
    (w0, c0), (w1, c1) = _race_subprocesses("meta", root, tmp_path, rounds)
    assert w0 + w1 == rounds, (w0, w1, c0, c1)
    assert c0 + c1 == rounds, (w0, w1, c0, c1)
    assert vm.read()["version"] == rounds
