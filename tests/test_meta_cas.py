"""CAS meta protocol shared by the satellite surfaces (SCD2 history,
ConvView rollups, DedupIndex): single-winner publication, loud loser,
crash roll-forward — the same guarantee the table catalog's link-claimed
manifests give the transcript table itself."""

import json
import os
import threading

import pytest

from aqueduct_core_spark.catalog.meta import MetaCommitConflict, VersionedMeta


@pytest.fixture()
def vm(tmp_path):
    v = VersionedMeta(str(tmp_path / "m"))
    v.init({"epoch": -1, "bucket_dirs": {}})
    return v


def test_commit_advances_version_and_persists(vm):
    meta = vm.read()
    assert meta["version"] == 0
    meta["epoch"] = 5
    out = vm.commit(meta, base_version=0)
    assert out["version"] == 1
    assert vm.read() == out


def test_stale_commit_raises_and_preserves_winner(vm):
    stale = vm.read()
    winner = vm.read()
    winner["epoch"] = 1
    vm.commit(winner, base_version=0)
    stale["epoch"] = -99
    with pytest.raises(MetaCommitConflict):
        vm.commit(stale, base_version=0)
    assert vm.read()["epoch"] == 1  # loser changed nothing


def test_threaded_race_single_winner(vm):
    """N threads race the same base version: exactly one publishes."""
    results = []

    def contend(i):
        meta = {"epoch": i, "bucket_dirs": {}}
        try:
            vm.commit(meta, base_version=0)
            results.append(("win", i))
        except MetaCommitConflict:
            results.append(("lose", i))

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for r in results if r[0] == "win"]
    assert len(wins) == 1
    assert vm.read()["epoch"] == wins[0][1]
    assert vm.read()["version"] == 1


def test_crash_between_claim_and_swap_rolls_forward(vm):
    """A claim without a pointer swap is published by the next read."""
    crashed = {"epoch": 42, "bucket_dirs": {}, "version": 1}
    cdir = os.path.join(vm.root, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, "v1"), "w") as f:
        json.dump(crashed, f)

    meta = vm.read()
    assert meta["epoch"] == 42 and meta["version"] == 1
    with open(vm.path) as f:  # pointer repaired on disk too
        assert json.load(f)["version"] == 1
    # and the next commit proceeds from the rolled-forward version
    meta["epoch"] = 43
    assert vm.commit(meta, base_version=1)["version"] == 2


def test_claims_dir_stays_bounded_and_current_claim_survives(vm):
    for e in range(3):
        meta = vm.read()
        meta["epoch"] = e
        vm.commit(meta, base_version=meta["version"])
    # commit's opportunistic hygiene already dropped superseded claims
    claims = [c for c in os.listdir(os.path.join(vm.root, "_commits"))
              if c.startswith("v")]
    assert claims == ["v3"]  # the current (authoritative) claim stays
    assert vm.cleanup() == 0
    assert os.path.exists(os.path.join(vm.root, "_commits", "v3"))
    # roll-forward still safe after cleanup
    assert vm.read()["version"] == 3


def test_gc_freed_slot_cannot_be_won_by_stale_writer(vm):
    """The review scenario: a slow writer with a stale base re-links a
    claim slot that hygiene/cleanup freed AFTER newer commits landed —
    it must conflict, not silently erase the newer commits."""
    stale = vm.read()  # version 0
    for e in range(3):  # three newer commits land; their claims v1, v2
        meta = vm.read()  # are freed by commit's own hygiene
        meta["epoch"] = e
        vm.commit(meta, base_version=meta["version"])
    assert not os.path.exists(os.path.join(vm.root, "_commits", "v1"))
    stale["epoch"] = -99
    with pytest.raises(MetaCommitConflict):
        vm.commit(stale, base_version=0)  # links v1 afresh — must lose
    assert vm.read()["epoch"] == 2  # newest commit unshadowed
    assert vm.read()["version"] == 3


def test_stalled_writer_late_swap_cannot_regress_reads(vm):
    """A writer that claimed but stalled before its pointer swap must
    not shadow newer commits when it resumes: reads resolve via the
    highest claim, not the pointer."""
    meta = vm.read()
    meta["epoch"] = 10
    vm.commit(meta, base_version=0)  # v1 published
    meta2 = vm.read()
    meta2["epoch"] = 11
    vm.commit(meta2, base_version=1)  # v2 published
    # simulate the stalled writer's late, unguarded pointer swap
    vm._swap({"epoch": 10, "version": 1})
    assert vm.read()["epoch"] == 11  # healed from the v2 claim
    assert vm.read()["version"] == 2


def test_legacy_meta_without_version_upgrades(tmp_path):
    """Metas written before the CAS protocol (no version field) read as
    version 0 and commit normally."""
    root = str(tmp_path / "legacy")
    os.makedirs(root)
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump({"epoch": 7}, f)
    vm = VersionedMeta(root)
    meta = vm.read()
    assert meta["version"] == 0 and meta["epoch"] == 7
    assert vm.commit(meta, base_version=0)["version"] == 1


def test_convview_refresh_conflict_fails_loud(spark, tmp_path):
    """Two ConvView refreshes from the same base meta: the second
    publisher loses loudly instead of silently reverting the first's
    bucket map (the lost-update race the SCD2 history fix closed,
    applied to the materialized-view surface)."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.operators.rollup import ConvRollup
    from aqueduct_core_spark.streaming.pipeline import replay

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"),
                                          num_buckets=4)
    log = generate_changes(spark, n_convs=30, seed=3)
    replay(table, log, EngineConfig(num_buckets=4))
    view = ConvRollup.create(spark, str(tmp_path / "v"), num_buckets=4)

    stale = view._meta()
    view.refresh(table)  # the winner
    stale["table_version"] = 999
    with pytest.raises(MetaCommitConflict):
        view._vm.commit(stale, base_version=stale["version"])
    assert view.last_table_version() == table.catalog.current_version()


def test_dedup_index_concurrent_mutation_fails_loud(spark, tmp_path):
    """add() racing remove() from the same meta version: one loses
    loudly; the index never silently drops a tombstone or a file list
    entry."""
    from aqueduct_core_spark.functions.dedup_index import DedupIndex

    docs = spark.createDataFrame(
        [(f"d{i}", f"some text body number {i} with words") for i in range(20)],
        "doc_id string, text string",
    )
    ix = DedupIndex.create(spark, str(tmp_path / "ix"), num_parts=4)
    ix.add(docs)

    stale = ix._meta()
    ix.remove(docs.select("doc_id").limit(3))  # winner commits v2
    stale["n_docs"] = -1
    with pytest.raises(MetaCommitConflict):
        ix._vm.commit(stale, base_version=stale["version"])
    assert ix._meta()["tombstones"]  # winner's tombstones intact


def test_reader_repair_during_commit_is_not_a_conflict(vm, monkeypatch):
    """A concurrent read() that repairs the pointer onto the writer's
    own just-landed claim must not make the writer raise: its commit is
    durably published at that point (the old >= pointer check turned
    this confirmation into a false MetaCommitConflict, wedging callers
    on retry — apply would see OutOfOrderBatch, add() double-append)."""
    import os as _os

    real_link = _os.link

    def link_then_reader_repairs(src, dst):
        real_link(src, dst)
        # a second handle reads mid-commit: sees the claim above the
        # pointer and repairs the pointer to it
        VersionedMeta(vm.root).read()

    monkeypatch.setattr(_os, "link", link_then_reader_repairs)
    meta = vm.read()
    meta["epoch"] = 7
    out = vm.commit(meta, base_version=0)  # must NOT raise
    assert out["version"] == 1
    assert vm.read()["epoch"] == 7


def test_read_retries_when_hygiene_frees_the_scanned_claim(vm):
    """TOCTOU between the max-claim scan and opening the claim file: a
    committer's hygiene removes v{top} because a higher claim landed —
    read() must re-scan, not crash with FileNotFoundError."""
    meta = vm.read()
    meta["epoch"] = 1
    vm.commit(meta, base_version=0)
    # simulate the scan/open race: first scan sees a claim that is gone
    real = vm._max_claim
    calls = {"n": 0}

    def flaky_scan():
        calls["n"] += 1
        if calls["n"] == 1:
            return 99  # claim v99 "existed at scan time", gone at open
        return real()

    vm._max_claim = flaky_scan
    # force the claim path (pointer behind the scan result)
    vm._swap({"epoch": 0, "version": 0})
    out = vm.read()
    assert out["version"] == 1 and out["epoch"] == 1
    assert calls["n"] >= 2  # it did retry


def test_cleanup_publishes_floor_so_freed_slots_conflict(vm):
    """cleanup() (not just commit hygiene) must make the slots it frees
    un-winnable: floor marker first, removal second."""
    import json as _json
    import os as _os

    stale = vm.read()  # base 0
    # three claims land without commit hygiene (simulated crashed
    # writers that never removed their bases)
    cdir = _os.path.join(vm.root, "_commits")
    _os.makedirs(cdir, exist_ok=True)
    for v in (1, 2, 3):
        with open(_os.path.join(cdir, f"v{v}"), "w") as f:
            _json.dump({"epoch": v, "version": v}, f)
    assert vm.cleanup() == 2  # v1, v2 freed; v3 (current) stays
    stale["epoch"] = -99
    with pytest.raises(MetaCommitConflict):
        vm.commit(stale, base_version=0)  # would re-link freed v1
    assert vm.read()["epoch"] == 3


def test_failed_manifest_write_claims_no_version(tmp_path):
    """The table catalog's manifest claim is content-atomic: a commit
    whose manifest cannot be serialized raises and leaves no torn
    ``v{N}.json``, so the next commit, liveness scans and staged-version
    discovery all still work."""
    from aqueduct_core_spark.catalog.snapshot import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "t"))
    base = cat.create([])
    with pytest.raises(TypeError):
        cat.commit(base, summary_updates={"bad": object()})
    assert cat.history() == [0]
    assert cat.staged_version() is None
    assert cat.referenced_files() == set()
    snap = cat.commit(base, added_offsets_files=["o.parquet"])
    assert cat.current_version() == 1 and snap["offsets_files"] == ["o.parquet"]
    assert cat.expire_snapshots(keep_last=1) == []
    assert sorted(os.listdir(cat._snap_dir)) == ["v1.json"]


def test_failed_tag_write_leaves_no_ref(tmp_path, monkeypatch):
    """A tag whose ref write fails midway claims nothing: no torn
    ``refs/<name>.json`` is left, ``tags()`` still reads, and the name
    can be tagged afterwards."""
    from aqueduct_core_spark.catalog import snapshot

    cat = snapshot.SnapshotCatalog(str(tmp_path / "t"))
    cat.create([])

    def torn_dump(obj, f, *a, **k):
        f.write('{"name": ')
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(snapshot.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            cat.tag("run-1")
    assert cat.tags() == {}
    assert cat.tag("run-1") == 0
    assert cat.tags() == {"run-1": 0}
    assert os.listdir(cat._refs_dir()) == ["run-1.json"]
