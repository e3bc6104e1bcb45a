"""Snapshot-manifest catalog: atomic commits over plain Parquet.

Every transcript table the engine applies to is a
:class:`~aqueduct_core_spark.catalog.table.ParquetTranscriptTable`
tracked by this catalog (the Iceberg class in ``catalog.table`` is not
an alternative backend: no apply path accepts it).  The catalog gives
the engine the three guarantees an Iceberg table would:

1. **Atomic commit** — readers see the old or the new table state,
   never a half-written one (reference analog: one SQLite transaction
   for messages+offsets+state, ``SQLiteStorage.java:199-241``).
2. **Snapshot isolation** — a read plan is pinned to one snapshot's
   file list (reference analog: REPEATABLE READ + globalLatestOffset
   ceiling, ``PostgresqlStorage.java:134-141, 158-168``).
3. **Commit summary properties** — the exactly-once epoch/max-lsn stamp
   rides in the same commit as the data (replaces the OFFSET register
   upsert-in-same-txn, ``SQLiteQueries.java:47-49``).

Implementation: a tiny JSON manifest per snapshot listing data files
per bucket, plus a ``VERSION`` pointer file swapped with ``os.replace``
(POSIX-atomic).  Manifests are metadata-only and O(files); the data
plane never touches the driver.  Concurrent committers race to link a
fully-written manifest onto the next version's name — optimistic
concurrency with claims that are never torn; the loser retries/skips
(reference analog: compaction advisory lock ``SELECT … FOR UPDATE
NOWAIT``, ``PostgresqlStorage.java:410-421``).
"""

from __future__ import annotations

import json
import os
import time
import uuid


class CommitConflict(Exception):
    """Another writer committed the same version first."""


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        self._snap_dir = os.path.join(root, "snapshots")

    # -- init ----------------------------------------------------------
    def create(self, schema_fields: list[dict], properties: dict | None = None) -> dict:
        os.makedirs(self._snap_dir, exist_ok=True)
        snap = {
            "snapshot_id": 0,
            "parent_id": None,
            "schema": schema_fields,
            "files": {},           # bucket(str) -> [relative parquet paths] (base)
            "delta_files": {},     # bucket(str) -> [relative parquet paths] (MOR deltas)
            "offsets_files": [],   # relative parquet paths of the _offsets log
            "summary": dict(properties or {}),
        }
        self._write_manifest(snap)
        self._swap_version(0)
        return snap

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.root, "VERSION"))

    # -- read ----------------------------------------------------------
    def current_version(self) -> int:
        with open(os.path.join(self.root, "VERSION")) as f:
            return int(f.read().strip())

    def current(self) -> dict:
        return self.load(self.current_version())

    def load(self, version: int) -> dict:
        with open(os.path.join(self._snap_dir, f"v{version}.json")) as f:
            return json.load(f)

    def history(self) -> list[int]:
        vs = [
            int(n[1:-5])
            for n in os.listdir(self._snap_dir)
            if n.startswith("v") and n.endswith(".json")
        ]
        return sorted(vs)

    # -- write ---------------------------------------------------------
    def commit(
        self,
        base: dict,
        added_offsets_files: list[str] | None = None,
        replace_offsets_files: list[str] | None = None,
        summary_updates: dict | None = None,
        schema_fields: list[dict] | None = None,
        full_files: dict[str, list[str]] | None = None,
        added_delta_buckets: dict[str, list[str]] | None = None,
        clear_delta_buckets: list[str] | None = None,
        publish: bool = True,
        column_mapping: dict[str, str] | None = None,
    ) -> dict:
        """Produce snapshot N+1 from ``base``.

        ``full_files`` replaces the whole base layout (a bucket rewrite
        passes its post-rewrite file map); ``added_delta_buckets``
        appends merge-on-read delta files (fast-append commit, Iceberg
        MOR analog); ``clear_delta_buckets`` drops the named buckets'
        deltas (a rewrite folds them — Iceberg's per-partition
        ``rewrite_data_files``); ``replace_offsets_files`` swaps the
        whole offsets-log file list (offsets compaction — the metrics
        log is itself log-structured and must not grow one file per
        epoch forever), with ``added_offsets_files`` still appended
        after the swap.

        ``publish=False`` stages the snapshot WITHOUT advancing the
        ``VERSION`` pointer (write-audit-publish, the Iceberg WAP
        analog): the manifest claims the next id — so concurrent
        writers are serialized exactly as for a published commit — but
        readers keep seeing the old state until :meth:`publish`.  The
        auditor reads the staged state via a version-pinned read, then
        publishes or :meth:`abandon`\\ s.  At most ONE snapshot can be
        staged at a time (the next claim conflicts); a staged manifest
        left by a crash is discovered with :meth:`staged_version`.
        """
        files = dict(base["files"]) if full_files is None else dict(full_files)
        deltas = {k: list(v) for k, v in base.get("delta_files", {}).items()}
        for b in clear_delta_buckets or ():
            deltas.pop(str(b), None)
        for b, fl in (added_delta_buckets or {}).items():
            deltas.setdefault(b, []).extend(fl)
        snap = {
            "snapshot_id": base["snapshot_id"] + 1,
            "parent_id": base["snapshot_id"],
            "schema": schema_fields or base["schema"],
            "files": files,
            "delta_files": deltas,
            "offsets_files": (
                list(replace_offsets_files)
                if replace_offsets_files is not None
                else base["offsets_files"]
            )
            + list(added_offsets_files or []),
            "summary": {**base["summary"], **(summary_updates or {})},
        }
        # rename metadata (logical name mapping — Iceberg's field-id
        # indirection expressed over Parquet): carried forward unless
        # this commit changes it
        cm = column_mapping if column_mapping is not None else base.get("column_mapping")
        if cm is not None:
            snap["column_mapping"] = cm
        if not publish:
            # per-stage identity: the publish/abandon decision claims an
            # O_EXCL file named by this id, so exactly one of a racing
            # publish and abandon wins even across processes — and a
            # re-stage of the same version number (after an abandon)
            # gets a fresh decision
            snap["summary"]["aqueduct.stage-id"] = uuid.uuid4().hex
        self._write_manifest(snap)
        if publish:
            self._swap_version(snap["snapshot_id"])
        return snap

    def _claim_decision(self, snap: dict, verb: str) -> str:
        """Claim the single-winner publish/abandon decision for this
        stage.  Returns the WINNING verb: ours when the claim lands, or
        the verb already durably claimed — a crash between a past
        claim and its pointer swap / manifest removal must be ROLLED
        FORWARD by the caller, not wedge every recovery attempt in
        CommitConflict until the decide-file sweep.  The claim is
        content-atomic (write + fsync, then link), so an existing claim
        always carries its verb."""
        sid = snap["summary"].get("aqueduct.stage-id", f"v{snap['snapshot_id']}")
        path = os.path.join(self._snap_dir, f".decide-{sid}")
        try:
            _claim(path, lambda f: f.write(verb))
            return verb
        except FileExistsError:
            with open(path) as f:
                winner = f.read().strip()
            if not winner:
                # pre-roll-forward claim torn mid-write: undecidable
                raise CommitConflict(
                    f"staged v{snap['snapshot_id']} carries an empty "
                    "decision claim; manual repair required"
                ) from None
            return winner

    # -- write-audit-publish --------------------------------------------
    def staged_version(self) -> int | None:
        """The unpublished staged snapshot's version, or None.  By
        construction (manifest-claim serialization) at most one exists:
        published head + 1."""
        nxt = self.current_version() + 1
        path = os.path.join(self._snap_dir, f"v{nxt}.json")
        return nxt if os.path.exists(path) else None

    def publish(self, version: int) -> dict:
        """Make a staged snapshot the readers' current version.  The
        manifest was durable (fsync'd) at stage time, so publish is one
        atomic pointer swap — nothing can half-publish.  The
        publish-vs-abandon decision is single-winner (O_EXCL claim on
        the stage id): a racing abandon cannot remove the manifest the
        pointer is about to reference."""
        cur = self.current_version()
        if version != cur + 1:
            raise ValueError(
                f"cannot publish v{version}: published head is v{cur} "
                "(only the staged head, head+1, is publishable)"
            )
        snap = self.load(version)  # raises if nothing staged
        if self._claim_decision(snap, "publish") != "publish":
            raise CommitConflict(
                f"staged v{version} was decided abandon (racing or "
                "crashed abandon won); restage the epoch"
            )
        # ours, or a crashed publisher's claim rolled forward — the
        # swap is idempotent either way
        self._swap_version(version)
        return snap

    def abandon(self, version: int) -> None:
        """Drop a staged (never-published) snapshot: the manifest is
        removed, unblocking the version sequence; its data files become
        unreferenced and are reclaimed by ``remove_orphan_files``.
        Refuses to touch published versions; loses (raises
        ``CommitConflict``) against a racing publish; a repeat abandon
        of an already-removed stage is a no-op."""
        if version <= self.current_version():
            raise ValueError(f"v{version} is published; use rollback, not abandon")
        path = os.path.join(self._snap_dir, f"v{version}.json")
        try:
            snap = self.load(version)
        except FileNotFoundError:
            return  # already abandoned
        if self._claim_decision(snap, "abandon") != "abandon":
            # the decision is publish — a racer won, or a past publish
            # crashed between its claim and the pointer swap.  Complete
            # the publish (idempotent) so the sequence isn't wedged,
            # then fail this abandon loudly: the stage is now the
            # published head (a replay of its epoch skips as duplicate).
            self._swap_version(version)
            raise CommitConflict(
                f"staged v{version} was decided publish; completed the "
                "pointer swap instead of abandoning"
            )
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    # -- named refs (tags) ----------------------------------------------
    def _refs_dir(self) -> str:
        return os.path.join(self.root, "refs")

    def tag(self, name: str, version: int | None = None) -> int:
        """Create an immutable named ref to a snapshot version (Iceberg
        tag analog — e.g. pin the exact table state a training run
        read).  Tagged versions are retained by ``expire_snapshots``
        regardless of ``keep_last``.  Names are claimed whole (see
        :func:`_claim`): re-tagging an existing name raises
        (immutability), racing taggers get one winner, and a failed
        write leaves no ref."""
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9._-]*", name):
            raise ValueError(f"invalid tag name {name!r}")
        version = self.current_version() if version is None else int(version)
        self.load(version)  # must exist
        os.makedirs(self._refs_dir(), exist_ok=True)
        ref = {"name": name, "version": version, "created": utcnow_iso()}
        try:
            _claim(os.path.join(self._refs_dir(), f"{name}.json"), lambda f: json.dump(ref, f))
        except FileExistsError as e:
            raise CommitConflict(f"tag {name!r} already exists") from e
        return version

    def delete_tag(self, name: str) -> int:
        """Release a named ref (the ONLY mutation tags support — the
        ref itself is immutable, deletion just stops it from retaining
        its snapshot).  Needed by compliance flows: a tagged version
        pins its files through ``expire_snapshots``, so an
        erase/redact ``purge`` cannot physically delete bytes a tag
        still references — the operator deletes the tag, then
        re-purges.  Returns the version the tag pointed at."""
        path = os.path.join(self._refs_dir(), f"{name}.json")
        try:
            with open(path) as f:
                version = int(json.load(f)["version"])
        except FileNotFoundError as e:
            raise KeyError(f"no tag {name!r}") from e
        os.remove(path)
        return version

    def tags(self) -> dict[str, int]:
        d = self._refs_dir()
        if not os.path.isdir(d):
            return {}
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    ref = json.load(f)
                out[ref["name"]] = int(ref["version"])
        return out

    def resolve(self, ref: int | str) -> int:
        """A version number passes through; a string resolves as a tag
        name (fail-loud on unknown)."""
        if isinstance(ref, int):
            return ref
        tags = self.tags()
        if ref not in tags:
            raise KeyError(f"unknown tag {ref!r}; known: {sorted(tags)}")
        return tags[ref]

    def rollback(self, to_version: int) -> dict:
        """Commit a NEW snapshot whose content is ``to_version``'s —
        the Iceberg ``rollback_to_snapshot`` analog for undoing a bad
        epoch.  History is preserved (the undone snapshots stay
        readable until expired), the commit races through the same
        manifest claim as any writer, and the exactly-once
        stamp (``aqueduct.epoch``/``aqueduct.max-lsn`` in the summary)
        and ``offsets_files`` revert with the target's content — so a
        subsequent replay resumes from the rolled-back watermark and
        re-applies the undone lsn range (idempotent under LWW replay
        safety, T4/T5)."""
        cur = self.current()
        tgt = self.load(to_version)
        snap = {
            "snapshot_id": cur["snapshot_id"] + 1,
            "parent_id": cur["snapshot_id"],
            "schema": tgt["schema"],
            "files": dict(tgt["files"]),
            "delta_files": {
                k: list(v) for k, v in tgt.get("delta_files", {}).items()
            },
            "offsets_files": list(tgt["offsets_files"]),
            "summary": {
                **tgt["summary"],
                "aqueduct.rollback-of": cur["snapshot_id"],
                "aqueduct.rollback-to": to_version,
            },
        }
        if "column_mapping" in tgt:
            snap["column_mapping"] = tgt["column_mapping"]
        self._write_manifest(snap)
        self._swap_version(snap["snapshot_id"])
        return snap

    # -- internals -----------------------------------------------------
    def _write_manifest(self, snap: dict) -> None:
        """Claim ``v{N}.json`` with the whole manifest (:func:`_claim`);
        an existing name is a lost race (optimistic concurrency
        control)."""
        path = os.path.join(self._snap_dir, f"v{snap['snapshot_id']}.json")
        try:
            _claim(path, lambda f: json.dump(snap, f))
        except FileExistsError as e:
            raise CommitConflict(f"snapshot v{snap['snapshot_id']} already exists") from e

    def _swap_version(self, version: int) -> None:
        tmp = os.path.join(self.root, f".VERSION.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.root, "VERSION"))

    # -- maintenance ---------------------------------------------------
    def referenced_files(self, versions: list[int] | None = None) -> set[str]:
        """Every file path referenced by the given snapshot versions
        (default: all retained versions) — data, MOR deltas, offsets.
        The single source of truth for liveness; both snapshot expiry
        and orphan cleanup derive from it."""
        out: set[str] = set()
        for v in self.history() if versions is None else versions:
            snap = self.load(v)
            for fl in snap["files"].values():
                out.update(fl)
            for fl in snap.get("delta_files", {}).values():
                out.update(fl)
            out.update(snap["offsets_files"])
        return out

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Drop old manifests and return data files no longer referenced
        by any retained snapshot (orphans for the caller to delete) —
        analog of Iceberg ``expire_snapshots``/``remove_orphan_files``
        and the reference's VACUUM (PostgresqlStorage.java:495-502)."""
        versions = self.history()
        keep = set(versions[-keep_last:])
        keep.add(self.current_version())
        keep.update(self.tags().values())  # tagged versions never expire
        referenced = self.referenced_files(sorted(keep))
        all_referenced = self.referenced_files(versions)
        orphans = sorted(all_referenced - referenced)
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self._snap_dir, f"v{v}.json"))
        # decided WAP stages leave inert one-byte decision claims; sweep
        # aged ones (age guard: a decision mid-flight right now must
        # keep its claim — see publish/abandon)
        cutoff = time.time() - 3600
        for fn in os.listdir(self._snap_dir):
            if fn.startswith(".decide-"):
                p = os.path.join(self._snap_dir, fn)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                except FileNotFoundError:
                    pass
        return orphans


def _claim(path: str, write) -> None:
    """Create ``path`` whole or not at all: ``write(f)`` fills a temp
    file beside it, which is fsync'd and then hard-linked onto
    ``path``.  The link raises ``FileExistsError`` when ``path`` exists,
    so racing claimers get one winner; a ``write`` that fails midway
    claims nothing, and the temp file is always removed."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            write(f)
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def utcnow_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
