"""Versioned, CAS-protected JSON metadata pointer.

Every bucket-generation surface in this engine (the SCD2 history sink,
materialized ``ConvView`` rollups, the ``DedupIndex``) keeps its state
in a small ``meta.json`` — epoch/version watermarks plus a
bucket→generation-dir map — and publishes updates by atomic pointer
swap (``os.replace``).  The swap alone is atomic but not *isolated*:
two writers that both read version N (a compliance op racing the
streaming apply loop, a ``remove`` racing an ``add``) each publish a
meta derived from N, and the second blindly erases the first's commit —
regressing watermarks and reverting other buckets' generation dirs, so
the lost commit's rows vanish.  The table catalog solves exactly this
with link-claimed manifests (``catalog/snapshot.py``); this module is
the same single-winner protocol for the satellite surfaces' meta:

- the claim is an ``os.link`` of a fully-written temp file onto
  ``_commits/v{N+1}`` — atomic create-with-content, so a claim either
  lands complete or raises;
- **the claim set is authoritative**: the highest claim version IS the
  current state; ``meta.json`` is only a hint pointer that
  :meth:`read` repairs from the claims.  This is what makes the
  protocol safe against its own garbage collection and against
  stalled writers: a writer that re-links a slot :meth:`cleanup`
  freed, or resumes a pointer swap long after newer commits landed,
  can never shadow a higher claim — reads always resolve to the
  maximum;
- exactly one of two racing writers publishes; the loser raises
  :class:`MetaCommitConflict` (re-read and retry).  Two live racers at
  the same base are decided by the link itself (one lands).  A
  *stalled* writer whose target slot was later garbage-collected could
  re-link the freed slot, so every slot-free is preceded by publishing
  a monotone **floor marker** (``_commits/floor-{N}``: "versions ≤ N
  are settled history"); a link at or below the floor is a loud
  conflict, never a silent win.  Crucially the floor is the *only*
  stale-link detector — a writer whose link landed above the floor HAS
  won, even if by the time it looks around a successor (which can only
  have built on its claim) has already advanced the world;
- a crash between claim and pointer swap is rolled forward by the next
  :meth:`read` — the claim holds the complete post-commit meta, and
  every adopter writes its data generation *before* claiming, so
  publishing a found claim is always safe;
- claims below the current version are garbage; :meth:`cleanup` drops
  them (the current — maximum — one always stays: it is the state).

Reference parity note: the reference serializes its writers in the
database (single-writer compaction locks,
PostgresqlStorageIntegrationSpec.groovy:448-482 proves two racing
compactors); a filesystem lakehouse has no database, so the claim file
IS the lock — same guarantee, no coordinator.
"""

from __future__ import annotations

import json
import os
import uuid


class MetaCommitConflict(RuntimeError):
    """Another writer committed between this operation's meta read and
    its meta write; publishing the stale meta would silently erase the
    concurrent commit.  Re-read and retry."""


class VersionedMeta:
    """A ``meta.json`` pointer under ``root`` with CAS publication.

    Adopter protocol::

        meta = vm.read()                 # carries meta["version"]
        ... write the new data generation ...
        vm.commit(new_meta, base_version=meta["version"])  # CAS

    ``init`` is the create-time blind write (fresh directory, no
    concurrency); every subsequent mutation must go through
    :meth:`commit`.
    """

    def __init__(self, root: str, filename: str = "meta.json"):
        self.root = root
        self.path = os.path.join(root, filename)
        self._claims = os.path.join(root, "_commits")

    # -- plumbing ---------------------------------------------------------
    def _swap(self, meta: dict) -> None:
        # unique temp name: _swap is called by concurrent readers
        # (pointer repair) and writers (publish); a shared name lets a
        # stalled opener flush its bytes into the *renamed* inode of a
        # racer's finished swap, publishing torn JSON
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.path)

    def _pointer_version(self) -> int:
        with open(self.path) as f:
            return int(json.load(f).get("version", 0))

    def _max_claim(self) -> int:
        """Highest claim version on disk (0 when none) — the
        authoritative current version when above the hint pointer."""
        best = 0
        if os.path.isdir(self._claims):
            for c in os.listdir(self._claims):
                if c.startswith("v") and c[1:].isdigit():
                    best = max(best, int(c[1:]))
        return best

    def _floor(self) -> int:
        """Highest settled version: every claim slot ≤ floor has been (or
        may have been) garbage-collected, so a link landing there is a
        stalled writer re-occupying history, never a win.  Encoded in
        marker *filenames* (``floor-{N}``) so raising it is an atomic
        create — torn-write-free and monotone under any interleaving
        (markers are only removed by a writer that already created a
        higher one, so a concurrent reader always sees the max)."""
        best = 0
        if os.path.isdir(self._claims):
            for c in os.listdir(self._claims):
                if c.startswith("floor-") and c[6:].isdigit():
                    best = max(best, int(c[6:]))
        return best

    def _raise_floor(self, version: int) -> None:
        """Publish ``floor-{version}`` then drop lower markers.  MUST be
        called before removing any claim slot ≤ ``version``."""
        if version < 1:
            return
        open(os.path.join(self._claims, f"floor-{version}"), "a").close()
        for c in os.listdir(self._claims):
            if c.startswith("floor-") and c[6:].isdigit() and int(c[6:]) < version:
                try:
                    os.remove(os.path.join(self._claims, c))
                except FileNotFoundError:
                    pass

    # -- protocol ---------------------------------------------------------
    def init(self, meta: dict) -> None:
        """Create-time write (version 0).  Not concurrency-safe by
        design — callers create into a fresh directory."""
        meta = dict(meta)
        meta.setdefault("version", 0)
        os.makedirs(self.root, exist_ok=True)
        self._swap(meta)

    def read(self) -> dict:
        """Current meta: the highest claim when one is above the hint
        pointer (rolling forward a crashed pointer swap, and healing
        any pointer regression a stalled writer's late swap caused),
        else the pointer itself."""
        with open(self.path) as f:
            meta = json.load(f)
        meta.setdefault("version", 0)
        while True:
            top = self._max_claim()
            if top <= int(meta["version"]):
                return meta
            try:
                with open(os.path.join(self._claims, f"v{top}")) as f:
                    meta = json.load(f)
            except FileNotFoundError:
                # TOCTOU with a committer's hygiene: v{top} was removed
                # because a higher claim landed between our scan and the
                # open — re-scan (strictly monotone, so this terminates)
                continue
            self._swap(meta)  # repair the hint; claims stay authoritative
            return meta

    def commit(self, meta: dict, base_version: int) -> dict:
        """Publish ``meta`` as version ``base_version + 1`` iff no other
        writer got there first; raises :class:`MetaCommitConflict`
        otherwise.  Returns the published meta (with the new version).

        Winning takes three checks, each closing a distinct hole: the
        ``os.link`` claim (two live racers at the same base — one link
        lands), the floor marker (a slot freed by hygiene/:meth:`cleanup`
        after newer commits landed sits at or below the floor published
        *before* the free, so a stalled writer re-linking it conflicts
        instead of silently winning), and the pointer sanity check
        (belt-and-braces for a claims directory lost to manual
        intervention — strict ``>``, because a concurrent :meth:`read`
        legitimately repairs the pointer *to* our own fresh claim).
        None of the checks can fire against the writer's own durable
        publication: once the link lands above the floor, anything that
        advances the world further (a reader repairing the pointer, a
        successor committing on top) could only have resolved *through*
        our claim — those are confirmations of the win, not conflicts.
        The one residual false-conflict window — a successor completes
        an entire read+data-write+commit cycle and frees our slot
        between our ``os.link`` returning and our floor read — requires
        a full Spark write job to finish inside a few syscalls and is
        accepted (the failure mode is a spurious retry, never a lost or
        double commit).  A dead claim a losing writer leaves behind is
        below the maximum, never read, and removed here (best-effort)
        or by the next :meth:`cleanup`."""
        meta = dict(meta)
        meta["version"] = int(base_version) + 1
        os.makedirs(self._claims, exist_ok=True)
        tmp = os.path.join(self._claims, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        try:
            os.link(tmp, os.path.join(self._claims, f"v{meta['version']}"))
        except FileExistsError:
            raise MetaCommitConflict(
                f"meta at {self.path} advanced past version {base_version} "
                "during this operation; re-read and retry"
            ) from None
        finally:
            os.remove(tmp)
        if self._floor() >= meta["version"]:
            # stalled writer re-linked a garbage-collected slot: a newer
            # claim is the state; retract ours so it never looks current
            try:
                os.remove(os.path.join(self._claims, f"v{meta['version']}"))
            except FileNotFoundError:
                pass
            raise MetaCommitConflict(
                f"meta at {self.path} advanced past version {base_version} "
                "before this claim (stale base re-linked a freed slot); "
                "re-read and retry"
            )
        if self._pointer_version() > meta["version"]:
            raise MetaCommitConflict(
                f"meta at {self.path} pointer is ahead of version "
                f"{meta['version']} with no claim trail (claims directory "
                "lost?); re-read and retry"
            )
        # hint swap, guarded against regression: if a newer commit's
        # swap already landed, leave it (read() resolves via the max
        # claim regardless — the pointer is a hint, not the state)
        if self._pointer_version() < meta["version"]:
            self._swap(meta)
        # opportunistic hygiene: the base's claim is superseded the
        # moment ours exists (reads resolve to the max), so drop it
        # here and the claims dir stays O(1) files without any caller
        # running cleanup() on a schedule.  Floor first — a slot must
        # never be re-linkable after it is freed.
        self._raise_floor(int(base_version))
        try:
            os.remove(os.path.join(self._claims, f"v{int(base_version)}"))
        except FileNotFoundError:
            pass
        return meta

    def cleanup(self) -> int:
        """Drop claim files below the current version.  The current —
        maximum — claim always stays: it IS the authoritative state
        (:meth:`read` resolves to it), and keeping it is what makes a
        freed lower slot un-winnable for a stale writer (the commit
        scan sees the higher claim and conflicts).  Returns the number
        removed."""
        current = int(self.read()["version"])
        removed = 0
        if not os.path.isdir(self._claims):
            return 0
        # floor first: once a slot below `current` is freed it must be
        # un-winnable for a stalled writer holding that base
        self._raise_floor(current - 1)
        for c in os.listdir(self._claims):
            if c.startswith("v") and c[1:].isdigit() and int(c[1:]) < current:
                try:
                    os.remove(os.path.join(self._claims, c))
                    removed += 1
                except FileNotFoundError:
                    pass
        return removed
