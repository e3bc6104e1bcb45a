"""Retention compaction (reference T7).

The reference compacts its *event log*, not the merged state: on an
hourly cron it keeps only the latest event per (msg_key, type) among
events older than a threshold, and physically drops deletion tombstones
older than a (longer) deletion threshold —
``/root/reference/pipe-storage-sqlite/.../SQLiteQueries.java:51-55``,
semantics tests ``SQLiteStorageIntegrationSpec.groovy:696-907`` (incl.
the 25-message complex case ``:821-881``); Postgres variant marks
time_to_live then deletes (``PostgresqlStorage.java:359-408, 479-493``).

Invariant (tested): replaying the compacted log produces the same final
transcripts state as replaying the full log.

Also here: transcript-table maintenance — the Iceberg
``rewrite_data_files`` / ``expire_snapshots`` analogs for the
snapshot-manifest backend (reference VACUUM ANALYSE,
``PostgresqlStorage.java:495-502``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from aqueduct_core_spark.catalog.table import TOMBSTONE_PREFIX, ParquetTranscriptTable
from aqueduct_core_spark.schema import OP_DELETE


def compact_log(
    changes: DataFrame,
    threshold,
    deletions_threshold=None,
    validate_ts_monotone: bool = False,
) -> DataFrame:
    """LWW-compact the change log below an event-time threshold.

    - events with ``ts > threshold`` pass through untouched (the
      reference never compacts the recent window — "same key not
      immediately compacted", StorageSpec.groovy:125-133);
    - for older events, only the max-lsn event per key survives
      (key = (conv_id, turn_idx), with NULL turn_idx = the
      conversation-level key — the reference's (msg_key, type) analog);
    - a surviving NON-tombstone at-or-below its conversation's old
      delete watermark is dropped: it is dead state, and the retained
      conversation tombstone still covers consumers resuming from an
      earlier offset.  Without this, purging the conversation
      tombstone (next rule) would resurrect the turns it killed —
      replay equality would break.  Safe because ts is monotone with
      lsn per source (reference BIGSERIAL + server clock,
      SQLiteQueries.java:52): every row below an old watermark is
      itself old;
    - a surviving tombstone older than ``deletions_threshold`` is
      dropped entirely (30-day deletion retention,
      application-prod.yml:36-40).

    One hash aggregation + one small watermark join + one union; no
    windows, no global sort.

    ``validate_ts_monotone``: the dead-state drop and tombstone purge
    are only safe when event time is monotone with lsn (the reference's
    BIGSERIAL + server clock gives this for free); sources that can't
    guarantee it pass True to pay one extra bounded aggregate
    (:func:`aqueduct_core_spark.verify.ts_lsn_inversions`) and fail
    loudly instead of silently breaking replay equality.
    """
    if validate_ts_monotone:
        from aqueduct_core_spark.verify import ts_lsn_inversions

        bad = ts_lsn_inversions(changes)
        if bad:
            raise ValueError(
                f"compact_log requires ts monotone with lsn; found {bad} "
                "inverted lsn-blocks — compacting this log would break "
                "replay equality (see compact_log docstring)"
            )
    recent = changes.where(F.col("ts") > F.lit(threshold))
    old = changes.where(F.col("ts") <= F.lit(threshold))

    # argmax over the full row per key (struct comparison on unique lsn)
    cols = [c for c in changes.columns]
    winner = F.max(F.struct(F.col("lsn"), *[F.col(c) for c in cols if c != "lsn"])).alias("w")
    key = [F.col("conv_id"), F.coalesce(F.col("turn_idx"), F.lit(-1)).alias("_k")]
    survivors = (
        old.groupBy(*key)
        .agg(winner)
        .select(*[F.col(f"w.{c}").alias(c) for c in cols])
    )
    conv_wm = (
        old.where(F.col("turn_idx").isNull() & (F.col("op") == OP_DELETE))
        .groupBy(F.col("conv_id").alias("_wc"))
        .agg(F.max("lsn").alias("_cwl"))
    )
    survivors = (
        survivors.join(conv_wm, on=[survivors.conv_id == conv_wm._wc], how="left")
        .where(
            F.col("_cwl").isNull()
            | (F.col("lsn") > F.col("_cwl"))
            | (F.col("op") == OP_DELETE)
        )
        .drop("_wc", "_cwl")
    )
    if deletions_threshold is not None:
        survivors = survivors.where(
            ~((F.col("op") == OP_DELETE) & (F.col("ts") <= F.lit(deletions_threshold)))
        )
    return survivors.unionByName(recent)


def mark_deletion_ttl(changes: DataFrame, threshold, ttl_ts) -> DataFrame:
    """F6/J1: the reference's two-phase compaction, phase 1 — stamp
    ``time_to_live`` on every event at-or-below its key's latest OLD
    deletion ("deletion kills everything ≤ its offset",
    ``PostgresqlStorage.java:479-493``: UPDATE … FROM (SELECT
    max(msg_offset) … WHERE created_utc <= ? AND data IS NULL GROUP BY
    key) LD WHERE key = LD.key AND msg_offset <= LD.last_delete_offset).

    Generalized to the conversation hierarchy: a conversation-level
    deletion (turn_idx NULL) also marks every turn row of that
    conversation at-or-below its lsn — without this, purging the
    conversation tombstone would lose the watermark that still kills
    older surviving turns, breaking replay equality.

    ``threshold`` bounds which deletions trigger marking (only old
    ones); the rows they kill are marked regardless of their own ts,
    exactly like the reference.  ``ttl_ts`` is caller-supplied (no
    wall clock — deterministic replays).  Adds a ``time_to_live``
    column; :func:`purge_expired` drops expired rows.
    """
    key = F.coalesce(F.col("turn_idx"), F.lit(-1))
    ld = (
        changes.where((F.col("ts") <= F.lit(threshold)) & (F.col("op") == OP_DELETE))
        .groupBy(F.col("conv_id").alias("_dc"), key.alias("_dk"))
        .agg(F.max("lsn").alias("_dl"))
    )
    key_dl = ld.select("_dc", "_dk", "_dl")
    conv_dl = (
        ld.where(F.col("_dk") == -1)
        .select(F.col("_dc").alias("_cc"), F.col("_dl").alias("_cdl"))
    )
    out = (
        changes.join(
            key_dl,
            on=[
                changes.conv_id == key_dl._dc,
                F.coalesce(changes.turn_idx, F.lit(-1)) == key_dl._dk,
            ],
            how="left",
        )
        .join(conv_dl, on=[changes.conv_id == conv_dl._cc], how="left")
    )
    killed = (
        (F.col("_dl").isNotNull() & (F.col("lsn") <= F.col("_dl")))
        | (F.col("_cdl").isNotNull() & (F.col("lsn") <= F.col("_cdl")))
    )
    return (
        out.withColumn("time_to_live", F.when(killed, F.lit(ttl_ts)))
        .drop("_dc", "_dk", "_dl", "_cc", "_cdl")
    )


def purge_expired(changes: DataFrame, now_ts) -> DataFrame:
    """F6 phase 2: physically drop rows whose TTL has passed
    (``DELETE … WHERE time_to_live <= CURRENT_TIMESTAMP``,
    PostgresqlStorage.java:475-477); ``now_ts`` caller-supplied."""
    return changes.where(
        F.col("time_to_live").isNull() | (F.col("time_to_live") > F.lit(now_ts))
    )


def count_by_type(changes: DataFrame) -> DataFrame:
    """A3 visibility metric: ``SELECT type, COUNT(*) … GROUP BY type``
    (PostgresqlStorage.java:512-514) — here by op."""
    return changes.groupBy("op").agg(F.count(F.lit(1)).alias("cnt"))


def _consumer_position(c) -> int:
    """A feed consumer's acknowledged snapshot version: duck-typed over
    ``FeedCursor`` (``.version``) and ``FeedPublisher`` (``.position()``)."""
    if hasattr(c, "position"):
        return int(c.position())
    return int(c.version)


def fold_deltas(
    table: ParquetTranscriptTable, consumers: list | None = None
) -> dict:
    """Fold MOR delta files into the base layout — INCREMENTALLY: only
    buckets that actually hold deltas are read and rewritten; untouched
    buckets' base files are carried forward as-is (Iceberg's
    per-partition ``rewrite_data_files``; reference analog: the
    scheduled LWW compaction, CompactionTask.java:40-47).  At 100 TB a
    full-table fold would rewrite the whole table every
    ``mor_fold_every`` epochs; this rewrites only the touched slice,
    so sustained fold cost is proportional to recent write activity.
    One resolved read + one clustered write per fold; the affected
    buckets' deltas are cleared in the same atomic commit.

    ``consumers``: retention coordination — the table-level change feed
    (``changes_between``) requires an unfolded interval, so folding
    while a registered feed consumer (``FeedCursor`` / ``FeedPublisher``)
    still lags would force it into a full resync.  Pass the consumers
    that tail this table and the fold BLOCKS (``{"folded": False,
    "blocked_by": n}``) until they catch up — Kafka's
    "don't truncate past the slowest consumer group" rule.  A dead
    consumer blocks folds forever by design: remove it from the list
    (and ``reset()`` it) to release retention, exactly like deleting a
    consumer group.

    Bucket rewrites, tombstones and the feed stamp:
    :meth:`ParquetTranscriptTable.rewrite_buckets`; a bucket whose only
    deltas are carried tombstones is not folded."""
    if consumers:
        cur = table.catalog.current_version()
        lagging = [c for c in consumers if _consumer_position(c) < cur]
        if lagging:
            return {"folded": False, "blocked_by": len(lagging)}
    out = table.rewrite_buckets(
        "fold",
        buckets=lambda snap: sorted(
            int(b) for b, fl in snap.get("delta_files", {}).items()
            if any(not f.startswith(TOMBSTONE_PREFIX) for f in fl)
        ),
        summary_updates={"aqueduct.delta-epochs": 0},
    )
    if out is None:
        return {"folded": False}
    return {
        "folded": True,
        "snapshot_id": out["snapshot_id"],
        "buckets": len(out["buckets"]),
    }


def rewrite_data_files(
    table: ParquetTranscriptTable, target_partitions: int | None = None
) -> dict:
    """Coalesce each bucket's accumulated small files into fresh
    compacted files (Iceberg ``rewrite_data_files`` analog).  Reads the
    current snapshot, writes one clustered file set, commits a
    full-layout snapshot.  The commit is pinned to the snapshot the
    rewrite READ: an epoch landing mid-rewrite raises
    ``CommitConflict`` instead of being silently dropped by the
    full-layout replace (retry after the writer settles)."""
    out = table.rewrite_buckets(
        "rewrite",
        summary_updates={
            "aqueduct.last-rewrite-snapshot": True,
            "aqueduct.delta-epochs": 0,
        },
    )
    return {"snapshot_id": out["snapshot_id"], "buckets": len(out["files"])}


def zorder_code(key_col, time_col, bits: int = 16):
    """Morton/Z-order interleave of the hashed conversation key and a
    0..2^bits-1 normalized time value — a pure column expression (2×
    ``bits`` shift/mask/or terms, whole-stage-codegen-friendly; no UDF).
    ``time_col`` must already be normalized (see :func:`rewrite_zorder`).
    """
    k = F.pmod(F.hash(key_col), F.lit(1 << bits)).cast("long")
    t = time_col.cast("long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(k, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(t, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def rewrite_zorder(
    table: ParquetTranscriptTable,
    time_col: str = "ts",
    bits: int = 16,
    row_group_bytes: int | None = None,
) -> dict:
    """Full clustered rewrite with **Z-order** (conv-key × time)
    within-file layout — the Delta/Iceberg ``OPTIMIZE ZORDER BY`` analog.

    Why: the default clustering sorts each bucket file by
    ``(conv_id, turn_idx, ts)``, so footer min/max prunes row groups for
    conversation lookups but a time-slice scan ("turns updated in the
    last hour", the incremental-export read) intersects EVERY row group
    — timestamps are scattered.  Interleaving the bits of
    ``pmod(hash(conv_id), 2^bits)`` with min-max-scaled event time gives
    row groups that are simultaneously narrow in both dimensions, so
    both query classes prune (each somewhat less than under its perfect
    single-column sort — the classic Z-order trade).  Point lookups keep
    their stronger guards regardless: bucket pruning + bloom filters.

    Normalization is computed from one 2-scalar min/max aggregate of
    ``time_col``.  Like any OPTIMIZE, the clustering decays as later
    folds rewrite touched buckets conv-sorted; re-run on schedule.  The
    commit is pinned to the snapshot read (racing epoch ⇒
    ``CommitConflict``), deltas fold in, and the layout choice is
    recorded in the summary (``aqueduct.zorder``).

    ``row_group_bytes`` optionally shrinks ``parquet.block.size`` —
    pruning granularity is the row group, so at 100 TB you want multiple
    row groups per bucket file."""
    lo, hi = table.read_internal().select(
        F.min(time_col).cast("long"), F.max(time_col).cast("long")
    ).first()
    if lo is None or hi is None:
        return {"rewritten": False, "reason": "empty table"}
    span = max(1, int(hi) - int(lo))
    tnorm = (
        (F.col(time_col).cast("long") - F.lit(int(lo)))
        * F.lit((1 << bits) - 1)
        / F.lit(span)
    ).cast("long")
    opts = (
        {"parquet.block.size": str(int(row_group_bytes))} if row_group_bytes else None
    )
    # the sort key is an inline expression — no helper column reaches
    # the written schema
    out = table.rewrite_buckets(
        "zorder",
        sort_cols=[zorder_code(F.col("conv_id"), tnorm, bits)],
        extra_options=opts,
        summary_updates={
            "aqueduct.zorder": f"conv_id,{time_col}",
            "aqueduct.delta-epochs": 0,
        },
    )
    return {
        "rewritten": True,
        "snapshot_id": out["snapshot_id"],
        "buckets": len(out["files"]),
    }


def rebucket(table: ParquetTranscriptTable, new_num_buckets: int) -> dict:
    """Bucket-count evolution: rewrite the table into a new hash-bucket
    layout in ONE atomic commit (the escape hatch for a day-one bucket
    choice that no longer fits — Iceberg's equivalent is a partition-spec
    change to ``bucket(new_n, key)`` plus a full ``rewrite_data_files``).

    The full resolved state (MOR deltas folded in) is re-hashed with the
    new count and rewritten; the same commit updates the authoritative
    ``aqueduct.num-buckets`` summary key, so every consumer that derives
    bucket math from the table — the serving-path point lookup's
    driver-side ``bucket_of``, epoch delta writes, fold targeting —
    switches counts atomically with the data.  The exactly-once
    epoch/lsn watermark is untouched: ingest resumes exactly where it
    left off, now writing the new layout.  Time-travel reads of
    pre-rebucket versions stay correct (each manifest carries its own
    layout); ``changes_between`` across the boundary fails loud like any
    base rewrite.  Pinned to the snapshot it read — a racing epoch
    raises ``CommitConflict`` rather than being dropped.

    Cost is a full-table rewrite (unavoidable for hash re-bucketing:
    every key's bucket changes) — schedule like any major compaction.
    """
    new_num_buckets = int(new_num_buckets)
    if new_num_buckets < 1:
        raise ValueError("new_num_buckets must be >= 1")
    old = table.num_buckets
    if new_num_buckets == old:
        return {"rebucketed": False, "num_buckets": old}
    out = table.rewrite_buckets(
        f"rebucket{new_num_buckets}",
        num_buckets=new_num_buckets,
        summary_updates={
            "aqueduct.num-buckets": new_num_buckets,
            "aqueduct.rebucketed-from": old,
            "aqueduct.delta-epochs": 0,
        },
    )
    return {
        "rebucketed": True,
        "snapshot_id": out["snapshot_id"],
        "num_buckets": new_num_buckets,
        "previous": old,
    }


def expire_snapshots(table: ParquetTranscriptTable, keep_last: int = 2) -> int:
    """Drop old snapshot manifests and physically delete unreferenced
    data files; returns files removed."""
    orphans = table.catalog.expire_snapshots(keep_last=keep_last)
    return table.cleanup_orphans(orphans)


def _is_marker(fn: str) -> bool:
    """Spark job markers (``_SUCCESS``, ``.crc``, dotfiles) — never data,
    never manifest-referenced; deleted (uncounted) only when their
    directory holds no surviving data file."""
    return fn == "_SUCCESS" or fn.endswith(".crc") or fn.startswith(".")


def remove_orphan_files(table: ParquetTranscriptTable, older_than_s: float = 3600) -> int:
    """Delete files under the table root that NO snapshot references —
    the debris a crash leaves between the data write and the manifest
    commit (Iceberg ``remove_orphan_files`` analog; the write protocol
    makes such files invisible to readers, so deleting them is safe).
    Returns data files removed
    (markers like ``_SUCCESS`` are cleaned with their directory but
    never counted).

    Concurrent-safe: a commit, fold, or second maintenance run racing
    this walk can delete files first — every stat/remove tolerates
    FileNotFoundError and skips.

    ``older_than_s`` guards in-flight DATA writes: a file younger than
    this may belong to an epoch whose commit hasn't landed yet
    (Iceberg's action has the same knob for the same race).  Walks only
    table-owned directories (``data``/``delta``/``offsets``)
    driver-side; at production scale this is an O(files) listing
    exactly like Iceberg's own action.
    """
    import os
    import time

    referenced = table.catalog.referenced_files()

    cutoff = time.time() - older_than_s
    removed = 0
    for sub in ("data", "delta", "offsets"):
        base = os.path.join(table.root, sub)
        if not os.path.isdir(base):
            continue
        for dirpath, _dirnames, filenames in os.walk(base, topdown=False):
            survivors = False
            for fn in filenames:
                if _is_marker(fn):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, table.root)
                try:
                    if rel not in referenced and os.path.getmtime(full) <= cutoff:
                        os.remove(full)
                        removed += 1
                    else:
                        survivors = True
                except FileNotFoundError:
                    pass  # a racing writer/cleaner got there first
            if not survivors:
                # markers go only when the whole subtree is dead: no
                # surviving files here AND no remaining subdirectories
                # (bottom-up walk already rmdir'd fully-dead children;
                # a live child dir means this tree still holds data)
                try:
                    leftover = [
                        e for e in os.listdir(dirpath) if not _is_marker(e)
                    ]
                except FileNotFoundError:
                    leftover = []
                if not leftover:
                    for fn in filenames:
                        if _is_marker(fn):
                            try:
                                os.remove(os.path.join(dirpath, fn))
                            except FileNotFoundError:
                                pass
            try:
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
            except (FileNotFoundError, OSError):
                pass
    return removed


def compact_offsets(table: ParquetTranscriptTable, keep_last: int = 16) -> dict:
    """Compact the offsets/metrics log: merge all but the newest
    ``keep_last`` per-epoch bookkeeping files into ONE parquet file and
    commit the swapped file list.

    Why it exists: every epoch commit appends one tiny offsets file, so
    a 10^10-event replay at 10^6-event triggers leaves ~10^4 files that
    every manifest lists and every :meth:`read_offsets` opens — the
    same small-file decay Iceberg's metadata has, solved the same way
    (the offsets log is itself log-structured; compaction is a rewrite
    commit).  Row content is preserved exactly; exactly-once bookkeeping
    is untouched (``last_committed_epoch``/``max-lsn`` live in the
    manifest summary, not in these files).  The newest ``keep_last``
    files stay as-is so a compaction racing an in-flight epoch commit
    conflicts on the manifest claim, never on file content.  A later
    compaction folds the previous merged file again — the list stays
    O(keep_last) forever.  Old files become unreferenced by the NEW
    manifest only; they free via ``expire_snapshots`` + orphan sweep
    like any superseded data file (time travel keeps working)."""
    import os
    import uuid

    from aqueduct_core_spark.schema import OFFSETS_SCHEMA

    snap = table.catalog.current()
    files = list(snap["offsets_files"])
    if len(files) <= max(0, int(keep_last)) + 1:
        return {"compacted": 0, "files": len(files)}
    cut = len(files) - int(keep_last)
    old, tail = files[:cut], files[cut:]
    df = table.spark.read.schema(OFFSETS_SCHEMA).parquet(
        *[os.path.join(table.root, p) for p in old]
    )
    rel = os.path.join("offsets", f"compacted-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table.root, rel)
    # one file: the whole log is one row per epoch — tiny by definition
    df.coalesce(1).write.option("compression", table.codec).parquet(out_dir)
    merged = [
        os.path.join(rel, f) for f in os.listdir(out_dir) if f.endswith(".parquet")
    ]
    table.catalog.commit(base=snap, replace_offsets_files=merged + tail)
    return {"compacted": len(old), "files": len(merged) + len(tail)}


def maintain(
    table: ParquetTranscriptTable,
    fold_if_delta_epochs: int = 1,
    rewrite_if_files_per_bucket: int = 8,
    keep_snapshots: int = 5,
    orphan_older_than_s: float = 3600,
    consumers: list | None = None,
    compact_offsets_if_files: int = 64,
) -> dict:
    """One-call table maintenance (the policy loop a scheduler runs —
    reference analog: the scheduled compaction + VACUUM tasks,
    CompactionTask.java:40-47 / PostgresqlStorage.java:495-502), in the
    safe order:

    1. **fold** MOR deltas into the base when at least
       ``fold_if_delta_epochs`` delta epochs accumulated (incremental —
       only touched buckets rewrite);
    2. **rewrite** small files when the average files-per-bucket
       exceeds ``rewrite_if_files_per_bucket`` (full clustered rewrite,
       the expensive step — threshold accordingly);
    3. **offsets-compact** the per-epoch bookkeeping log once it
       exceeds ``compact_offsets_if_files`` files (keeps the newest
       quarter, merges the rest into one file);
    4. **expire** old snapshot manifests beyond ``keep_snapshots``
       (tagged versions always retained) and delete their
       newly-unreferenced files;
    5. **orphan-clean** crash debris older than ``orphan_older_than_s``
       (in-flight epochs structurally protected).

    Every step is individually race-safe (pinned commits fail loud with
    ``CommitConflict`` rather than dropping a racing epoch) and no-ops
    below its threshold, so the call is idempotent and safe on a timer.
    ``consumers``: retention coordination — the fold AND the rewrite
    (both rewrite feed history) block while any registered feed
    consumer lags (see :func:`fold_deltas`).
    Note the deliberate lag: a fold's superseded delta files stay on
    disk while any RETAINED snapshot still references them (time travel
    to the pre-fold version keeps working) — the space frees on a later
    cycle once those snapshots age out of ``keep_snapshots``.
    Returns per-step metrics."""
    out: dict = {}
    snap = table.catalog.current()
    delta_epochs = int(snap["summary"].get("aqueduct.delta-epochs", 0))
    if delta_epochs >= max(1, int(fold_if_delta_epochs)):
        out["fold"] = fold_deltas(table, consumers=consumers)
    else:
        out["fold"] = {"folded": False}

    lagging = bool(consumers) and any(
        _consumer_position(c) < table.catalog.current_version()
        for c in consumers
    )
    snap = table.catalog.current()
    buckets = max(1, len(snap["files"]))
    nfiles = sum(len(fl) for fl in snap["files"].values())
    if lagging:
        out["rewrite"] = {"rewritten": False, "blocked_by_consumers": True}
    elif nfiles / buckets > rewrite_if_files_per_bucket:
        out["rewrite"] = rewrite_data_files(table)
    else:
        out["rewrite"] = {"rewritten": False, "files_per_bucket": nfiles / buckets}

    n_offsets = len(table.catalog.current()["offsets_files"])
    if n_offsets > max(1, int(compact_offsets_if_files)):
        out["offsets"] = compact_offsets(
            table, keep_last=max(1, compact_offsets_if_files // 4)
        )
    else:
        out["offsets"] = {"compacted": 0, "files": n_offsets}

    out["expired_files_removed"] = expire_snapshots(table, keep_last=keep_snapshots)
    out["orphans_removed"] = remove_orphan_files(
        table, older_than_s=orphan_older_than_s
    )
    return out
