"""Key erasure & in-place redaction: compliance ops for every surface.

The compliance operations the reference cannot express: its deletion
tombstones (``data IS NULL`` — pipe-storage-sqlite/.../SQLiteQueries.java:54-55)
*mark* a key dead but deliberately keep the marker (and every replica's
compacted copy) so late consumers converge; GDPR/CCPA obligations demand
the opposite — the payload bytes must stop existing (erasure) or change
in place (redaction of PII discovered in historical transcripts) on
every storage surface, including the log the engine would otherwise
replay them back from.  This module provides both for each surface the
engine owns:

- :func:`erase_conversations` / :func:`redact_conversations` — the
  transcript TABLE: a bucket-pruned rewrite
  (:meth:`~aqueduct_core_spark.catalog.table.ParquetTranscriptTable.rewrite_buckets`)
  of exactly the buckets that can hold the keys (driver-side
  ``bucket_of`` mirror of the layout hash; redaction of the whole table
  reads every bucket, there is no smaller correct read), dropping or
  transforming the keys' rows in the resolved slice.  The same commit
  drops those buckets' MOR deltas, which may carry the affected text.
  The exactly-once epoch/lsn watermark is intentionally
  untouched: these ops rewrite history, they do not ban the future — a
  *new* event for the key (lsn above the watermark) ingests normally.
- :func:`erase_from_log` / :func:`redact_log` — the change LOG: without
  this, any bootstrap or replay resurrects the original bytes.  One
  scan locates the files that hold matches (these ops are rare; at
  10^10 events you pay one scan, and a demuxed/bucket-routed log bounds
  the blast radius to its route), ONE job rewrites all affected files
  (grouped by source file, dynamic-partition write — never a job per
  file), then each rewritten file atomically replaces its original
  (``os.replace``).  Row keys and lsns are preserved by redaction and
  per-file lsn ranges by both ops, so footer-statistics trigger
  planning (``plan_triggers_from_files``) is undisturbed.  A file left
  empty by erasure is removed.  Crash mid-swap is safe: rerunning
  converges (both rewrites are idempotent) and every intermediate state
  is a valid log — a file is either the original or its rewritten
  replacement.
- :meth:`~aqueduct_core_spark.operators.scd2.Scd2History.erase` — the
  SCD2 HISTORY sink keeps superseded text by design, so erasure must
  reach it too (see :mod:`aqueduct_core_spark.operators.scd2`).

What these ops do NOT silently do (documented sharp edges):

- **Old snapshots still reference the old files.**  The commit removes
  or rewrites the rows in the *current* file set; time travel to an
  older version still reads the originals.  Physical deletion completes
  when ``expire_snapshots`` + ``cleanup_orphans`` run — pass
  ``purge=True`` to do both inline (retaining only the new snapshot),
  at the cost of time travel and of any lagging feed consumer (the same
  retention trade every lakehouse makes; Iceberg erasure runbooks are
  identical).
- **The table-level change feed cannot span the commit** — a base-file
  replace is not delta-expressible, so ``changes_between`` across it
  fails loud and a ``FeedCursor`` resyncs, exactly as for
  ``fold_deltas``.  (Correct for compliance, too: the feed must not
  re-publish the affected text.)
- **Derived tables must each be walked**: SCD2 histories
  (``history.erase``), materialized views (a ``ConvView.refresh`` after
  the commit full-recomputes), dedup indexes (``DedupIndex.remove`` +
  ``compact``), backups (re-export or delete).
  :func:`erase_everywhere` sweeps every surface registered with it in
  one call; surfaces outside this driver (downstream sites fed by a
  ``FeedPublisher``, exported backups) remain the operator's
  obligation.

Keys are driver-resident by contract (a compliance request arrives as
an explicit key list); they travel to executors as a broadcast
anti/semi-join side, never as a literal IN tree, so a million-key
request plans the same as a ten-key one.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable, _bucket_count, bucket_of
from aqueduct_core_spark.operators.compact import expire_snapshots


def _keys_df(
    spark: SparkSession, conv_ids: list[str], col: str = "conv_id"
) -> DataFrame:
    if not conv_ids:
        raise ValueError("erase/redact: empty key list")
    # dedupe: a repeated key in the request list must not fan out the
    # left joins the redact paths build on this frame (each duplicate
    # would write every matching row twice into the rewritten files)
    return spark.createDataFrame(
        [(c,) for c in dict.fromkeys(conv_ids)], f"{col} string"
    )


def _local_path(file_uri: str) -> str:
    """``input_file_name()`` returns a percent-encoded ``file:`` URI;
    pyarrow and ``os.replace`` need the decoded local path (a log under
    a directory with a space or ``%`` would otherwise fail up front)."""
    from urllib.parse import unquote

    return unquote(file_uri.removeprefix("file:"))


def _keys_digest(conv_ids: list[str]) -> str:
    """Order-insensitive sha256 over the key set — the audit stamp for
    an erasure commit (records WHICH keys were erased without storing
    the keys, which would itself retain the erased identifiers)."""
    import hashlib

    h = hashlib.sha256()
    for c in sorted(set(conv_ids)):
        h.update(c.encode())
        h.update(b"\x00")
    return f"sha256:{h.hexdigest()}:{len(set(conv_ids))}"


def _buckets_of(conv_ids: list[str]):
    """The buckets the keys hash to, as a function of the manifest a
    rewrite pins: the bucket count is that manifest's, read once."""

    def buckets(snap: dict) -> list[int]:
        n = _bucket_count(snap)
        return sorted({bucket_of(c, n) for c in conv_ids})

    return buckets


def erase_conversations(
    table: ParquetTranscriptTable, conv_ids: list[str], purge: bool = False
) -> dict:
    """Erase whole conversations from the transcript table in one
    atomic, bucket-pruned commit.  Returns a report; see module
    docstring for the retention/feed consequences and ``purge``."""
    keys = _keys_df(table.spark, conv_ids)
    out = table.rewrite_buckets(
        "erase",
        buckets=_buckets_of(conv_ids),
        transform=lambda df: df.join(F.broadcast(keys), "conv_id", "left_anti"),
        summary_updates={
            "aqueduct.last-erase-keys": len(set(conv_ids)),
            # audit stamp: PROOF an erasure of exactly this key set
            # landed in this commit, without the stamp itself retaining
            # the identifiers it erased (a GDPR audit presents the key
            # list out-of-band and checks the digest)
            "aqueduct.last-erase-audit": _keys_digest(conv_ids),
        },
    )
    report = {
        "snapshot_id": out["snapshot_id"],
        "keys": len(set(conv_ids)),
        "buckets": len(out["buckets"]),
        "purged_files": 0,
    }
    if purge:
        report["purged_files"] = expire_snapshots(table, keep_last=1)
        report["retained_by_tags"] = _retaining_tags(table, out["snapshot_id"])
    return report


def _retaining_tags(table: ParquetTranscriptTable, new_version: int) -> dict:
    """Tags pinning PRE-compliance-commit snapshots: ``expire_snapshots``
    retains tagged versions, so those files (still holding the
    original bytes) survive a purge.  The report surfaces them instead
    of silently claiming physical deletion; the operator decides —
    ``catalog.delete_tag(name)`` then re-run ``expire_snapshots`` +
    ``cleanup_orphans`` to complete deletion."""
    return {
        name: v
        for name, v in table.catalog.tags().items()
        if v < new_version
    }


def redact_conversations(
    table: ParquetTranscriptTable,
    pattern: str,
    replacement: str,
    conv_ids: list[str] | None = None,
    purge: bool = False,
) -> dict:
    """In-place redaction of historical transcript text: rewrite
    ``text`` with ``regexp_replace(pattern, replacement)`` for the
    given conversations (or the whole table when ``conv_ids`` is None —
    "PII class discovered corpus-wide") in one atomic commit.  Keys,
    lsns and every other column are untouched, so downstream diffs see
    exactly the redacted rows as ``changed``.  Same retention/feed
    consequences as :func:`erase_conversations`; ``purge=True``
    completes physical deletion of the unredacted bytes."""
    redact = F.regexp_replace("text", pattern, replacement)
    if conv_ids is None:
        buckets, transform = None, lambda df: df.withColumn("text", redact)
    else:
        flags = _keys_df(table.spark, conv_ids).withColumn("_redact", F.lit(True))
        buckets = _buckets_of(conv_ids)

        def transform(df: DataFrame) -> DataFrame:
            return (
                df.join(F.broadcast(flags), "conv_id", "left")
                .withColumn("text", F.when(F.col("_redact"), redact).otherwise(F.col("text")))
                .drop("_redact")
            )

    out = table.rewrite_buckets(
        "redact",
        buckets=buckets,
        transform=transform,
        summary_updates={"aqueduct.last-redact-keys": len(set(conv_ids or []))},
    )
    report = {
        "snapshot_id": out["snapshot_id"],
        "buckets": len(out["buckets"]),
        "purged_files": 0,
    }
    if purge:
        report["purged_files"] = expire_snapshots(table, keep_last=1)
        report["retained_by_tags"] = _retaining_tags(table, out["snapshot_id"])
    return report


def _drop_crc(path: str) -> None:
    # Hadoop LocalFileSystem keeps a `.name.crc` checksum sidecar;
    # after swapping the data bytes it is stale and poisons reads
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    try:
        os.remove(crc)
    except FileNotFoundError:
        pass


def _rewrite_log(
    spark: SparkSession,
    log_dir: str,
    locate,
    transform,
    label: str,
) -> dict:
    """Shared log-file rewrite kernel: ``locate(log) -> DataFrame``
    selects rows whose files must be rewritten; ``transform(df) -> df``
    maps the affected files' rows (a filter for erasure, a projection
    for redaction).  One locate scan + ONE grouped rewrite job +
    per-file atomic swap; per-file lsn ranges preserved.  Quiesce
    replays of this log while it runs — same operational contract as
    ``remove_orphan_files`` (a reader that already planned its epochs
    may hold the old file bytes; the next replay sees the clean log).
    """
    log = spark.read.parquet(log_dir)
    affected = [
        r[0]
        for r in locate(log).select(F.input_file_name().alias("f")).distinct().collect()
    ]
    if not affected:
        return {"files_rewritten": 0, "files_removed": 0, "rows_before": 0,
                "rows_after": 0}
    paths = [_local_path(f) for f in affected]
    # row counts come from parquet footers (driver-side metadata reads),
    # NOT extra full scans — the data-plane cost stays at the advertised
    # one locate scan + one grouped rewrite job
    import pyarrow.parquet as pq

    rows_before = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    # one job for ALL affected files: tag each row with its source file
    # index, apply the transform, dynamic-partition write by tag — the
    # per-source-file output preserves each file's lsn range so
    # footer-stat trigger planning still sees the same epoch boundaries.
    # The file→index mapping travels as a broadcast join side, not a
    # literal map expression: a match touching 10^4 files must not grow
    # the plan tree with it.
    idx = {f: i for i, f in enumerate(affected)}
    files_df = spark.createDataFrame(
        [(f, i) for f, i in idx.items()], "_f string, _src int"
    )
    stage = os.path.join(log_dir, f".{label}-{uuid.uuid4().hex[:8]}")
    (
        transform(
            spark.read.parquet(*paths)
            .withColumn("_f", F.input_file_name())
            .join(F.broadcast(files_df), "_f")
            .drop("_f")
        )
        # a transform may reorder columns (joins hoist keys); restore
        # the log's order so replacements are schema-identical
        .select("_src", *log.columns)
        .repartition(len(affected), F.col("_src"))
        .sortWithinPartitions("_src", "lsn")
        .write.partitionBy("_src")
        .parquet(stage)
    )
    rewritten = removed = 0
    rows_after = 0
    try:
        for f, i in idx.items():
            target = _local_path(f)
            part_dir = os.path.join(stage, f"_src={i}")
            parts = (
                [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
                if os.path.isdir(part_dir)
                else []
            )
            if not parts:
                # every row of this file was dropped by the transform
                os.remove(target)
                _drop_crc(target)
                removed += 1
                continue
            assert len(parts) == 1, f"expected one part for {f}, got {parts}"
            staged = os.path.join(part_dir, parts[0])
            rows_after += pq.ParquetFile(staged).metadata.num_rows
            os.replace(staged, target)
            _drop_crc(target)
            rewritten += 1
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return {
        "files_rewritten": rewritten,
        "files_removed": removed,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


def erase_from_log(
    spark: SparkSession, log_dir: str, conv_ids: list[str]
) -> dict:
    """Erase the keys' rows from an on-disk parquet change log; see
    :func:`_rewrite_log` for the protocol and operational contract."""
    keys = _keys_df(spark, conv_ids)
    out = _rewrite_log(
        spark,
        log_dir,
        locate=lambda log: log.join(F.broadcast(keys), "conv_id", "left_semi"),
        transform=lambda df: df.join(F.broadcast(keys), "conv_id", "left_anti"),
        label="erase",
    )
    return {
        "files_rewritten": out["files_rewritten"],
        "files_removed": out["files_removed"],
        "rows_erased": out["rows_before"] - out["rows_after"],
    }


def redact_log(
    spark: SparkSession,
    log_dir: str,
    pattern: str,
    replacement: str,
    conv_ids: list[str] | None = None,
) -> dict:
    """Redact ``text`` in the change log itself (replay must not
    resurrect the unredacted bytes): rewrite matching files applying
    ``regexp_replace`` — scoped to the given keys, or to every file
    whose text matches the pattern when ``conv_ids`` is None.  Row
    count, keys and lsns are invariant (``files_removed`` is always 0);
    see :func:`_rewrite_log` for the protocol."""
    if conv_ids is None:
        locate = lambda log: log.where(F.col("text").rlike(pattern))  # noqa: E731
        redact = F.regexp_replace("text", pattern, replacement)
    else:
        keys = _keys_df(spark, conv_ids)
        locate = lambda log: log.join(  # noqa: E731
            F.broadcast(keys), "conv_id", "left_semi"
        ).where(F.col("text").rlike(pattern))

    def transform(df: DataFrame) -> DataFrame:
        if conv_ids is None:
            return df.withColumn("text", redact)
        keys_flag = _keys_df(spark, conv_ids).withColumn("_redact", F.lit(True))
        return (
            df.join(F.broadcast(keys_flag), "conv_id", "left")
            .withColumn(
                "text",
                F.when(
                    F.col("_redact"),
                    F.regexp_replace("text", pattern, replacement),
                ).otherwise(F.col("text")),
            )
            .drop("_redact")
        )

    out = _rewrite_log(spark, log_dir, locate=locate, transform=transform,
                       label="redact")
    assert out["files_removed"] == 0, "redaction must never drop a file"
    return {
        "files_rewritten": out["files_rewritten"],
        "rows_rewritten": out["rows_after"] if out["files_rewritten"] else 0,
    }


def erase_everywhere(
    spark: SparkSession,
    conv_ids: list[str],
    tables: list[ParquetTranscriptTable] = (),
    log_dirs: list[str] = (),
    histories: list = (),
    views: list[tuple] = (),
    indexes: list = (),
    purge: bool = False,
) -> dict:
    """One-call compliance sweep: walk EVERY registered surface for the
    key set — the deployment-shaped entry point (a GDPR request names
    keys, not storage internals).  Order matters and is fixed:

    1. ``tables`` — :func:`erase_conversations` each (atomic commits);
    2. ``log_dirs`` — :func:`erase_from_log` each (no resurrection);
    3. ``histories`` — ``Scd2History.erase`` each;
    4. ``views`` — ``(table, view)`` pairs refreshed AFTER their
       table's erase commit (the base-replace forces the view's full
       recompute, which drops the keys);
    5. ``indexes`` — ``DedupIndex.remove`` + ``compact`` (a tombstone
       alone retracts matches but keeps bytes; compact reclaims them).

    Returns the per-surface reports keyed by surface kind.  Surfaces
    this engine does not own (downstream sites fed by a
    ``FeedPublisher``, exported backups) remain the operator's list —
    erasure is a fleet-wide obligation, and this helper covers exactly
    the surfaces reachable from this driver.
    """
    if not conv_ids:
        # every per-surface op fails loud on an empty request; the sweep
        # must too, not return a success-shaped empty report
        raise ValueError("erase_everywhere: empty key list")
    report: dict = {"keys": len(set(conv_ids)), "tables": [], "logs": [],
                    "histories": [], "views": [], "indexes": []}
    for t in tables:
        report["tables"].append(erase_conversations(t, conv_ids, purge=purge))
    for d in log_dirs:
        report["logs"].append(erase_from_log(spark, d, conv_ids))
    for h in histories:
        report["histories"].append(h.erase(conv_ids))
    for t, v in views:
        report["views"].append(v.refresh(t))
    if indexes:
        ids = _keys_df(spark, conv_ids, col="doc_id")
    for ix in indexes:
        removed = ix.remove(ids)
        compacted = ix.compact()
        report["indexes"].append({"removed": removed, "compacted": compacted})
    return report
