"""Anti-entropy: detect and repair replica divergence without moving data.

The replication cascade (``FeedCursor`` applying ``changes_between``
feeds) converges by construction, but a deployed store node can still
drift from its primary — lost writes, storage bitrot, an operator
restoring the wrong backup.  The reference detects this situation only
via the global offset-consistency checksum
(``SQLiteQueries.java:57-64``); at 10^10 rows a failed checksum leaves
you with "something, somewhere, differs".  This module answers *where*
and *what* at 100 TB cost:

1. :func:`bucket_digests` — one distributed aggregation per table
   produces ``num_buckets`` rows of (row count, order-insensitive
   xxhash64 content sum).  Comparing two tables costs two scans and a
   driver-side compare of two tiny lists — never a join of the tables.
2. :func:`diverging_buckets` — the Merkle-style prune: equal digests
   ⇒ the bucket is verified identical and is never read again.
3. :func:`diff_replica` — only the diverging buckets (typically one)
   are re-read, bucket-pruned on BOTH sides via the manifest file
   listing, and full-outer-joined per key.  The join compares one
   64-bit row hash, not the payload text, so wide transcript text
   never shuffles — only (key, hash, lsn).
4. :func:`repair_replica` — bucket-granular repair: the diverging
   buckets are rewritten from the primary's resolved state in one
   atomic snapshot commit, leaving every
   verified bucket's files untouched.  Content-level only: the
   replica's feed cursor / epoch watermark is intentionally NOT
   changed — anti-entropy fixes state, the feed keeps its position.

Scale shape: detection is O(2 table scans + num_buckets driver rows);
localisation and repair are O(diverging slice).  A converged pair
costs two aggregation-only scans and zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from aqueduct_core_spark.catalog.table import (
    BUCKET_COLUMN,
    ParquetTranscriptTable,
    bucket_expr,
)
from aqueduct_core_spark.schema import KEY_COLUMNS, LSN_COLUMN

#: diff-status values, in output order
MISSING_IN_REPLICA = "missing_in_replica"
MISSING_IN_PRIMARY = "missing_in_primary"
DIFFERS = "differs"


def _row_hash(cols: list[str]):
    """Order-canonical per-row 64-bit content hash (includes lsn: a
    converged replica matches the primary bit-for-bit, lsn included).

    xxhash64 skips NULL operands entirely (the hash state is unchanged),
    so two rows whose value sits in DIFFERENT nullable columns — e.g.
    bitrot or a bad restore shifting text between adjacent columns —
    would hash identically and the divergence would be invisible to
    every digest in this module.  Appending the per-column null flags
    to the hash input disambiguates: the flag vector pins which
    positions contributed, while the values themselves stay natively
    hashed (no string casts in the hot aggregation)."""
    ordered = sorted(cols)
    return F.xxhash64(
        *[F.col(c) for c in ordered],
        *[F.col(c).isNull() for c in ordered],
    )


def bucket_digests(
    table: ParquetTranscriptTable, version: int | None = None
) -> DataFrame:
    """Per-bucket (rows, content digest) — ``num_buckets`` output rows
    from ONE aggregation over the resolved state.  The digest is the
    decimal sum of per-row xxhash64 (order-insensitive, overflow-free
    under ANSI), the same construction as
    :func:`aqueduct_core_spark.verify.state_digest` but keyed by the
    table's own bucket function so a mismatch names the exact slice of
    files to re-read."""
    state = table.read_internal(version=version)
    h = _row_hash(state.columns).cast("decimal(38,0)")
    return (
        state.groupBy(bucket_expr(table.num_buckets).alias(BUCKET_COLUMN))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum(h).alias("digest"))
    )


def diverging_buckets(
    primary: ParquetTranscriptTable, replica: ParquetTranscriptTable
) -> list[int]:
    """Buckets whose (count, digest) differ between the two tables.
    Cost: two aggregation scans + a ``num_buckets``-row collect per
    side; the tables are never joined.  Requires identical bucket
    layouts (the replica was built from the primary's feed)."""
    if primary.num_buckets != replica.num_buckets:
        raise ValueError(
            f"bucket layouts differ (primary {primary.num_buckets}, "
            f"replica {replica.num_buckets}); rebucket before diffing"
        )
    p = {r[BUCKET_COLUMN]: (r["n_rows"], r["digest"])
         for r in bucket_digests(primary).collect()}
    r = {row[BUCKET_COLUMN]: (row["n_rows"], row["digest"])
         for row in bucket_digests(replica).collect()}
    return sorted(b for b in (p.keys() | r.keys()) if p.get(b) != r.get(b))


def key_diff(
    p_state: DataFrame, r_state: DataFrame, payload_cols: list[str] | None = None
) -> DataFrame:
    """Per-key divergence between two resolved states: one row per key
    present-or-different, with a status and both sides' lsn.

    Each side is first reduced to (key, lsn, 64-bit row hash) — the
    transcript text itself never enters the join shuffle.  Output
    columns: ``conv_id, turn_idx, status, primary_lsn, replica_lsn``.
    """
    payload_cols = payload_cols or [
        c for c in p_state.columns if c not in (*KEY_COLUMNS, LSN_COLUMN)
    ]
    hcols = [*KEY_COLUMNS, LSN_COLUMN, *payload_cols]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *KEY_COLUMNS,
            F.col(LSN_COLUMN).alias(f"{tag}_lsn"),
            _row_hash(hcols).alias(f"_{tag}_h"),
        )

    j = side(p_state, "primary").join(
        side(r_state, "replica"), on=list(KEY_COLUMNS), how="full_outer"
    )
    status = (
        F.when(F.col("_replica_h").isNull(), F.lit(MISSING_IN_REPLICA))
        .when(F.col("_primary_h").isNull(), F.lit(MISSING_IN_PRIMARY))
        .when(
            (F.col("_primary_h") != F.col("_replica_h"))
            | (F.col("primary_lsn") != F.col("replica_lsn")),
            F.lit(DIFFERS),
        )
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*KEY_COLUMNS, "status", "primary_lsn", "replica_lsn")
    )


def diff_replica(
    primary: ParquetTranscriptTable, replica: ParquetTranscriptTable
) -> tuple[list[int], DataFrame]:
    """Locate replica divergence: digest-prune to the diverging buckets,
    then per-key diff of ONLY those buckets (manifest-pruned reads on
    both sides).  Returns ``(buckets, diff)``; converged tables return
    ``([], empty diff)`` having run zero joins."""
    buckets = diverging_buckets(primary, replica)
    if not buckets:
        empty = key_diff(primary.read_internal([]), replica.read_internal([]))
        return [], empty
    p = primary.read_internal(buckets)
    r = replica.read_internal(buckets)
    return buckets, key_diff(p, r)


def repair_replica(
    replica: ParquetTranscriptTable,
    primary: ParquetTranscriptTable,
    buckets: list[int] | None = None,
) -> dict:
    """Rewrite the replica's diverging buckets from the primary's
    resolved state — ONE atomic snapshot commit
    (:meth:`ParquetTranscriptTable.rewrite_buckets` with the primary as
    ``source``); verified buckets' files are untouched, so repair
    cost is proportional to the damage, not the table.

    Content-level by design: the replica's epoch/lsn watermark and
    feed-cursor position are left alone — after repair the feed resumes
    from where it was, and the now-identical LWW state absorbs any
    overlap idempotently.  Returns ``{repaired, buckets, snapshot_id}``.
    """
    if buckets is None:
        buckets = diverging_buckets(primary, replica)
    if not buckets:
        return {"repaired": False, "buckets": []}
    out = replica.rewrite_buckets(
        "repair",
        buckets=buckets,
        source=primary,
        summary_updates={"aqueduct.repaired-buckets": len(buckets)},
    )
    return {
        "repaired": True,
        "buckets": buckets,
        "snapshot_id": out["snapshot_id"],
    }


def version_diff(
    table: ParquetTranscriptTable,
    v_from: int | str,
    v_to: int | str | None = None,
) -> DataFrame:
    """Row-level semantic diff between two snapshot VERSIONS of one
    table: one row per key added / removed / changed from ``v_from``
    to ``v_to`` (default: current), with both sides' lsn.  Versions
    accept ids or tag names (``catalog.resolve``).

    This answers "what changed between two training-data releases"
    where the delta-based feed cannot: ``changes_between`` fails loud
    across folds / rewrites / rebuckets / erasures (base-file replaces
    are not delta-expressible), while a diff of two pinned reads is
    always well-defined.  The cost model keeps it honest at scale:

    - **Manifest prune**: a bucket whose base-file AND delta-file lists
      are identical in both manifests is provably identical and never
      read; only changed buckets enter the join.  (A fold re-lists
      files without changing content — such buckets are re-read and
      diff empty; the prune is a superset of the true change set, the
      answer exact either way.  A rebucket changes the layout wholesale
      → full compare, no prune.)
    - **Hash-only shuffle**: each side reduces to (key, lsn, 64-bit row
      hash) before the full-outer join — transcript text never
      shuffles, same as :func:`key_diff`.
    """
    cat = table.catalog
    va = cat.resolve(v_from)
    vb = cat.resolve(v_to) if v_to is not None else cat.current_version()
    sa, sb = cat.load(va), cat.load(vb)
    buckets = None
    if sa["summary"].get("aqueduct.num-buckets") == sb["summary"].get(
        "aqueduct.num-buckets"
    ):
        da, db = sa.get("delta_files", {}), sb.get("delta_files", {})
        keys = set(sa["files"]) | set(sb["files"]) | set(da) | set(db)
        buckets = sorted(
            int(b)
            for b in keys
            if sa["files"].get(b) != sb["files"].get(b) or da.get(b) != db.get(b)
        )
    a = table.read_internal(buckets, version=va)
    b = table.read_internal(buckets, version=vb)
    payload = [c for c in b.columns if c not in (*KEY_COLUMNS, LSN_COLUMN)]
    hcols = [*KEY_COLUMNS, LSN_COLUMN, *payload]
    fa = a.select(
        *KEY_COLUMNS,
        F.col(LSN_COLUMN).alias("lsn_from"),
        _row_hash(hcols).alias("_hf"),
    )
    fb = b.select(
        *KEY_COLUMNS,
        F.col(LSN_COLUMN).alias("lsn_to"),
        _row_hash(hcols).alias("_ht"),
    )
    j = fa.join(fb, on=list(KEY_COLUMNS), how="full_outer")
    change = (
        F.when(F.col("_hf").isNull(), F.lit("added"))
        .when(F.col("_ht").isNull(), F.lit("removed"))
        .when(
            (F.col("_hf") != F.col("_ht"))
            | (F.col("lsn_from") != F.col("lsn_to")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(*KEY_COLUMNS, "change", "lsn_from", "lsn_to")
    )
