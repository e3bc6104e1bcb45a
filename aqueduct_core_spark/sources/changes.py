"""Change-log source: declarative reads over the append-only log.

Re-expresses the reference's central read path
(``PostgresqlStorage.read`` — query builders
``/root/reference/pipe-storage-postgresql/.../PostgresqlStorage.java:432-473``)
as a composable set of DataFrame predicates.  All of them reach the
Parquet/Iceberg scan via Catalyst pushdown (check ``PushedFilters`` in
``.explain``); nothing is filtered post-hoc.

Filter inventory (SURVEY §2.2):
- F1 offset range  — ``lsn BETWEEN start AND ceiling`` (inclusive both
  ends; start-inclusive resume semantics, StorageSpec.groovy:107-123)
- F2 type filter   — empty list ⇒ all types (StorageSpec.groovy:82-105)
- F3 cluster + location-group routing —
  ``cluster_id IN (…) AND (location_group IS NULL OR location_group IN …)``
  (PostgresqlStorage.java:469-473)
- F4 projection    — fixed column select (column pruning)
- F5 tombstone     — ``op = 'D'``
- O1/O2 total-order sort + limit (PostgresqlStorage.java:444-445)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.schema import CHANGES_SCHEMA, OP_DELETE


def read_log(spark: SparkSession, path: str, schema=None) -> DataFrame:
    return spark.read.schema(schema or CHANGES_SCHEMA).parquet(path)


def offset_range(df: DataFrame, start_lsn: int, end_lsn: int | None = None) -> DataFrame:
    """F1: inclusive both ends; ``end_lsn`` is the visibility ceiling
    (the reference bounds reads by the cached globalLatestOffset —
    PostgresqlStorage.java:158-168)."""
    out = df.where(F.col("lsn") >= start_lsn)
    if end_lsn is not None:
        out = out.where(F.col("lsn") <= end_lsn)
    return out


def type_filter(df: DataFrame, ops: list[str] | None) -> DataFrame:
    """F2: empty/None op list means no filtering."""
    if not ops:
        return df
    return df.where(F.col("op").isin(ops))


def routing_filter(
    df: DataFrame,
    cluster_ids: list[int] | None,
    location_groups: list[int] | None = None,
) -> DataFrame:
    """F3: only rows for your clusters, plus group-targeted rows.

    ``None`` means "no cluster routing configured" (all rows, like
    F2's empty type filter); an EMPTY list is honored literally — a
    consumer that owns zero clusters gets zero cluster rows, not the
    whole multi-tenant log (the falsy-check shortcut silently inverted
    the routing contract for that consumer)."""
    if cluster_ids is not None:
        df = df.where(F.col("cluster_id").isin([int(c) for c in cluster_ids]))
    if location_groups is not None and "location_group" in df.columns:
        df = df.where(
            F.col("location_group").isNull()
            | F.col("location_group").isin([int(g) for g in location_groups])
        )
    return df


def tombstones(df: DataFrame) -> DataFrame:
    """F5."""
    return df.where(F.col("op") == OP_DELETE)


def page(
    df: DataFrame,
    start_lsn: int,
    limit: int,
    ops: list[str] | None = None,
    cluster_ids: list[int] | None = None,
    end_lsn: int | None = None,
) -> DataFrame:
    """One reference-style poll page: routed, range-bounded, totally
    ordered by lsn, row-limited (the ORDER BY + LIMIT contract,
    PostgresqlStorage.java:444-445, 463-464)."""
    out = offset_range(df, start_lsn, end_lsn)
    out = type_filter(out, ops)
    out = routing_filter(out, cluster_ids)
    return out.orderBy("lsn").limit(limit)


def max_offset_for_types(df: DataFrame, ops: list[str] | None) -> DataFrame:
    """A6: max offset among the given consumer types (empty = all) —
    reference ``getMaxOffsetForConsumers`` (SQLiteQueries.java:114-124,
    SQLiteStorage.java:397-418).  Returns a 1-row DataFrame
    ``(max_offset_consumers)``; NULL when no matching rows."""
    return type_filter(df, ops).agg(F.max("lsn").alias("max_offset_consumers"))


def changefeed(df: DataFrame) -> DataFrame:
    """CDC change feed with before-images: every turn-level change
    paired with the value it replaced (the ``lag`` over the key's
    lsn-ordered history) and classified as create/update/delete.

    This is the downstream-consumer view of the log — the shape a
    Debezium/Delta-CDF reader hands to a subscriber: ``(op, after,
    before)`` per change, where ``before`` is NULL for the key's first
    event.  One hash shuffle on the key + an in-partition sort; the
    per-key window is the same bounded-skew shape as the LWW argmax
    (reference analog: consumers replay the per-key event history in
    offset order — StorageSpec.groovy:107-123).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.col("lsn").asc())
    prev_text = F.lag("text").over(w)
    prev_op = F.lag("op").over(w)
    return (
        df.where(F.col("turn_idx").isNotNull())
        .select(
            "lsn",
            "conv_id",
            "turn_idx",
            "op",
            "text",
            prev_text.alias("prev_text"),
            F.when(F.col("op") == OP_DELETE, F.lit("delete"))
            .when(prev_op.isNull(), F.lit("create"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
        )
    )


def net_changes(df: DataFrame, start_lsn: int, end_lsn: int) -> DataFrame:
    """Collapse the lsn window ``[start_lsn, end_lsn]`` to its NET
    effect per turn key — the Iceberg-changelog / Delta-CDF "net
    changes" contract a downstream incremental consumer wants:

    - key created and deleted entirely inside the window → no row
    - last in-window event is a delete, key existed before → ``'D'``
    - last in-window event is data, key existed before → ``'U'``
    - last in-window event is data, key is new → ``'I'``

    "Existed before" = the key's pre-window LWW winner (``lsn <
    start_lsn``) is a non-tombstone.  Both the in-window argmax and the
    pre-window argmax ride in ONE conditional aggregation over one scan
    — a single shuffle on the key, map-side partial agg, no join.
    Conversation-level tombstones are not folded in (they collapse at
    apply time via the hierarchical watermark — ``operators/lww.py``);
    this operator summarizes the turn-event stream itself.
    """
    turns = df.where(F.col("turn_idx").isNotNull())
    in_w = (F.col("lsn") >= start_lsn) & (F.col("lsn") <= end_lsn)
    payload = ["op", "role", "text", "tool", "ts"]
    w_in = F.max(F.when(in_w, F.struct("lsn", *payload))).alias("wi")
    w_pre = F.max(
        F.when(F.col("lsn") < start_lsn, F.struct("lsn", "op"))
    ).alias("wp")
    g = (
        turns.where(F.col("lsn") <= end_lsn)
        .groupBy("conv_id", "turn_idx")
        .agg(w_in, w_pre)
        .where(F.col("wi").isNotNull())
    )
    existed = F.col("wp").isNotNull() & (F.col("wp.op") != OP_DELETE)
    is_del = F.col("wi.op") == OP_DELETE
    return (
        g.where(~(is_del & ~existed))
        .select(
            "conv_id",
            "turn_idx",
            F.when(is_del, F.lit("D"))
            .when(existed, F.lit("U"))
            .otherwise(F.lit("I"))
            .alias("net_op"),
            F.col("wi.lsn").alias("lsn"),
            *[F.col(f"wi.{c}").alias(c) for c in ["role", "text", "tool", "ts"]],
        )
    )


def global_latest_offset(df: DataFrame) -> int:
    """A1: ``SELECT max(msg_offset)`` (GlobalLatestOffsetCache.java:16).
    On the snapshot-manifest table this is free from the commit summary;
    on a raw log it is one agg."""
    row = df.agg(F.max("lsn").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else -1
