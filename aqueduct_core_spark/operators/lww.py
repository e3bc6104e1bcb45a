"""Last-writer-wins resolution kernel.

Reference semantics being re-expressed:

- per-key argmax "latest wins" — the LWW dedup anti-join
  ``DELETE … WHERE msg_offset NOT IN (SELECT max(msg_offset) … GROUP BY
  msg_key, type)`` (``/root/reference/pipe-storage-sqlite/.../SQLiteQueries.java:51-52``,
  tests ``SQLiteStorageIntegrationSpec.groovy:696-907``);
- deletion kills everything at-or-below the deletion's offset for that
  key (``/root/reference/pipe-storage-postgresql/.../PostgresqlStorage.java:479-493``);
- tombstone = ``data IS NULL`` → here explicit ``op = 'D'``
  (``SQLiteQueries.java:54-55``).

Spark-first design: the argmax is an **aggregation on
``max(struct(lsn, …))``**, not a window.  Over a raw log the partial
(map-side) combine makes it skew-resilient: a hot conversation's
events collapse to one row per key before the shuffle.  In the apply
path (:func:`aqueduct_core_spark.operators.merge.mor_prepare`) the
input is already hash-partitioned on ``conv_id`` into the table's
bucket count — the one exchange the delta write needs anyway — so the
aggregate plans no exchange of its own and its partial combine runs
AFTER the bucket exchange: raw events cross the shuffle, and the epoch
saves a whole shuffle stage.  That wins where per-stage fixed costs
dominate (perfbench's 7k–29k-event epochs: +28% to +40% ingest) and
loses ~8% on one 5.1M-event epoch, where data volume dominates and the
combine would have collapsed each key's ~4 events before the shuffle
(BENCH.md, round 6).  Tie-breaking is deterministic because
``lsn`` is unique; the struct comparison falls back to ``ts`` then
``op`` if a malformed log ever duplicated an lsn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from aqueduct_core_spark.schema import KEY_COLUMNS, LSN_COLUMN, OP_DELETE, sql_ident


def split_hierarchy(changes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the log into turn-level events and conversation-level
    (parent) events — hierarchical parent→child resolution.

    Conversation-level metadata events always precede their turns in
    lsn order (generator invariant; the reference guarantees ordered
    offsets — pipe-api/.../Writer.java:5-11), so parents need no join
    back: only conversation-level *deletes* affect turn state.
    """
    turn_events = changes.where(F.col("turn_idx").isNotNull())
    conv_events = changes.where(F.col("turn_idx").isNull())
    return turn_events, conv_events


def conv_delete_watermarks(conv_events: DataFrame) -> DataFrame:
    """Max delete lsn per conversation: any turn whose winning lsn is
    at-or-below this dies (reference J1 'mark everything ≤ the latest
    deletion offset', PostgresqlStorage.java:479-493)."""
    return (
        conv_events.where(F.col("op") == OP_DELETE)
        .groupBy("conv_id")
        .agg(F.max("lsn").alias("conv_del_lsn"))
    )


def argmax_winners(turn_events: DataFrame, payload_cols: list[str]) -> DataFrame:
    """One row per (conv_id, turn_idx): the max-lsn event.

    ``payload_cols`` are the non-key payload columns to carry (dynamic —
    grows under schema evolution).
    """
    fields = ["lsn", "op"] + [c for c in payload_cols if c not in ("lsn", "op")]
    winner = F.max(F.struct(*[F.col(c) for c in fields])).alias("w")
    agged = turn_events.groupBy(*KEY_COLUMNS).agg(winner)

    out_cols = [F.col(c) for c in KEY_COLUMNS]
    out_cols += [F.col(f"w.{c}").alias(c) for c in payload_cols]
    out_cols += [F.col("w.op").alias("op"), F.col("w.lsn").alias(LSN_COLUMN)]
    return agged.select(*out_cols)


def unified_argmax(changes: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Single-pass resolution aggregate over the WHOLE batch — turn and
    conversation-level events together, keyed by
    ``(conv_id, coalesce(turn_idx, -1))``.

    Output (one row per key, ~|keys| ≪ |events|):

    - ``conv_id``, ``_tkey`` (turn_idx, -1 = conversation level)
    - ``w`` struct: the max-lsn event (lsn, op, payload…)
    - ``_dlsn``: max lsn of a conversation-level delete (non-null only
      on ``_tkey = -1`` rows) — the hierarchical delete watermark

    This is THE heavy scan of the apply path, one aggregate statement
    run on ``changes``' own session.  It groups on ``changes``'
    partitioning when that already clusters ``conv_id`` (the apply
    path's bucket exchange: the partial combine then runs after that
    exchange, in the same stage as the final one); otherwise it plans
    one shuffle of its own, with map-side partial combine collapsing
    each key's events before any bytes move.  Everything downstream
    (winners, watermarks, lineage, batch max-lsn) derives from this
    small result, so the 10^10-event batch is read exactly once.
    """
    fields = ["lsn", "op"] + [c for c in payload_cols if c not in ("lsn", "op")]
    winner = ", ".join(sql_ident(c) for c in fields)
    return changes.sparkSession.sql(
        "SELECT conv_id, coalesce(turn_idx, -1) AS _tkey, "
        f"max(struct({winner})) AS w, "
        f"max(CASE WHEN op = '{OP_DELETE}' AND turn_idx IS NULL THEN lsn END) AS _dlsn "
        "FROM {changes} GROUP BY conv_id, coalesce(turn_idx, -1)",
        changes=changes,
    )


def staged_conv_del(staged: DataFrame) -> DataFrame:
    """Per-conversation delete watermarks from the unified aggregate."""
    return staged.where((F.col("_tkey") == -1) & F.col("_dlsn").isNotNull()).select(
        "conv_id", F.col("_dlsn").alias("conv_del_lsn")
    )


def staged_winners(staged: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Turn-level winners from the unified aggregate, with the
    conversation-delete watermark applied to the batch's own rows: a
    winner at-or-below the watermark becomes op='D' (rather than being
    dropped, because it must also kill older table state for its key)."""
    conv_del = staged_conv_del(staged)
    winners = staged.where(F.col("_tkey") >= 0).select(
        "conv_id",
        F.col("_tkey").cast("int").alias("turn_idx"),
        *[F.col(f"w.{c}").alias(c) for c in payload_cols],
        F.col("w.op").alias("op"),
        F.col("w.lsn").alias(LSN_COLUMN),
    )
    return (
        winners.join(F.broadcast(conv_del), on="conv_id", how="left")
        .withColumn(
            "op",
            F.when(
                F.col("conv_del_lsn").isNotNull()
                & (F.col(LSN_COLUMN) <= F.col("conv_del_lsn")),
                F.lit(OP_DELETE),
            ).otherwise(F.col("op")),
        )
        .drop("conv_del_lsn")
    )


def resolve_batch(
    changes: DataFrame, payload_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Resolve a micro-batch of change events to:

    - ``winners``: one row per touched key (the MERGE-source cardinality
      guarantee Iceberg requires) with the winning payload, ``op``
      ('D' ⇒ the key's final state in this batch is deleted) and
      ``_lsn``; conversation-level deletes already applied to the
      batch's own rows.
    - ``conv_del``: per-conversation delete watermarks, still to be
      applied against pre-existing table state during MERGE.
    """
    staged = unified_argmax(changes, payload_cols)
    return staged_winners(staged, payload_cols), staged_conv_del(staged)


def partial_merged_state(
    changes: DataFrame, payload_cols: list[str] | None = None
) -> DataFrame:
    """LWW merge under PARTIAL row images (patch semantics).

    Some CDC feeds ship sparse updates — only the columns that changed
    (MySQL binlog with ``binlog_row_image=minimal``, Debezium's
    partial-update events, DynamoDB UpdateItem streams).  There a NULL
    payload column in an update means "unchanged", not "set to NULL"
    (the standard patch-encoding limitation, documented here rather
    than hidden), so the merged value of each column is the LATEST
    NON-NULL write for that column — not the winning row's value.

    Semantics per (conv_id, turn_idx):

    - the row is alive iff the plain LWW winner is alive (op ≠ 'D' and
      winning lsn above the conversation-delete watermark — identical
      to :func:`argmax_winners` + hierarchy rules);
    - a delete RESETS the patch history: only events strictly above the
      key's last turn-tombstone (and above the conversation watermark)
      contribute column values — coalescing across a tombstone would
      resurrect deleted data;
    - each payload column = ``max_by(col, lsn WHERE col IS NOT NULL)``
      over the contributing events; ``ts`` and ``lsn`` report the
      winner's (row freshness), not per-column freshness.

    Scale shape: ONE hash aggregation over the turn events with
    map-side partial combine — the tombstone reset is enforced AFTER
    the aggregate by comparing each column's latest-write lsn against
    the key's tombstone watermark (a write voided by a later delete is
    either superseded by a post-delete write or correctly nulled), so
    there is no per-key tombstone join (per-key watermarks don't
    broadcast at 10^10 keys).  The per-conversation watermark join
    stays broadcast, exactly as the plain merged state.
    """
    payload_cols = payload_cols or ["role", "text", "tool"]
    turn_events, conv_events = split_hierarchy(changes)
    conv_del = conv_delete_watermarks(conv_events)

    def write_lsn(c: str):
        # lsn of an event that actually writes column c
        return F.when(
            (F.col("op") != OP_DELETE) & F.col(c).isNotNull(), F.col("lsn")
        )

    aggs = []
    for c in payload_cols:
        aggs.append(F.max_by(c, write_lsn(c)).alias(f"_v_{c}"))
        aggs.append(F.max(write_lsn(c)).alias(f"_l_{c}"))
    ts_key = F.when(F.col("op") != OP_DELETE, F.col("lsn"))
    g = turn_events.groupBy(*KEY_COLUMNS).agg(
        *aggs,
        F.max_by("ts", ts_key).alias("_v_ts"),
        F.max(ts_key).alias("_l_ts"),
        F.max(F.when(F.col("op") == OP_DELETE, F.col("lsn"))).alias("_tdel"),
        F.max("lsn").alias("lsn"),
    )
    tdel = F.coalesce(F.col("_tdel"), F.lit(-1))
    alive = (
        g.where(F.col("lsn") > tdel)  # last event is not the tombstone
        .join(F.broadcast(conv_del), on="conv_id", how="left")
        .where(
            F.col("conv_del_lsn").isNull() | (F.col("lsn") > F.col("conv_del_lsn"))
        )
    )
    floor = F.greatest(tdel, F.coalesce(F.col("conv_del_lsn"), F.lit(-1)))
    cols = [
        F.when(F.col(f"_l_{c}") > floor, F.col(f"_v_{c}")).alias(c)
        for c in payload_cols
    ]
    ts_col = F.when(F.col("_l_ts") > floor, F.col("_v_ts")).alias("ts")
    return alive.select(*KEY_COLUMNS, *cols, ts_col, "lsn")
