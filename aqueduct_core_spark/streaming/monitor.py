"""Health / lag monitoring (reference T9).

The reference exposes ``GET /pipe/_status`` — pipe state plus offset
registers (``/root/reference/pipe-http-server/.../PipeStatusController.java:16-19``)
— and the registry marks nodes offline from ``lastSeen`` thresholds
(``registry-core/.../NodeGroup.java:63-66``).  Spark re-expression:

- :func:`pipe_status` — the ``/pipe/_status`` analog: last committed
  epoch/lsn from the snapshot summary (zero jobs) plus, when the source
  log is given, the source's global max lsn (one metadata-only
  aggregate under parquet aggregate pushdown) → consumer lag in events.
- :class:`BatchMetricsRecorder` — wraps the ``foreachBatch`` apply with
  per-batch telemetry (duration, applied rows, events/s, lag) appended
  as JSON lines under ``<table root>/metrics/`` — driver-side, O(1) per
  batch, never a Spark job.  The exactly-once ``_offsets`` row rides in
  the data commit; this is the operational side channel.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession, functions as F

from aqueduct_core_spark.schema import PIPE_OUT_OF_DATE, PIPE_UP_TO_DATE


def pipe_status(table, changes_df=None, up_to_date_lag: int = 0) -> dict:
    """Reference ``/pipe/_status``: bookkeeping snapshot + lag.

    ``changes_df``: the source log (optional).  ``lag_lsn`` = source
    max lsn − last committed lsn — an LSN DELTA, not an event count
    (sparse lsn layouts make the two differ wildly; only ``lag_lsn ==
    0`` means fully caught up).  State is UP_TO_DATE iff lag ≤
    ``up_to_date_lag`` (reference PipeState semantics,
    pipe-api/.../PipeState.java:3-4).
    """
    from aqueduct_core_spark.sources.changes import global_latest_offset

    out = {
        "epoch": table.last_committed_epoch(),
        "last_lsn": table.last_committed_lsn(),
        "snapshot_id": table.catalog.current()["snapshot_id"],
    }
    if changes_df is not None:
        source_max = global_latest_offset(changes_df)
        lag = max(0, source_max - out["last_lsn"])
        out.update(
            {
                "source_max_lsn": source_max,
                "lag_lsn": lag,
                "state": PIPE_UP_TO_DATE if lag <= up_to_date_lag else PIPE_OUT_OF_DATE,
            }
        )
    return out


def fleet_status(tables: dict, changes_df=None, up_to_date_lag: int = 0) -> dict:
    """:func:`pipe_status` across a demux fleet (one routed replica
    table per key — :func:`aqueduct_core_spark.streaming.pipeline.
    replay_demux`): per-route status plus the fleet roll-up a central
    operator pages on — max lag, the slowest route, and whether every
    replica is up to date.  The source log's max lsn is computed ONCE
    and shared (it is the same central pipe for every route)."""
    source_max = None
    if changes_df is not None:
        from aqueduct_core_spark.sources.changes import global_latest_offset

        source_max = global_latest_offset(changes_df)

    routes = {}
    for k in sorted(tables, key=str):
        s = pipe_status(tables[k])
        if source_max is not None:
            lag = max(0, source_max - s["last_lsn"])
            s.update(
                {
                    "source_max_lsn": source_max,
                    "lag_lsn": lag,
                    "state": PIPE_UP_TO_DATE
                    if lag <= up_to_date_lag
                    else PIPE_OUT_OF_DATE,
                }
            )
        routes[k] = s
    out = {"routes": routes}
    if source_max is not None:
        if routes:
            worst = max(routes, key=lambda k: routes[k]["lag_lsn"])
            out.update(
                {
                    "source_max_lsn": source_max,
                    "max_lag_lsn": routes[worst]["lag_lsn"],
                    "slowest_route": worst,
                    "all_up_to_date": all(
                        r["state"] == PIPE_UP_TO_DATE for r in routes.values()
                    ),
                }
            )
        else:
            # empty fleet (bootstrap, before any route table exists):
            # a well-formed roll-up, not max() over an empty sequence
            out.update(
                {
                    "source_max_lsn": source_max,
                    "max_lag_lsn": source_max + 1,  # nothing ingested yet
                    "slowest_route": None,
                    "all_up_to_date": False,
                }
            )
    return out


class BatchMetricsRecorder:
    """Per-batch telemetry hook for the streaming path.

    Wraps the ``foreachBatch`` callback (one epoch of the ingest loop,
    hooks included) with wall-time and throughput and appends one JSON
    line per batch to ``<table root>/metrics/batches.jsonl``.
    """

    def __init__(self, table):
        self.table = table
        self.dir = os.path.join(table.root, "metrics")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "batches.jsonl")

    def record(self, metrics_row: dict, duration_s: float) -> dict:
        applied = int(metrics_row.get("applied", 0))
        line = {
            "epoch": int(metrics_row["epoch"]),
            "last_lsn": int(metrics_row["last_lsn"]),
            "applied": applied,
            "state": metrics_row.get("state"),
            "duration_s": round(duration_s, 3),
            "keys_per_sec": round(applied / duration_s, 1) if duration_s > 0 else None,
        }
        with open(self.path, "a") as f:
            f.write(json.dumps(line) + "\n")
        return line

    def wrap(self, apply_fn):
        """Wrap a ``(batch_df, epoch) -> metrics_row`` callable."""

        def wrapped(batch_df, epoch):
            t0 = time.time()
            row = apply_fn(batch_df, epoch)
            self.record(row, time.time() - t0)
            return row

        return wrapped

    def read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]


def throughput_by_hour(changes) -> "DataFrame":
    """Batch event-time throughput profile: events + max offset per
    (hour, op) — the reference's count-by-type visibility metric (A3,
    PostgresqlStorage.java:512-514) joined with its hour-truncated
    max-offset register (A5, SQLiteStorage.java:371-380) over time."""
    return (
        changes.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("op")
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.max("lsn").alias("max_lsn"),
        )
    )


def streaming_throughput(
    spark: SparkSession,
    changes_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Streaming variant (T3): tumbling event-time windows with a
    late-data watermark — late events inside the watermark still land
    in their window; beyond it the window is finalized and emitted
    (append mode).  Returns the unstarted streaming DataFrame; attach a
    ``writeStream`` sink."""
    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    stream = spark.readStream.schema(CHANGES_SCHEMA).parquet(changes_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("op"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.max("lsn").alias("max_lsn"),
        )
    )


def epoch_lineage_audit(table_or_offsets) -> "DataFrame":
    """Audit the exactly-once bookkeeping itself: violations over the
    ``_offsets`` table's epoch sequence and per-bucket lineage.

    Checks (one row per violation — empty result = healthy):

    - ``duplicate_epoch_row`` — the same epoch committed twice (the
      invariant the duplicate-epoch skip + ``EpochCollision`` guard
      protect; two rows would mean the commit protocol was bypassed).
    - ``watermark_regression`` — ``last_lsn`` strictly decreased from
      one epoch to the next (replay order violated).
    - ``lineage_beyond_watermark`` — a batch-scope bucket's lineage
      ``max_lsn`` exceeds its epoch's committed watermark (bookkeeping
      claims events the watermark says were never applied).
    - ``lineage_below_prev_watermark`` — a batch-scope bucket's
      ``min_lsn`` is at or below the PREVIOUS epoch's watermark: the
      epoch re-applied events an earlier epoch already owned
      (exactly-once double-apply evidence).  Table-scope lineage
      (rows of the retired copy-on-write apply, which rewrote the full
      layout) legitimately spans old lsns and is exempt from the two
      range rules.

    Accepts a table (anything with ``read_offsets``) or an offsets
    DataFrame directly.  The offsets table is bounded — one row per
    epoch, kept small by ``compact_offsets`` — so the single
    unpartitioned window here sorts thousands of rows, not data.

    Scope: single-log tables.  ``replay_multi_source`` interleaves
    epochs from independent lsn spaces into one offsets table (each
    source's watermark lives in its own summary key), so the two
    cross-epoch range rules don't apply there — filter the offsets
    frame to one source's epochs before auditing a multi-log table.
    """
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    off = (
        table_or_offsets.read_offsets()
        if hasattr(table_or_offsets, "read_offsets")
        else table_or_offsets
    )
    lineage_schema = T.StructType(
        [
            T.StructField("scope", T.StringType()),
            T.StructField(
                "buckets",
                T.MapType(
                    T.StringType(),
                    T.StructType(
                        [
                            T.StructField("keys", T.LongType()),
                            T.StructField("min_lsn", T.LongType()),
                            T.StructField("max_lsn", T.LongType()),
                        ]
                    ),
                ),
            ),
        ]
    )
    parsed = off.select(
        "epoch",
        "last_lsn",
        F.from_json("partition_lineage", lineage_schema).alias("_pl"),
    )
    dup = (
        parsed.groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("_n"), F.max("last_lsn").alias("last_lsn"))
        .where(F.col("_n") > 1)
        .select(
            "epoch",
            F.lit("duplicate_epoch_row").alias("reason"),
            F.concat(F.lit("rows="), F.col("_n")).alias("detail"),
        )
    )
    # (epoch, last_lsn) — epoch alone is a NON-total order exactly when
    # duplicate epoch rows exist (the corruption this audit targets), and
    # lag() between the duplicates would then be nondeterministic: the
    # same corrupt offsets table could emit different watermark_regression
    # / lineage_below_prev_watermark detail rows run to run.
    w = Window.orderBy("epoch", "last_lsn")
    seq = parsed.withColumn("_prev", F.lag("last_lsn").over(w))
    reg = seq.where(F.col("last_lsn") < F.col("_prev")).select(
        "epoch",
        F.lit("watermark_regression").alias("reason"),
        F.concat(
            F.lit("last_lsn="), F.col("last_lsn"), F.lit(" prev="), F.col("_prev")
        ).alias("detail"),
    )
    buckets = seq.where(F.col("_pl.scope") == "batch").select(
        "epoch",
        "last_lsn",
        "_prev",
        F.explode(F.col("_pl.buckets")).alias("bucket", "rng"),
    )
    beyond = buckets.where(F.col("rng.max_lsn") > F.col("last_lsn")).select(
        "epoch",
        F.lit("lineage_beyond_watermark").alias("reason"),
        F.concat(
            F.lit("bucket="), F.col("bucket"),
            F.lit(" max_lsn="), F.col("rng.max_lsn"),
            F.lit(" watermark="), F.col("last_lsn"),
        ).alias("detail"),
    )
    below = buckets.where(
        F.col("_prev").isNotNull() & (F.col("rng.min_lsn") <= F.col("_prev"))
    ).select(
        "epoch",
        F.lit("lineage_below_prev_watermark").alias("reason"),
        F.concat(
            F.lit("bucket="), F.col("bucket"),
            F.lit(" min_lsn="), F.col("rng.min_lsn"),
            F.lit(" prev_watermark="), F.col("_prev"),
        ).alias("detail"),
    )
    return dup.unionByName(reg).unionByName(beyond).unionByName(below).orderBy(
        "epoch", "reason", "detail"
    )
