"""Event validation + dead-letter quarantine.

A CDC source is upstream of nothing and downstream of everything: a
malformed event (unknown op, missing key, payload-less upsert) must
neither poison the merge nor be silently dropped.  The reference rejects
bad writes at the API boundary (``pipe-api`` Message validation /
Micronaut body binding); a lake engine ingesting third-party logs gets
no such boundary, so the same contract is enforced inside the batch:

- :func:`with_invalid_reason` — ONE projection stamping each row with
  the first violated rule (NULL = valid).  Pure column CASE expression:
  JVM-side, zero shuffle, oracle-expressible.
- :func:`split_quarantine` — (valid, invalid-with-reason) pair off one
  stamped plan.
- :func:`apply_with_quarantine` — the dead-letter wiring: quarantined
  rows land in an append-only parquet sidecar stamped with the epoch
  (same idempotence story as the main sink: a replayed epoch's
  quarantine rows are re-delivered under the same epoch and can be
  deduplicated on (epoch, lsn)); valid rows proceed to the normal
  exactly-once MERGE.  Metrics report both counts.

Validation rules (first match wins — keep the order in sync with the
oracle SQL in ``__spark_entry__.py``):

==================  =====================================================
``null_key``        conv_id IS NULL or empty
``bad_lsn``         lsn IS NULL or negative
``bad_op``          op not in {'I','U','D'}
``missing_payload`` turn-level insert/update with NULL text
``negative_turn``   turn_idx < 0
==================  =====================================================
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from aqueduct_core_spark.schema import OP_DELETE, OP_INSERT, OP_UPDATE

#: stamped column; NULL = valid row
REASON_COLUMN = "_invalid_reason"

VALID_OPS = [OP_INSERT, OP_UPDATE, OP_DELETE]


def invalid_reason() -> Column:
    """The validation CASE expression (NULL for valid rows)."""
    return (
        F.when(F.col("conv_id").isNull() | (F.col("conv_id") == ""), "null_key")
        .when(F.col("lsn").isNull() | (F.col("lsn") < 0), "bad_lsn")
        .when(~F.col("op").isin(VALID_OPS), "bad_op")
        .when(
            F.col("turn_idx").isNotNull()
            & (F.col("op") != OP_DELETE)
            & F.col("text").isNull(),
            "missing_payload",
        )
        .when(F.col("turn_idx") < 0, "negative_turn")
    )


def with_invalid_reason(changes: DataFrame) -> DataFrame:
    return changes.withColumn(REASON_COLUMN, invalid_reason())


def split_quarantine(changes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) off one stamped plan.  The stamped DataFrame is
    shared, so under one action both sides read the scan once."""
    stamped = with_invalid_reason(changes)
    valid = stamped.where(F.col(REASON_COLUMN).isNull()).drop(REASON_COLUMN)
    invalid = stamped.where(F.col(REASON_COLUMN).isNotNull()).withColumnRenamed(
        REASON_COLUMN, "reason"
    )
    return valid, invalid


def apply_with_quarantine(
    table,
    batch: DataFrame,
    epoch: int,
    cfg=None,
    quarantine_dir: str | None = None,
) -> dict:
    """Dead-letter apply: quarantine invalid rows, commit the rest
    through the ingest loop (``streaming.pipeline._apply_epochs``).

    The quarantine write happens BEFORE the merge commit: on a crash
    between them the epoch is replayed, the merge skips idempotently
    (epoch stamp) and the quarantine rows are appended again under the
    same ``epoch`` value — readers deduplicate on ``(epoch, lsn)``,
    mirroring how the main sink's re-delivered deltas are superseded by
    the epoch stamp.  At-least-once for the dead-letter channel,
    exactly-once for data: the standard DLQ contract (Kafka Connect,
    Delta's badRecordsPath behave the same).

    The stamped batch is persisted around the three actions that read
    it (invalid count, quarantine write, the merge's scans of the valid
    side) — a file-stream micro-batch would otherwise re-scan and
    re-parse its source once per action on the hot path.
    """
    from aqueduct_core_spark.streaming.pipeline import _apply_epochs

    stamped_all = with_invalid_reason(batch)
    if quarantine_dir is not None:
        stamped_all = stamped_all.persist()
    try:
        valid = stamped_all.where(F.col(REASON_COLUMN).isNull()).drop(REASON_COLUMN)
        n_bad = 0
        if quarantine_dir is not None:
            invalid = (
                stamped_all.where(F.col(REASON_COLUMN).isNotNull())
                .withColumnRenamed(REASON_COLUMN, "reason")
                .withColumn("epoch", F.lit(int(epoch)))
            )
            n_bad = invalid.count()
            if n_bad:
                invalid.write.mode("append").parquet(quarantine_dir)
        m = _apply_epochs(table, [(valid, epoch, None, None)], cfg)[0]
    finally:
        if quarantine_dir is not None:
            stamped_all.unpersist()
    m["quarantined"] = int(n_bad)
    return m


def read_quarantine(spark, quarantine_dir: str) -> DataFrame:
    """Deduplicated dead-letter view: one row per (epoch, lsn) — crash
    re-deliveries collapse."""
    return (
        spark.read.parquet(quarantine_dir)
        .dropDuplicates(["epoch", "lsn"])
    )
