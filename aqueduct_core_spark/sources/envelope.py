"""Debezium-style JSON change-envelope ingestion (wire → change log).

Real CDC transports deliver change events as JSON *envelopes*, not
columnar rows: Debezium-over-Kafka, Postgres ``wal2json``, and the
reference's own HTTP pipe all ship ``{op, before, after, source}``
documents (the reference's wire shape is ``Message.java:14-31`` —
offset/type/key/contentType/size/data — serialized by
``pipe-api/.../JsonSupport``).  This module is the adapter between that
wire shape and the engine's canonical ``CHANGES_SCHEMA``:

- :func:`parse_envelopes` — ONE ``from_json`` projection (JVM-side,
  whole-stage-codegen, zero Python, zero shuffle) that parses a string
  ``value`` column into canonical change rows, stamping each with the
  first envelope-level violation (``NULL`` = clean).  Works identically
  on batch and Structured-Streaming DataFrames (``from_json`` is
  streaming-safe), so a Kafka tail is just
  ``readStream.format("kafka")`` → ``CAST(value AS STRING)`` → this.
- :func:`split_envelopes` — (changes, dead-letters) off one stamped
  plan; the dead-letter side keeps the raw wire bytes so nothing is
  destroyed by a parse failure (same DLQ contract as
  :mod:`aqueduct_core_spark.operators.validate`, which handles
  *row-level* rules downstream of this *envelope-level* gate).
- :func:`to_envelope_json` — the inverse projection (``to_json``),
  emitting Kafka-shaped ``(key, value)`` string pairs.  Exists so the
  wire contract is testable as a round trip (parse∘serialize = id) and
  so the engine can re-publish its own change feed downstream.

Envelope shape (Debezium's public semantics):

.. code-block:: json

    {"op": "c|r|u|d",
     "ts_us": 1723968000000000,
     "before": {"conv_id": "...", "turn_idx": 3, ...} | null,
     "after":  {"conv_id": "...", "turn_idx": 3, "role": "...",
                "text": "...", "tool": "..."} | null,
     "source": {"lsn": 12345, "cluster_id": 2, "location_group": 4}}

Mapping rules:

- ``op``: ``c`` (create) and ``r`` (snapshot read) → ``I``; ``u`` → ``U``;
  ``d`` → ``D``.  Anything else is a dead letter (``bad_op``).
- key: from ``after`` when present, else ``before`` (Debezium deletes
  carry the image in ``before`` with ``after = null``).  Neither →
  ``no_row_image``.
- payload (role/text/tool): from ``after`` only — deletes become NULL
  -payload tombstones, the reference's own encoding
  (``SQLiteQueries.java:54-55``: deletes are ``data IS NULL``).
- ``lsn``: ``source.lsn`` (Postgres-connector field name).  Missing →
  ``no_lsn`` (an unordered event cannot enter an ordered log).
- ``ts``: ``ts_us`` epoch microseconds ↔ ``timestamp`` (lossless for
  parquet's micro-precision timestamps).
- ``event_size``: recomputed as ``length(text) + 89`` — the wire does
  not carry it; 89 B is the fixed non-payload overhead (reference
  ``Message.java:27-31`` MAX_OVERHEAD_SIZE) and tombstones cost exactly
  the overhead.
- routing metadata (``cluster_id``, ``location_group``) rides in
  ``source`` — connector-specific source fields are how Debezium
  transports origin metadata.

Envelope-level violations (first match wins):

==================  ====================================================
``not_json``        value is not parseable JSON (``from_json`` → NULL)
``bad_op``          op missing or not in {c, r, u, d}
``no_lsn``          ``source.lsn`` missing
``no_row_image``    both ``before`` and ``after`` missing
==================  ====================================================
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from aqueduct_core_spark.schema import OP_DELETE, OP_INSERT, OP_UPDATE

#: stamped column; NULL = clean envelope
REASON_COLUMN = "_envelope_reason"

#: row image carried in before/after (payload columns of a transcript turn)
ROW_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("before", ROW_IMAGE_SCHEMA),
        T.StructField("after", ROW_IMAGE_SCHEMA),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("lsn", T.LongType()),
                    T.StructField("cluster_id", T.LongType()),
                    T.StructField("location_group", T.LongType()),
                ]
            ),
        ),
        # PERMISSIVE-mode corrupt-record capture: malformed JSON may
        # still surface partially-parsed fields, so "is it JSON at all"
        # must come from the parser itself, not from field nullness
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

from aqueduct_core_spark.schema import WIRE_OVERHEAD_BYTES as _OVERHEAD_BYTES


def _row_image() -> Column:
    return F.struct(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
    )


def to_envelope_json(changes: DataFrame) -> DataFrame:
    """Canonical change rows → Kafka-shaped ``(key, value)`` JSON strings.

    One ``to_json`` projection.  ``key`` is the partition key (conv_id —
    Kafka's per-key ordering then matches the engine's conversation
    ordering); ``value`` is the Debezium-style envelope.  Null fields
    are omitted (``to_json`` default), as Debezium does.
    """
    is_del = F.col("op") == OP_DELETE
    image = _row_image()
    # deletes: image in `before`, after = null; upserts: image in `after`
    envelope = F.struct(
        F.when(F.col("op") == OP_INSERT, "c")
        .when(F.col("op") == OP_UPDATE, "u")
        .otherwise("d")
        .alias("op"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.when(is_del, image).alias("before"),
        F.when(~is_del, image).alias("after"),
        F.struct(
            F.col("lsn"),
            F.col("cluster_id"),
            F.col("location_group"),
        ).alias("source"),
    )
    return changes.select(
        F.to_json(F.struct(F.col("conv_id"), F.col("turn_idx"))).alias("key"),
        F.to_json(envelope).alias("value"),
    )


def parse_envelopes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Stamped parse: canonical change columns + :data:`REASON_COLUMN`
    (NULL = clean) + ``_raw`` (the original wire string, for the DLQ).

    Pure column expressions — safe on batch and streaming inputs.
    """
    e = F.from_json(
        F.col(value_col),
        ENVELOPE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    img = F.coalesce(e["after"], e["before"])
    op = (
        F.when(e["op"].isin("c", "r"), OP_INSERT)
        .when(e["op"] == "u", OP_UPDATE)
        .when(e["op"] == "d", OP_DELETE)
    )
    reason = (
        F.when(e.isNull() | e["_corrupt_record"].isNotNull(), "not_json")
        .when(op.isNull(), "bad_op")
        .when(e["source"]["lsn"].isNull(), "no_lsn")
        .when(img.isNull(), "no_row_image")
    )
    # payload from `after` only: deletes are NULL-payload tombstones
    text = F.when(op != OP_DELETE, e["after"]["text"])
    return raw.select(
        F.col(value_col).alias("_raw"),
        reason.alias(REASON_COLUMN),
        e["source"]["lsn"].alias("lsn"),
        op.alias("op"),
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        F.when(op != OP_DELETE, e["after"]["role"]).alias("role"),
        text.alias("text"),
        F.when(op != OP_DELETE, e["after"]["tool"]).alias("tool"),
        F.timestamp_micros(e["ts_us"]).alias("ts"),
        (F.coalesce(F.length(text), F.lit(0)) + _OVERHEAD_BYTES)
        .cast("int")
        .alias("event_size"),
        e["source"]["cluster_id"].alias("cluster_id"),
        e["source"]["location_group"].alias("location_group"),
    )


def split_envelopes(
    raw: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """(canonical changes, dead letters) off ONE stamped plan.

    The clean side has exactly the ``CHANGES_SCHEMA`` columns and feeds
    straight into the merge/apply path (row-level validation —
    :func:`aqueduct_core_spark.operators.validate.split_quarantine` —
    composes downstream).  The dead-letter side is ``(raw, reason)``:
    the untouched wire string plus the first envelope violation.
    """
    stamped = parse_envelopes(raw, value_col)
    ok = stamped.where(F.col(REASON_COLUMN).isNull()).drop(
        "_raw", REASON_COLUMN
    )
    bad = stamped.where(F.col(REASON_COLUMN).isNotNull()).select(
        F.col("_raw").alias("raw"), F.col(REASON_COLUMN).alias("reason")
    )
    return ok, bad

