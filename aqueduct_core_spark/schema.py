"""Engine schemas.

Data model per SURVEY.md §1.3 / FIXTURES.md:

- ``changes``    — the append-only ordered change-event log (analog of
  the reference EVENTS table, DDL
  ``/root/reference/pipe-storage-postgresql/src/integration/.../PostgresqlStorageIntegrationSpec.groovy:63-74``).
- ``transcripts`` — the merged current state (analog of the SQLite
  replica EVENT table, ``pipe-storage-sqlite/.../SQLiteQueries.java:20-29``),
  shaped exactly like BASELINE.json ``input_hint``.
- ``_offsets``    — exactly-once bookkeeping (analog of the OFFSET
  name→value registers, ``SQLiteQueries.java:31-36`` +
  ``pipe-api/.../OffsetName.java:4``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Ops carried by a change event.  The reference encodes deletes as
# ``data IS NULL`` tombstones (SQLiteQueries.java:54-55,
# PostgresqlStorage.java:486); we make the op explicit.
OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

#: payload columns of a transcript turn (BASELINE.json input_hint)
PAYLOAD_COLUMNS = ["role", "text", "tool", "ts"]
#: logical primary key — the LWW identity, analog of the reference's
#: (msg_key, type) pair (SQLiteQueries.java:52)
KEY_COLUMNS = ["conv_id", "turn_idx"]

#: the additive schema-evolution column: absent in epoch-0 change files,
#: appears mid-stream (FIXTURES.md §2)
EVOLUTION_COLUMN = "tool"

CHANGES_SCHEMA = T.StructType(
    [
        # source LSN / msg_offset BIGSERIAL — the global total order
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),
        T.StructField("conv_id", T.StringType(), nullable=False),
        # null only for conversation-level events (hierarchical parent ops)
        T.StructField("turn_idx", T.IntegerType(), nullable=True),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=True),
        # serialized size — drives byte-budget batching
        # (reference computes JSON length, SQLiteStorage.java:554)
        T.StructField("event_size", T.IntegerType(), nullable=True),
        # routing partition id (reference cluster_id,
        # PostgresqlStorageIntegrationSpec.groovy:71)
        T.StructField("cluster_id", T.LongType(), nullable=True),
        # group-targeted routing (reference location_group,
        # PostgresqlStorageIntegrationSpec.groovy:72; NULL = broadcast
        # to every group — PostgresqlStorage.java:469-473)
        T.StructField("location_group", T.LongType(), nullable=True),
    ]
)

#: epoch-0 variant of the log (before the ``tool`` column existed)
CHANGES_SCHEMA_EPOCH0 = T.StructType(
    [f for f in CHANGES_SCHEMA.fields if f.name != EVOLUTION_COLUMN]
)

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=True),
    ]
)

#: internal column carrying the winning event's lsn; needed for
#: cross-batch LWW comparison and idempotent replays.  Excluded from
#: public reads.
LSN_COLUMN = "_lsn"

#: fixed per-event wire overhead in bytes (reference Message.java:27-31
#: MAX_OVERHEAD_SIZE) — the non-payload share of event_size.  Single
#: definition: generator/CDC ingest, envelope ingest, and the
#: serialized-size function must agree or byte-budget batching skews.
WIRE_OVERHEAD_BYTES = 89

TRANSCRIPTS_INTERNAL_SCHEMA = T.StructType(
    list(TRANSCRIPTS_SCHEMA.fields) + [T.StructField(LSN_COLUMN, T.LongType(), False)]
)

OFFSETS_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), nullable=False),
        T.StructField("last_lsn", T.LongType(), nullable=False),
        T.StructField("applied", T.LongType(), nullable=False),
        # events deliberately not applied; 0 for a duplicate-epoch
        # replay (the batch is not scanned to count it — the condition
        # rides in ``state`` = SKIPPED_DUPLICATE_EPOCH)
        T.StructField("skipped", T.LongType(), nullable=False),
        # JSON: {"scope": "batch",
        #  "buckets": {bucket: {keys, min_lsn, max_lsn}}}
        # — the buckets the batch touched.  Tables written by the
        # retired copy-on-write apply also hold "table"-scope rows
        # (the full rewritten layout).
        T.StructField("partition_lineage", T.StringType(), nullable=True),
        T.StructField("committed_at", T.TimestampType(), nullable=True),
        # UP_TO_DATE / OUT_OF_DATE / UNKNOWN
        # (reference pipe-api/.../PipeState.java:3-4)
        T.StructField("state", T.StringType(), nullable=True),
    ]
)

PIPE_UP_TO_DATE = "UP_TO_DATE"
PIPE_OUT_OF_DATE = "OUT_OF_DATE"
PIPE_UNKNOWN = "UNKNOWN"


def sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier, for statements run as
    ``df.sparkSession.sql(text, df=df)``: backticks double inside the
    quotes, and braces double because that call ``str.format``\\s the
    text to substitute its DataFrame arguments."""
    q = "`" + name.replace("`", "``") + "`"
    return q.replace("{", "{{").replace("}", "}}")
