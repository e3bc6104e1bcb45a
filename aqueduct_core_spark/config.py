"""Engine configuration.

The knobs mirror the reference's operating envelope
(``/root/reference/pipe-http-server-cloud/src/main/resources/application-prod.yml:36-47``:
read limit 500 rows / 1 MB byte budget per poll, hourly compaction,
30-day tombstone retention) re-expressed for a Spark lake engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    """Tunable knobs for the CDC apply pipeline.

    There is one apply path — merge-on-read fast-append with a
    scheduled fold (:mod:`aqueduct_core_spark.operators.merge`) — so no
    knob selects an algorithm.  At 100 TB / 10^10-event scale you would
    raise ``num_buckets`` to O(4096) and ``max_events_per_trigger`` to
    O(10^8); the defaults are sized for local[8..32] testing.  Every
    knob is a *declarative* input to a DataFrame plan — none of them
    change operator semantics.
    """

    # --- table layout -------------------------------------------------
    #: number of hash buckets on conv_id for the transcripts table
    #: (analog of Iceberg ``PARTITIONED BY (bucket(N, conv_id))``).
    #: Co-locates all turns of a conversation; an epoch writes deltas
    #: only for the buckets present in its batch.
    num_buckets: int = 32

    # --- merge-on-read apply -------------------------------------------
    # every epoch resolves its batch and appends delta files only
    # (epoch cost ∝ batch, not table); reads resolve base ∪ deltas.
    # This is the reference's own design (append + scheduled
    # compaction) and the only shape that survives 10^10 events —
    # copy-on-write rewrites the table every batch.
    #: fold deltas into the base after this many MOR epochs (0 = never)
    mor_fold_every: int = 8

    # --- batch sizing (reference: limit=500 rows / maxBatchSize=1e6 B,
    # application-prod.yml:42-43; windowed running-size cut
    # PostgresqlStorage.java:437-447) ----------------------------------
    max_events_per_trigger: int = 100_000
    max_bytes_per_trigger: int = 64 * 1024 * 1024
    #: per-message fixed overhead added to the byte budget, reference
    #: MAX_OVERHEAD_SIZE — pipe-api/.../Message.java:27-31
    message_overhead_bytes: int = 89

    # --- compaction / retention (reference: hourly cron, 30 d deletion
    # retention — application-prod.yml:36-40) --------------------------
    tombstone_retention_hours: int = 30 * 24
    #: target file size for compaction rewrites
    target_file_size_bytes: int = 128 * 1024 * 1024

    # --- exactly-once -------------------------------------------------
    #: property keys stamped into each commit's snapshot summary
    #: (replaces the reference's OFFSET register rows —
    #: pipe-storage-sqlite/.../SQLiteQueries.java:31-36)
    prop_epoch: str = "aqueduct.epoch"
    prop_max_lsn: str = "aqueduct.max-lsn"

    # --- spark session ------------------------------------------------
    shuffle_partitions: int = 32
    extra_spark_conf: dict = field(default_factory=dict)
