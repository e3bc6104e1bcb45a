"""Engine configuration.

The knobs mirror the reference's operating envelope
(``/root/reference/pipe-http-server-cloud/src/main/resources/application-prod.yml:36-47``:
read limit 500 rows / 1 MB byte budget per poll, hourly compaction)
re-expressed for a Spark lake engine.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    """Tunable knobs for the CDC apply pipeline — four fields.

    There is one apply path — merge-on-read fast-append with a
    scheduled fold (:mod:`aqueduct_core_spark.operators.merge`) — and
    one epoch loop (:mod:`aqueduct_core_spark.streaming.pipeline`), so
    no knob selects an algorithm.  At 100 TB / 10^10-event scale you
    would raise ``max_events_per_trigger`` to O(10^8); the defaults are
    sized for local[8..32] testing.  Every knob is a *declarative* input
    to a DataFrame plan — none of them change operator semantics.
    """

    #: read by nothing: a table's bucket count is fixed at
    #: ``ParquetTranscriptTable.create(num_buckets=...)`` and owned by
    #: its manifest (``rebucket`` changes it).  Kept because callers,
    #: the benchmark harness among them, pass it.
    num_buckets: int = 32

    #: fold merge-on-read deltas into the base after this many epochs
    #: (0 = never).  Every epoch appends delta files only (epoch cost ∝
    #: batch, not table) — the reference's own design (append +
    #: scheduled compaction, ``CompactionTask.java:40-47``).
    mor_fold_every: int = 8

    # --- trigger budgets (reference: limit=500 rows / maxBatchSize=1e6 B,
    # application-prod.yml:42-43; windowed running-size cut
    # PostgresqlStorage.java:437-447) ----------------------------------
    max_events_per_trigger: int = 100_000
    max_bytes_per_trigger: int = 64 * 1024 * 1024
