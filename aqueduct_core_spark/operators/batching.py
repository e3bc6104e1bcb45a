"""Batch sizing: row limits + byte budgets.

The reference cuts each poll page by BOTH a row limit and a running
byte budget computed with a cumulative-sum window:
``SUM(event_size) OVER (ORDER BY msg_offset) <= maxBatchSize``
(``/root/reference/pipe-storage-postgresql/.../PostgresqlStorage.java:437-447``,
size tests ``PostgresqlStorageIntegrationSpec.groovy:183-223``), with a
per-message overhead allowance (``Message.java:27-31`` MAX_OVERHEAD_SIZE).

Two formulations:

- :func:`cut_page_by_bytes` — the literal window formulation.  A global
  ``ORDER BY lsn`` cumulative sum is a single-partition sort, which is
  exactly what you want for a ≤500-row poll page and exactly wrong for
  trigger planning at 10^10 events.
- :func:`plan_triggers` — the scale path: aggregate per fixed lsn-block
  (parallel, one pass, no global sort), running-sum the tiny block
  stats driver-side, and emit lsn-range trigger boundaries honoring
  both ``max_events_per_trigger`` and ``max_bytes_per_trigger`` at
  block granularity.  This is the engine's ``maxBytesPerTrigger``
  analog for batch-mode replay.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def cut_page_by_bytes(
    page: DataFrame, max_batch_size: int, overhead_per_msg: int = 89
) -> DataFrame:
    """W1: keep the longest lsn-prefix whose cumulative serialized size
    (plus per-message overhead) fits the byte budget — but ALWAYS at
    least the first row.  A single event larger than the whole budget
    must still be delivered as its own page (the reference behaves the
    same, and ``plan_triggers`` documents the identical rule): an empty
    page would never advance a polling consumer's cursor, livelocking
    it on the oversized event forever."""
    w = Window.orderBy("lsn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(F.col("event_size") + F.lit(overhead_per_msg)).over(w)
    rn = F.row_number().over(Window.orderBy("lsn"))
    return (
        page.withColumn("_running_size", running)
        .withColumn("_rn", rn)
        .where((F.col("_running_size") <= max_batch_size) | (F.col("_rn") == 1))
        .drop("_running_size", "_rn")
    )


@dataclass
class TriggerRange:
    start_lsn: int
    end_lsn: int  # inclusive
    events: int
    bytes: int


#: driver-side block-stats budget: the greedy packer collects one row
#: per occupied block, so the collect is bounded by this regardless of
#: how many LSNs the log spans
TARGET_BLOCKS = 1 << 16


def choose_block_bits(lo: int, hi: int, min_bits: int = 14,
                      target_blocks: int = TARGET_BLOCKS) -> int:
    """Smallest shift ≥ ``min_bits`` for which the lsn span [lo, hi]
    covers at most ``target_blocks`` blocks.  Pure function, O(1):
    keeps the driver-side collect bounded at any log scale (10^10 LSNs
    → ~2^16 block rows, not 10^8)."""
    span = max(1, hi - lo + 1)
    bits = min_bits
    while (span >> bits) > target_blocks:
        bits += 1
    return bits


def _pack(blocks, max_events: int, max_bytes: int) -> list[TriggerRange]:
    """Greedily pack lsn-ordered ``(lo, hi, events, bytes)`` blocks into
    trigger ranges honoring both budgets.  A block is the atomic unit:
    one larger than a budget still becomes its own trigger."""
    out: list[TriggerRange] = []
    for lo, hi, n, b in blocks:
        cur = out[-1] if out else None
        if cur is None or cur.events + n > max_events or cur.bytes + b > max_bytes:
            out.append(TriggerRange(lo, hi, n, b))
        else:
            cur.end_lsn, cur.events, cur.bytes = hi, cur.events + n, cur.bytes + b
    return out


def plan_triggers_from_files(
    file_index: list[tuple],
    max_events: int,
    max_bytes: int,
    start_lsn: int | None = None,
    end_lsn: int | None = None,
) -> list[TriggerRange] | None:
    """Manifest-based trigger planning: cut micro-batches from parquet
    footer statistics alone — ZERO Spark jobs.

    ``file_index`` rows are ``(path, min_lsn, max_lsn, rows, bytes)``
    (``streaming.pipeline._lsn_file_index``).  Files must be pairwise
    lsn-disjoint (the log's natural layout: an ordered stream written
    in lsn order); returns None when they overlap — caller falls back
    to the scan-based planner.  Epochs align to file boundaries, so
    each epoch's read is exactly its files (no partial-file scan
    waste), and the row/byte budgets act on footer-exact row counts
    and footer byte sizes (storage bytes, a proxy for the serialized
    event_size budget — admission control, not accounting).

    This is how a lake table plans streaming admission at 100 TB: from
    the manifest, never a data scan (Iceberg/Delta file-source
    ``maxFilesPerTrigger`` semantics, made lsn-range-exact here).
    """
    files = []
    for f in file_index:
        if len(f) < 5:
            return None  # stats-less index: cannot budget
        _, lo, hi, rows, nbytes = f[0], int(f[1]), int(f[2]), f[3], f[4]
        if rows is None or nbytes is None:
            return None
        if end_lsn is not None and lo > end_lsn:
            continue
        if start_lsn is not None and hi < start_lsn:
            continue
        # clip to the window (keeps the order and disjointness of the
        # kept files: both ends move monotonically)
        lo = lo if start_lsn is None else max(lo, start_lsn)
        hi = hi if end_lsn is None else min(hi, end_lsn)
        files.append((lo, hi, int(rows), int(nbytes)))
    files.sort()
    for (_, hi_a, _, _), (lo_b, _, _, _) in zip(files, files[1:]):
        if lo_b <= hi_a:
            return None  # overlapping lsn ranges: footer budgeting invalid
    return _pack(files, max_events, max_bytes)


def plan_triggers(
    changes: DataFrame,
    max_events: int,
    max_bytes: int,
    block_bits: int | None = None,
    overhead_per_msg: int = 89,
    lsn_bounds: tuple[int, int] | None = None,
) -> list[TriggerRange]:
    """Cut the log into lsn-range micro-batches.

    One distributed agg computes (events, bytes, min/max lsn) per
    ``lsn >> block_bits`` block; the driver then greedily packs blocks
    into ranges.  ``block_bits`` defaults to
    :func:`choose_block_bits` over the log's lsn bounds (one
    metadata-only aggregate under parquet aggregate pushdown), so the
    collected block stats stay ≤ :data:`TARGET_BLOCKS` rows no matter
    how sparse or wide the lsn space is — at 10^10 LSNs a fixed
    14-bit block would pull O(10^6–10^8) rows into the driver.
    Callers that already know the lsn bounds (snapshot summaries, file
    footers, the resume watermark) pass ``lsn_bounds=(lo, hi)`` and
    skip that job entirely.  A single block larger than both budgets
    still becomes its own trigger (a block is the atomic unit).
    """
    if block_bits is None:
        if lsn_bounds is None:
            b = changes.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
            if b["lo"] is None:
                return []
            lsn_bounds = (int(b["lo"]), int(b["hi"]))
        block_bits = choose_block_bits(int(lsn_bounds[0]), int(lsn_bounds[1]))
    stats = (
        changes.groupBy(F.shiftright(F.col("lsn"), block_bits).alias("_blk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("event_size"), F.lit(0)) + F.lit(overhead_per_msg)).alias("b"),
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
        )
        .orderBy("_blk")
        .collect()
    )
    return _pack(
        ((int(r["lo"]), int(r["hi"]), int(r["n"]), int(r["b"])) for r in stats),
        max_events, max_bytes,
    )
