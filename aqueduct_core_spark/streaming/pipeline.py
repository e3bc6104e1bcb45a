"""The apply loop: tail the change log, MERGE each micro-batch.

Spark re-expression of the reference's store-node sync loop
(``HttpPipeClient.read`` → ``SQLiteStorage.write(PipeEntity)`` —
``/root/reference/pipe-http-client/.../HttpPipeClient.java:36-63``,
``pipe-storage-sqlite/.../SQLiteStorage.java:199-241``):

- **Structured Streaming path** (:func:`start_stream` /
  :func:`run_available_now`): ``readStream`` file source over the log
  directory → ``foreachBatch(apply)``.  The checkpoint gives monotone
  batch ids; re-delivered batches after a crash hit the snapshot
  epoch-stamp guard and skip idempotently (T5/T6).  Trigger pacing
  (``processingTime`` / ``availableNow``) replaces the reference's
  Retry-After long-poll pacing (``PostgresqlStorage.java:203-225``).
- **Batch replay path** (:func:`replay`): plan lsn-range triggers with
  the byte/row budgets (W1 analog) and apply them in order.  Used for
  bootstrap (full replay from lsn 0 — reference BootstrapType.java:3-10)
  and benchmarking.
- **Recovery**: :func:`resume_lsn` reads the last committed lsn from
  the table's snapshot summary — restart replays from there
  (reference LOCAL_LATEST_OFFSET register, OffsetName.java:4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.operators.batching import plan_triggers
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.schema import CHANGES_SCHEMA


#: replay epochs in flight at once.  An epoch's delta WRITE reads
#: nothing from the table — only its COMMIT must be ordered — so epoch
#: N+1's plan/scan/aggregate/write runs while epoch N finishes, hiding
#: the per-epoch serial driver work (Catalyst planning + job
#: submission, ~0.3-0.7 s/epoch measured) and letting N+1's tasks fill
#: N's straggler-tail cores (FIFO scheduling keeps N's tasks at
#: priority).  Commits are awaited strictly in epoch order on the
#: driver thread, so exactly-once bookkeeping and fold cadence are
#: unchanged.
PIPELINE_DEPTH = 2


class IncompleteBootstrap(RuntimeError):
    """The table is mid-way through a chunked snapshot bootstrap
    (:func:`bootstrap_chunked`): its lsn watermark only covers the
    chunks committed so far, so tailing the log from it would skip
    events for every conversation in the chunks not yet applied.
    Finish (or restart) the bootstrap before tailing."""


def resume_lsn(table: ParquetTranscriptTable) -> int:
    """Start-inclusive resume: next read begins at last_lsn + 1
    (offset-inclusive semantics proven by StorageSpec.groovy:107-123).
    Fails loud while a chunked bootstrap is incomplete — the watermark
    is not yet authoritative for the whole key space."""
    if bootstrap_incomplete(table):
        s = table.catalog.current()["summary"]
        raise IncompleteBootstrap(
            f"chunked bootstrap incomplete: next chunk "
            f"{s.get(_BOOT_NEXT_KEY)} of {s.get(_BOOT_CHUNKS_KEY)} — "
            "run bootstrap_chunked(...) to completion before tailing"
        )
    return table.last_committed_lsn() + 1


def _lsn_file_index(changes: DataFrame) -> list[tuple[str, int, int, int | None, int | None]] | None:
    """Driver-side ``(path, min_lsn, max_lsn, rows, bytes)`` per input
    file, from parquet footer statistics — the manifest a lake table
    would hand us for free.  ``rows``/``bytes`` (footer-exact row count
    and compressed on-disk byte size) feed manifest-based trigger planning
    (:func:`aqueduct_core_spark.operators.batching.plan_triggers_from_files`);
    they are None when the footer lacks lsn stats (pruning disabled for
    that file, budgeting disabled for the index).

    Only valid when the DataFrame is a *bare* file scan (a leaf
    LogicalRelation): any transformation on top could change the row
    set, so reading the raw files would silently bypass it.  Returns
    None (caller falls back to filtering the DataFrame itself) when the
    plan is not a leaf scan or footers are unreadable.  Cost: one footer
    read per file, once per replay — at 10^10 events the file list comes
    from table manifests, not a directory walk.
    """
    try:
        if not changes._jdf.queryExecution().logical().children().isEmpty():
            return None
        files = changes.inputFiles()
        if not files:
            return None
        import pyarrow.parquet as pq

        out = []
        for uri in files:
            path = uri[len("file:"):] if uri.startswith("file:") else uri
            md = pq.ParquetFile(path).metadata
            lo = hi = None
            nbytes = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for i in range(md.num_columns):
                    c = rg.column(i)
                    # COMPRESSED chunk size: the byte-budget semantics
                    # are storage/wire bytes (batching.py) — row-group
                    # total_byte_size is the UNcompressed size and would
                    # cut triggers 3-5× too small on zstd/snappy logs
                    nbytes += c.total_compressed_size
                    if c.path_in_schema == "lsn" and c.statistics is not None \
                            and c.statistics.has_min_max:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is None:
                # no stats: the file can never be pruned nor budgeted
                out.append((path, -(1 << 62), 1 << 62, None, None))
            else:
                out.append((path, int(lo), int(hi), int(md.num_rows), int(nbytes)))
        return out
    except Exception:
        return None


def replay(
    table: ParquetTranscriptTable,
    changes: DataFrame,
    cfg: EngineConfig | None = None,
    start_epoch: int | None = None,
    start_lsn: int | None = None,
    end_lsn: int | None = None,
    lsn_bounds: tuple[int, int] | None = None,
    source_id: int | str | None = None,
) -> list[dict]:
    """Batch-mode ordered replay honoring row+byte trigger budgets.

    Each micro-batch reads only its lsn slice of the log through a
    literal ``lsn`` range predicate, which pushes into the parquet scan
    (row-group skipping).  Trigger ranges are planned from the
    driver-side footer index when the log is a bare scan.
    ``start_lsn``/``end_lsn`` bound the replay window (inclusive; pass
    the *bare* log plus these bounds rather than a pre-filtered
    DataFrame so manifest planning stays available).
    ``lsn_bounds``: the pending log's (min, max) lsn when the caller
    already knows it (source snapshot metadata / resume watermark) —
    skips the planner's bounds job.  ``source_id``: multi-log mode —
    each epoch's commit additionally stamps
    ``aqueduct.max-lsn-src-<id>`` so this source resumes from its OWN
    lsn sequence (:func:`resume_lsn_for_source`); the caller passes
    ``start_lsn=resume_lsn_for_source(...)``.
    """
    cfg = cfg or EngineConfig()
    start_lsn = resume_lsn(table) if start_lsn is None else start_lsn
    epoch = table.last_committed_epoch() + 1 if start_epoch is None else start_epoch

    # footer index over the caller's (unfiltered) scan, BEFORE the
    # window filters are applied — they would make the plan non-leaf.
    # It powers zero-job manifest trigger planning; each epoch's scan
    # is pruned by its literal lsn predicate (parquet pushdown).
    file_index = _lsn_file_index(changes)

    pending = changes.where(F.col("lsn") >= start_lsn)
    if end_lsn is not None:
        pending = pending.where(F.col("lsn") <= end_lsn)

    ranges = None
    if file_index is not None:
        # manifest-based planning: trigger ranges from footer stats
        # alone — no Spark job, file-aligned epochs (None on overlap
        # or missing stats → scan-based fallback below)
        from aqueduct_core_spark.operators.batching import plan_triggers_from_files

        ranges = plan_triggers_from_files(
            file_index,
            max_events=cfg.max_events_per_trigger,
            max_bytes=cfg.max_bytes_per_trigger,
            start_lsn=start_lsn,
            end_lsn=end_lsn,
        )
    if ranges is None:
        ranges = plan_triggers(
            pending,
            max_events=cfg.max_events_per_trigger,
            max_bytes=cfg.max_bytes_per_trigger,
            overhead_per_msg=cfg.message_overhead_bytes,
            lsn_bounds=lsn_bounds,
        )
    def _batch_for(r):
        return pending.where(
            (F.col("lsn") >= r.start_lsn) & (F.col("lsn") <= r.end_lsn)
        )

    import time as _time

    def _extra(r):
        if source_id is None:
            return None
        return {f"aqueduct.max-lsn-src-{source_id}": int(r.end_lsn)}

    metrics = []
    if len(ranges) > 1:
        # Pipelined replay: phase A (plan + scan + argmax + delta
        # write — reads nothing from table state) runs up to
        # PIPELINE_DEPTH epochs ahead on pool threads; phase B (footer
        # bookkeeping + the atomic commit) stays on this thread,
        # strictly in epoch order.  Hides per-epoch driver latency and
        # lets the next epoch's tasks fill the current epoch's
        # straggler tail (FIFO scheduling keeps the older job's tasks
        # at priority).
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        from aqueduct_core_spark.operators.merge import mor_prepare

        pool = ThreadPoolExecutor(max_workers=PIPELINE_DEPTH)
        futs: deque = deque()
        try:
            def _commit_oldest():
                r, ep, fut = futs.popleft()
                prew = fut.result()
                t0 = _time.time()
                m = apply_batch(
                    table, None, epoch=ep, cfg=cfg,
                    batch_max_lsn=r.end_lsn, prewritten=prew,
                    extra_summary=_extra(r),
                )
                m["epoch_sec"] = round(_time.time() - t0 + prew["write_sec"], 3)
                m["write_sec"] = prew["write_sec"]
                m["pipelined"] = True
                metrics.append(m)

            for r in ranges:
                while len(futs) >= PIPELINE_DEPTH:
                    _commit_oldest()
                batch = _batch_for(r)
                futs.append(
                    (r, epoch, pool.submit(mor_prepare, table, batch, epoch, cfg))
                )
                epoch += 1
            while futs:
                _commit_oldest()
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        return metrics

    for r in ranges:
        batch = _batch_for(r)
        # trigger planning already knows the batch's max lsn — no
        # per-epoch max() job needed
        t0 = _time.time()
        m = apply_batch(table, batch, epoch=epoch, cfg=cfg, batch_max_lsn=r.end_lsn,
                        extra_summary=_extra(r))
        m["epoch_sec"] = round(_time.time() - t0, 3)
        metrics.append(m)
        epoch += 1
    return metrics


def resume_lsn_for_source(table: ParquetTranscriptTable, source_id: int | str) -> int:
    """Per-source resume watermark (multi-log ingestion): the next read
    of this source's log begins here.  -1 + 1 = 0 before the source's
    first commit."""
    key = f"aqueduct.max-lsn-src-{source_id}"
    return int(table.catalog.current()["summary"].get(key, -1)) + 1


def replay_multi_source(
    table: ParquetTranscriptTable,
    logs: dict,
    cfg: EngineConfig | None = None,
) -> dict:
    """Ingest SEVERAL independent ordered change logs into one table —
    the multi-upstream topology (one table fed by many source clusters,
    each with its own LSN sequence; the reference's cluster routing is
    the single-pipe projection of this).

    Soundness requires the sources to own DISJOINT conversation key
    spaces (each conversation is written by exactly one source — the
    invariant cluster routing already provides): LWW-by-lsn then only
    ever compares lsns from one source per key, so the sequences never
    need aligning.  Each source resumes from its OWN committed
    watermark (``aqueduct.max-lsn-src-<id>``, stamped atomically with
    every epoch commit); epochs stay one global monotone sequence
    across all sources, so the exactly-once replay guard is unchanged.
    A crash mid-ingest resumes every source exactly where its last
    committed epoch left it — sources already drained skip entirely.

    Ingest order across sources is irrelevant to the final state
    (disjoint keys); sources are drained in sorted-id order for
    determinism.  Returns per-source metrics lists.
    """
    cfg = cfg or EngineConfig()
    out = {}
    for sid in sorted(logs):
        start = resume_lsn_for_source(table, sid)
        out[sid] = replay(
            table, logs[sid], cfg, start_lsn=start, source_id=sid
        )
    return out


def replay_demux(
    tables: dict,
    changes: DataFrame,
    routes: dict,
    cfg: EngineConfig | None = None,
) -> dict:
    """Fan one central ordered log out to MANY routed replica tables —
    the reference's central-pipe → store-node distribution topology
    (each store receives the subset its location routing selects;
    ``PipeReadFilter`` / location-group routing,
    ``/root/reference/pipe-api/.../PipeReadFilter.java``), run as ONE
    replay loop instead of N independent tail loops.

    ``routes`` maps each table key to a predicate over the changes
    (a Column or a SQL expression string).  Soundness requires each
    predicate to be **conversation-consistent** — all events of a
    conversation (its turn events AND its conversation-level
    tombstones) either all match or none, the invariant cluster/
    location routing provides (``cluster_id`` is per-conversation) —
    otherwise a route could see a turn without the tombstone that
    kills it.  Routes may overlap (a conversation replicated to
    several stores) and need not cover the log.

    Plan + scale shape: trigger ranges are planned ONCE from the bare
    log's footer index (no Spark job), epochs are GLOBAL (epoch *i* =
    the i-th trigger slice from lsn 0; footer-index planning is
    prefix-stable for an append-only log, and resume correctness never
    depends on it — slices are skipped by each table's committed LSN
    watermark, which survives any renumbering), and an epoch's slice is
    persisted whenever more than one route applies it (bounded by the
    trigger's byte budget) so N route applies read the scan once
    instead of N times.  Exactly-once is PER TABLE: every table commits
    its own epoch stamp + lsn watermark atomically, so a crash between
    route applies leaves some tables one epoch ahead — on rerun the
    committed ones skip idempotently (the ``epoch <= last`` guard) and
    the rest catch up; no cross-table transaction is needed, exactly
    like N independent store nodes tailing one pipe.  Each commit
    stamps the SLICE's max lsn (not the route subset's), so a route
    that saw nothing in an lsn range still resumes past it.

    Returns ``{table_key: [per-epoch metrics, ...]}``.
    """
    cfg = cfg or EngineConfig()
    if set(tables) != set(routes):
        raise ValueError(
            f"tables/routes key mismatch: {sorted(set(tables) ^ set(routes))}"
        )
    preds = {
        k: (F.expr(p) if isinstance(p, str) else p) for k, p in routes.items()
    }

    file_index = _lsn_file_index(changes)
    ranges = None
    if file_index is not None:
        from aqueduct_core_spark.operators.batching import plan_triggers_from_files

        ranges = plan_triggers_from_files(
            file_index,
            max_events=cfg.max_events_per_trigger,
            max_bytes=cfg.max_bytes_per_trigger,
            start_lsn=0,
        )
    if ranges is None:
        ranges = plan_triggers(
            changes,
            max_events=cfg.max_events_per_trigger,
            max_bytes=cfg.max_bytes_per_trigger,
            overhead_per_msg=cfg.message_overhead_bytes,
        )

    metrics: dict = {k: [] for k in tables}
    for i, r in enumerate(ranges):
        # Skip by LSN WATERMARK, not epoch index: the watermark is
        # authoritative regardless of trigger numbering, so a resume
        # after the log grew stays correct even on the scan-based
        # planning fallback (whose boundaries aren't prefix-stable —
        # footer-index planning is).  A partially-covered range re-reads
        # events at-or-below the watermark, which LWW makes a no-op;
        # skipping unseen events is the failure this guards against.
        todo = sorted(
            k for k in tables if tables[k].last_committed_lsn() < r.end_lsn
        )
        if not todo:
            continue
        batch = changes.where(
            (F.col("lsn") >= r.start_lsn) & (F.col("lsn") <= r.end_lsn)
        )
        cached = len(todo) > 1
        if cached:
            batch = batch.persist()
        try:
            for k in todo:
                # epoch must exceed the table's committed stamp for the
                # exactly-once guard; equals the global index i except
                # after a numbering shift, where it keeps advancing
                m = apply_batch(
                    tables[k],
                    batch.where(preds[k]),
                    epoch=max(i, tables[k].last_committed_epoch() + 1),
                    cfg=cfg,
                    batch_max_lsn=r.end_lsn,
                )
                m["route"] = k
                metrics[k].append(m)
        finally:
            if cached:
                batch.unpersist()
    return metrics


def start_stream_demux(
    spark: SparkSession,
    tables: dict,
    changes_dir: str,
    checkpoint_dir: str,
    routes: dict,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
    available_now: bool = False,
):
    """Streaming twin of :func:`replay_demux`: ONE Structured Streaming
    tail of the log directory whose ``foreachBatch`` fans each
    micro-batch out to N routed replica tables.

    The checkpoint supplies the global monotone epoch sequence
    (``batch_id``); each table commits its own epoch stamp atomically,
    so exactly-once is per table: a crash between route applies leaves
    the checkpoint un-advanced, the batch is re-delivered with the same
    id, tables that committed it skip via the epoch guard and the rest
    apply it — the same recovery contract as :func:`start_stream`, N
    ways.  Same soundness requirement as the batch demux: route
    predicates must be conversation-consistent.  The batch is persisted
    whenever more than one route applies it (bounded by the trigger
    size) so N route applies don't rescan the source.  One checkpoint owns the epoch numbering
    for its table set — don't mix tables across checkpoints.
    """
    cfg = cfg or EngineConfig()
    if set(tables) != set(routes):
        raise ValueError(
            f"tables/routes key mismatch: {sorted(set(tables) ^ set(routes))}"
        )
    preds = {k: (F.expr(p) if isinstance(p, str) else p) for k, p in routes.items()}

    reader = spark.readStream.schema(CHANGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changes_dir)

    def fn(batch_df: DataFrame, batch_id: int):
        todo = sorted(k for k in tables if tables[k].last_committed_epoch() < batch_id)
        if not todo:
            return
        cached = len(todo) > 1
        b = batch_df.persist() if cached else batch_df
        try:
            # every route commits the BATCH's max lsn, not its own
            # subset's — a replica whose route saw nothing in this
            # trigger has still consumed the pipe through it (lag 0 in
            # fleet_status, and batch-replay resume skips the range)
            mx = b.agg(F.max("lsn")).collect()[0][0]
            hint = int(mx) if mx is not None else None
            for k in todo:
                apply_batch(
                    tables[k],
                    b.where(preds[k]),
                    epoch=batch_id,
                    cfg=cfg,
                    batch_max_lsn=hint,
                )
        finally:
            if cached:
                b.unpersist()

    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_available_now_demux(
    spark: SparkSession,
    tables: dict,
    changes_dir: str,
    checkpoint_dir: str,
    routes: dict,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int | None = None,
    timeout_s: int = 3600,
) -> None:
    """Drain the log once through the streaming demux, then stop."""
    q = start_stream_demux(
        spark,
        tables,
        changes_dir,
        checkpoint_dir,
        routes,
        cfg,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


class AuditFailed(RuntimeError):
    """A streaming epoch's write-audit-publish audits failed: the stage
    was abandoned and the query must STOP (failing the trigger keeps
    the source checkpoint from advancing past the batch — a restart
    re-delivers the same batch_id with the same data, so nothing is
    lost; swallowing the failure would silently drop the epoch)."""


def _foreach_batch_fn(
    table: ParquetTranscriptTable,
    cfg: EngineConfig,
    record_metrics: bool = False,
    rollup=None,
    audits: dict | None = None,
    maintainers: list | None = None,
    history=None,
    history_views: list | None = None,
):
    def fn(batch_df: DataFrame, batch_id: int):
        if audits:
            from aqueduct_core_spark.operators.merge import apply_audited

            m = apply_audited(table, batch_df, epoch=batch_id, audits=audits, cfg=cfg)
            # unpublished + named failures = a failed audit; an empty/
            # no-effect batch also returns published=False but with no
            # failures (nothing was staged) and must not kill the query
            if m.get("audit_failures"):
                raise AuditFailed(
                    f"epoch {batch_id} failed audits {m['audit_failures']}; "
                    "stage abandoned, checkpoint not advanced"
                )
        else:
            m = apply_batch(table, batch_df, epoch=batch_id, cfg=cfg)
        if rollup is not None:
            # continuous materialization: dirty-group refresh rides the
            # same driver turn as the commit; a replayed (skipped) epoch
            # leaves the table version unchanged, so refresh no-ops —
            # the rollup stays exactly-once for free
            m["rollup"] = rollup.refresh(table)
        # generic continuous maintenance: anything with .refresh(table)
        # (e.g. functions.dedup_index.DedupIndexMaintainer) rides the
        # same driver turn; skipped epochs no-op for the same reason
        for mt in maintainers or []:
            m[getattr(mt, "name", type(mt).__name__)] = mt.refresh(table)
        if history is not None:
            # continuous SCD2 audit history: unlike the state-derived
            # maintainers above it folds the RAW batch (intra-epoch
            # versions included); its own epoch guard skips re-delivered
            # batch ids, so it inherits exactly-once the same way.
            # REQUIRES an lsn-ordered source (the binlog/WAL-tail shape:
            # files arrive in offset order) — the LWW merge above is
            # order-insensitive, interval history is not, and an
            # out-of-order batch fails the query loudly (OutOfOrderBatch)
            # rather than corrupting intervals
            m["scd2_history"] = history.apply(batch_df, epoch=batch_id)
            # views derived from the history (e.g. functions.examples.
            # PreferencePairsView) refresh on the same driver turn; a
            # skipped/re-delivered epoch leaves the history's bucket
            # mapping unchanged, so the refresh no-ops — exactly-once
            # for free, same induction as the rollup above
            for hv in history_views or []:
                m[getattr(hv, "name", type(hv).__name__)] = hv.refresh(history)
        return m

    if record_metrics:
        from aqueduct_core_spark.streaming.monitor import BatchMetricsRecorder

        return BatchMetricsRecorder(table).wrap(fn)
    return fn


def dedup_redeliveries(stream: DataFrame, within: str) -> DataFrame:
    """Drop duplicate deliveries of the same change event (same lsn)
    within and across micro-batches, keeping dedup state only
    ``within`` of event time.

    At-least-once transports (Kafka, Debezium, the reference's HTTP
    long-poll re-reading after a timeout — HttpPipeClient.java:36-63)
    re-deliver events.  The merge is already idempotent against them
    (LWW by lsn + epoch stamps), so this stage is an *optimization*,
    not a correctness requirement: it stops duplicate rows from paying
    shuffle + merge cost downstream.  Implemented with Spark's own
    ``dropDuplicatesWithinWatermark`` — state for an lsn is evicted
    once the watermark passes its event time + ``within``, so state
    size is bounded by the re-delivery horizon, not the stream length.
    NULL-``ts`` rows (conversation-level tombstones) BYPASS the
    stateful dedup and pass straight through: coalescing them to the
    trigger wall-clock — the obvious move — would jump the stream
    watermark to ``now − within`` during a historical catch-up, after
    which every genuinely-old event is dropped as late (silent data
    loss, the opposite of an optimization).  The merge is idempotent
    against the rare re-delivered tombstone anyway, so passing them
    through costs only their merge work; the watermark is driven purely
    by real event times, safe for any log whose ``ts`` is monotone-ish
    with lsn (the engine's documented ordering contract)."""
    timed = (
        stream.where(F.col("ts").isNotNull())
        .withColumn("_evt", F.col("ts"))
        .withWatermark("_evt", within)
        .dropDuplicatesWithinWatermark(["lsn"])
        .drop("_evt")
    )
    return timed.unionByName(stream.where(F.col("ts").isNull()))


def start_stream(
    spark: SparkSession,
    table: ParquetTranscriptTable,
    changes_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
    available_now: bool = False,
    record_metrics: bool = False,
    dedup_within: str | None = None,
    rollup=None,
    audits: dict | None = None,
    maintainers: list | None = None,
    wire_format: str = "parquet",
    quarantine_dir: str | None = None,
    history=None,
    history_views: list | None = None,
):
    """Continuous tail of a change-log directory via Structured
    Streaming.  Backpressure via ``maxFilesPerTrigger`` (the
    row/byte-budget analog at file granularity).  ``record_metrics``
    appends per-batch telemetry (T9 health/lag monitoring) to
    ``<table root>/metrics/batches.jsonl``.  ``dedup_within`` (e.g.
    ``"10 minutes"``) inserts :func:`dedup_redeliveries` ahead of the
    merge.  ``rollup`` (a :class:`~aqueduct_core_spark.operators.rollup.
    ConvRollup`) keeps a downstream materialization continuously fresh:
    each committed epoch triggers an incremental dirty-group refresh.
    ``audits`` routes every epoch through write-audit-publish
    (:func:`aqueduct_core_spark.operators.merge.apply_audited`): readers
    never see an unaudited state, and a failing audit raises
    :class:`AuditFailed` to stop the query BEFORE the checkpoint
    advances (restart re-delivers the batch).

    ``wire_format``: ``"parquet"`` (columnar change files, default) or
    ``"json-envelope"`` — newline-delimited Debezium-style envelopes
    (:mod:`aqueduct_core_spark.sources.envelope`), the shape a Kafka /
    wal2json tail delivers.  Envelope-level dead letters (corrupt JSON,
    unknown op, missing lsn) are appended per-epoch to
    ``quarantine_dir`` with the raw wire bytes — at-least-once with
    ``(epoch, raw)`` dedup on read, same DLQ contract as row-level
    validation — while clean rows proceed to the exactly-once merge."""
    cfg = cfg or EngineConfig()
    if wire_format == "json-envelope":
        from aqueduct_core_spark.sources.envelope import (
            REASON_COLUMN,
            parse_envelopes,
        )

        reader = spark.readStream
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = parse_envelopes(reader.text(changes_dir))
        if dedup_within:
            # NULL-ts rows (dead letters, conv tombstones) bypass the
            # stateful dedup inside the helper (the quarantine reader
            # dedupes re-delivered dead letters on (epoch, raw) anyway)
            stream = dedup_redeliveries(stream, dedup_within)

        inner = _foreach_batch_fn(table, cfg, record_metrics, rollup=rollup,
                                  audits=audits, maintainers=maintainers,
                                  history=history,
                                  history_views=history_views)

        def fn(stamped: DataFrame, batch_id: int):
            ok = stamped.where(F.col(REASON_COLUMN).isNull()).drop(
                "_raw", REASON_COLUMN
            )
            if quarantine_dir is not None:
                bad = (
                    stamped.where(F.col(REASON_COLUMN).isNotNull())
                    .select(
                        F.col("_raw").alias("raw"),
                        F.col(REASON_COLUMN).alias("reason"),
                        F.lit(int(batch_id)).alias("epoch"),
                    )
                )
                if bad.limit(1).count():
                    bad.write.mode("append").parquet(quarantine_dir)
            return inner(ok, batch_id)

        batch_fn = fn
    elif wire_format == "parquet":
        reader = spark.readStream.schema(CHANGES_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(changes_dir)
        if dedup_within:
            stream = dedup_redeliveries(stream, dedup_within)
        batch_fn = _foreach_batch_fn(table, cfg, record_metrics, rollup=rollup,
                                     audits=audits, maintainers=maintainers,
                                     history=history,
                                     history_views=history_views)
    else:
        raise ValueError(f"unknown wire_format {wire_format!r}")

    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_available_now(
    spark: SparkSession,
    table: ParquetTranscriptTable,
    changes_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int | None = None,
    timeout_s: int = 3600,
    record_metrics: bool = False,
    dedup_within: str | None = None,
    rollup=None,
    audits: dict | None = None,
    maintainers: list | None = None,
    wire_format: str = "parquet",
    quarantine_dir: str | None = None,
    history=None,
    history_views: list | None = None,
) -> None:
    """Drain everything currently in the log, then stop (the
    bootstrap / catch-up mode; reference BootstrapType PIPE replay)."""
    q = start_stream(
        spark,
        table,
        changes_dir,
        checkpoint_dir,
        cfg,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
        record_metrics=record_metrics,
        dedup_within=dedup_within,
        rollup=rollup,
        audits=audits,
        maintainers=maintainers,
        wire_format=wire_format,
        quarantine_dir=quarantine_dir,
        history=history,
        history_views=history_views,
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


def tail_loop(
    spark: SparkSession,
    table: ParquetTranscriptTable,
    changes_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    iterations: int = 3,
    node_count: int = 1,
    pool_size: int = 1,
    floor_ms: int = 100,
    cap_ms: int | None = None,
    jitter_unit: float = 0.0,
    sleep_fn=None,
    max_files_per_trigger: int | None = None,
    record_metrics: bool = False,
) -> list[dict]:
    """Adaptive long-poll tail: the reference's client loop with the
    server's Retry-After pacing, closed end-to-end.

    Each iteration drains the log incrementally (``availableNow`` over
    the shared checkpoint — exactly-once preserved across drains),
    measures the drain's wall time, and derives the next poll delay
    with the reference formula (``retry_after_ms``:
    PostgresqlStorage.java:203-225 computes it from measured query
    time; HttpPipeClient.java:49-81 sleeps it).  A busy source → long
    drains → long back-off so ``node_count`` consumers fit the source's
    ``pool_size`` read capacity; an idle source → the floor.
    ``jitter_unit`` ∈ [-1, 1] is the deterministic per-consumer ±10%
    spread.  ``sleep_fn`` is injectable for tests (default
    ``time.sleep``).  Returns one pacing record per iteration.
    """
    import time as _time

    from aqueduct_core_spark.streaming.pacing import DEFAULT_CAP_MS, retry_after_ms

    cfg = cfg or EngineConfig()
    cap_ms = DEFAULT_CAP_MS if cap_ms is None else cap_ms
    sleep_fn = _time.sleep if sleep_fn is None else sleep_fn
    out: list[dict] = []
    for i in range(iterations):
        t0 = _time.time()
        run_available_now(
            spark,
            table,
            changes_dir,
            checkpoint_dir,
            cfg,
            max_files_per_trigger=max_files_per_trigger,
            record_metrics=record_metrics,
        )
        query_time_ms = (_time.time() - t0) * 1000.0
        wait_ms = retry_after_ms(
            query_time_ms,
            node_count=node_count,
            pool_size=pool_size,
            floor_ms=floor_ms,
            cap_ms=cap_ms,
            jitter_unit=jitter_unit,
        )
        out.append(
            {
                "iteration": i,
                "query_time_ms": round(query_time_ms, 1),
                "retry_after_ms": wait_ms,
                "last_lsn": table.last_committed_lsn(),
            }
        )
        if i < iterations - 1:
            sleep_fn(wait_ms / 1000.0)
    return out


def bootstrap(
    spark: SparkSession,
    root: str,
    num_buckets: int,
) -> ParquetTranscriptTable:
    """Full reset: drop state and start an empty table (reference
    deleteAll + VACUUM bootstrap — SQLiteStorage.java:428-449)."""
    import shutil, os

    if os.path.exists(root):
        shutil.rmtree(root)
    return ParquetTranscriptTable.create(spark, root, num_buckets=num_buckets)


def bootstrap_from_state(
    table: ParquetTranscriptTable,
    state: DataFrame,
    cfg: EngineConfig | None = None,
    as_of_lsn: int | None = None,
) -> dict:
    """Initial load from a consistent state snapshot, the first half of
    the classic CDC bootstrap (snapshot + overlapping log tail — the
    reference's PROVIDER bootstrap re-seeds a store from upstream state
    rather than replaying the pipe from offset 0, BootstrapType.java).

    ``state`` is transcript-shaped rows carrying their winning source
    ``lsn`` (the shape ``read_internal`` returns, with ``_lsn`` or
    ``lsn``).  Each row becomes an ``'I'`` change event at its original
    lsn and the whole snapshot applies as epoch 0; the exactly-once
    watermark lands at ``as_of_lsn`` (default: the snapshot's max row
    lsn), so :func:`resume_lsn` hands the subsequent tail its correct
    start.  The tail may OVERLAP the snapshot arbitrarily: LWW by lsn
    makes re-delivered rows idempotent, so "snapshot at X, tail from
    X - δ" converges to the same state as a full replay — no
    coordination between the snapshotter and the log reader needed.
    """
    cfg = cfg or EngineConfig()
    as_events = _state_as_events(state)
    if as_of_lsn is None:
        as_of_lsn = _state_max_lsn(as_events)
    from aqueduct_core_spark.operators.merge import apply_batch

    m = apply_batch(table, as_events, epoch=0, cfg=cfg, batch_max_lsn=as_of_lsn)
    m["bootstrap_as_of_lsn"] = int(as_of_lsn)
    return m


def _state_as_events(state: DataFrame) -> DataFrame:
    """State-snapshot rows (``read_internal`` shape, ``_lsn`` or ``lsn``)
    as ``'I'`` change events at their original lsn.  Columns the
    upstream table EVOLVED beyond the base change schema ride along —
    each row re-enters at its original lsn, so the subsequent log tail
    never re-delivers it: dropping an evolved column here would lose
    its data on the replica permanently and silently (``apply_batch``
    evolves the replica's schema from the extra columns, exactly as it
    does for a log batch that first carries them)."""
    from aqueduct_core_spark.schema import CHANGES_SCHEMA, LSN_COLUMN

    lsn_col = LSN_COLUMN if LSN_COLUMN in state.columns else "lsn"
    known = {f.name for f in CHANGES_SCHEMA.fields} | {LSN_COLUMN, "lsn"}
    extras = [c for c in state.columns if c not in known]
    return state.select(
        F.col(lsn_col).cast("long").alias("lsn"),
        F.lit("I").alias("op"),
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in state.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in CHANGES_SCHEMA.fields
            if f.name not in ("lsn", "op")
        ],
        *[F.col(c) for c in extras],
    )


def _state_max_lsn(as_events: DataFrame) -> int:
    row = as_events.agg(F.max("lsn").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else -1


# chunked-bootstrap progress keys: committed atomically with each
# chunk's epoch, so a crash anywhere leaves an exact resume point
_BOOT_CHUNKS_KEY = "aqueduct.bootstrap-chunks"
_BOOT_NEXT_KEY = "aqueduct.bootstrap-next-chunk"
_BOOT_AS_OF_KEY = "aqueduct.bootstrap-as-of-lsn"


def bootstrap_incomplete(table: ParquetTranscriptTable) -> bool:
    """True while a :func:`bootstrap_chunked` run has committed some but
    not all of its chunks (manifest-only check, zero Spark jobs)."""
    s = table.catalog.current()["summary"]
    n = int(s.get(_BOOT_CHUNKS_KEY, -1))
    nxt = int(s.get(_BOOT_NEXT_KEY, -1))
    return n > 0 and 0 <= nxt < n


def bootstrap_chunked(
    table: ParquetTranscriptTable,
    state: DataFrame,
    cfg: EngineConfig | None = None,
    n_chunks: int = 8,
    as_of_lsn: int | None = None,
    max_chunks: int | None = None,
) -> dict:
    """Resumable CHUNKED snapshot bootstrap — the DBLog / Debezium
    incremental-snapshot shape (Andreakis & Papapanagiotou, "DBLog: A
    Watermark Based Change-Data-Capture Framework", 2019): the initial
    load is split into deterministic key-hash chunks, each applied and
    committed as its own epoch, so a crash loses at most one chunk of
    work and a multi-day 100 TB initial load survives restarts.  The
    one-shot :func:`bootstrap_from_state` is the n_chunks=1 projection.

    Each chunk's commit atomically records the NEXT chunk index
    (``aqueduct.bootstrap-next-chunk``), the pinned chunk count and the
    pinned ``as_of_lsn`` — calling this again on a half-bootstrapped
    table resumes exactly where the last commit left off (pass the SAME
    consistent snapshot; chunk membership is ``pmod(hash(conv_id),
    n_chunks)``, content-deterministic across sessions).  A mismatched
    ``n_chunks`` on resume fails loud.  While incomplete,
    :func:`resume_lsn` raises :class:`IncompleteBootstrap` — the lsn
    watermark covers only the applied chunks' rows, not the key space —
    and the log tail may instead be interleaved BETWEEN chunk calls
    with explicit ``replay(..., start_lsn=, end_lsn=)`` slices (DBLog's
    snapshot/log interleaving): LWW-by-lsn makes application order
    irrelevant, and tail contiguity from ≤ as_of+1 re-delivers any
    tombstone whose victims the snapshot already excluded.  The final
    chunk stamps the watermark at ``as_of_lsn`` exactly, so the
    subsequent tail starts at ``as_of_lsn + 1`` like the one-shot path.

    ``max_chunks`` bounds how many chunks THIS call applies (the
    interleaving / pacing hook); default: run to completion.  Empty
    chunks still commit (progress must advance through them).  Returns
    ``{chunks_applied, next_chunk, complete, as_of_lsn, metrics}``.
    """
    from aqueduct_core_spark.operators.merge import apply_batch

    cfg = cfg or EngineConfig()
    if n_chunks < 1:
        raise ValueError("n_chunks must be >= 1")
    s = table.catalog.current()["summary"]
    committed_n = int(s.get(_BOOT_CHUNKS_KEY, -1))
    as_events = _state_as_events(state)
    if committed_n > 0:
        nxt = int(s.get(_BOOT_NEXT_KEY, -1))
        if not (0 <= nxt < committed_n):
            return {
                "chunks_applied": 0,
                "next_chunk": committed_n,
                "complete": True,
                "as_of_lsn": int(s.get(_BOOT_AS_OF_KEY, -1)),
                "metrics": [],
            }
        if int(n_chunks) != committed_n:
            raise ValueError(
                f"bootstrap was started with n_chunks={committed_n}; "
                f"resume asked for {n_chunks} — chunk membership would "
                "shift and rows would be skipped or doubled"
            )
        as_of = int(s[_BOOT_AS_OF_KEY])
        next_chunk = nxt
    else:
        as_of = _state_max_lsn(as_events) if as_of_lsn is None else int(as_of_lsn)
        next_chunk = 0

    chunk_col = F.pmod(F.hash(F.col("conv_id")), F.lit(int(n_chunks)))
    end = n_chunks if max_chunks is None else min(n_chunks, next_chunk + int(max_chunks))
    metrics = []
    for i in range(next_chunk, end):
        last = i == n_chunks - 1
        # intermediate hint = current watermark: forces a commit even
        # for an empty chunk (progress key must advance) without
        # claiming log coverage the bootstrap doesn't have yet; the
        # LAST chunk stamps the snapshot's as_of exactly
        hint = as_of if last else table.last_committed_lsn()
        m = apply_batch(
            table,
            as_events.where(chunk_col == F.lit(i)),
            epoch=table.last_committed_epoch() + 1,
            cfg=cfg,
            batch_max_lsn=hint,
            extra_summary={
                _BOOT_CHUNKS_KEY: int(n_chunks),
                _BOOT_NEXT_KEY: int(i + 1),
                _BOOT_AS_OF_KEY: int(as_of),
            },
        )
        m["bootstrap_chunk"] = i
        metrics.append(m)
    done = end >= n_chunks
    return {
        "chunks_applied": end - next_chunk,
        "next_chunk": end,
        "complete": done,
        "as_of_lsn": int(as_of),
        "metrics": metrics,
    }
