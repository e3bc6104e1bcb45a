"""The apply loop: tail the change log, MERGE each micro-batch.

Spark re-expression of the reference's store-node sync loop
(``HttpPipeClient.read`` → ``SQLiteStorage.write(PipeEntity)`` —
``/root/reference/pipe-http-client/.../HttpPipeClient.java:36-63``,
``pipe-storage-sqlite/.../SQLiteStorage.java:199-241``):

- **Structured Streaming path** (:func:`start_stream` /
  :func:`run_available_now`): ``readStream`` file source over the log
  directory → ``foreachBatch``, each trigger one epoch.  The checkpoint
  gives monotone batch ids; re-delivered batches after a crash hit the
  snapshot epoch-stamp guard and skip idempotently (T5/T6).
  :func:`tail_loop` paces repeated ``availableNow`` drains with the
  reference's Retry-After formula (``PostgresqlStorage.java:203-225``).
- **Batch replay path** (:func:`replay`): plan lsn-range triggers with
  the byte/row budgets (W1 analog) and apply them in order.  Used for
  bootstrap (full replay from lsn 0 — reference BootstrapType.java:3-10)
  and benchmarking.
- **One ingest loop** (:func:`_apply_epochs`): both paths, the demux
  fan-outs, the bootstraps and the quarantine's valid side commit
  every epoch through it — one transaction per epoch, like the
  reference's one write per page — and the post-commit work (WAP
  audits, maintainers, SCD2 history and its views) runs there too.
- **Recovery**: :func:`resume_lsn` reads the last committed lsn from
  the table's snapshot summary — restart replays from there
  (reference LOCAL_LATEST_OFFSET register, OffsetName.java:4).
"""

from __future__ import annotations

import time
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.operators import batching, merge
from aqueduct_core_spark.operators.batching import plan_triggers
from aqueduct_core_spark.operators.merge import apply_audited, apply_batch
from aqueduct_core_spark.schema import CHANGES_SCHEMA


#: replay epochs prepared at once.  An epoch's delta WRITE reads
#: nothing from the table — only its COMMIT must be ordered — so the
#: next epochs' plan/scan/aggregate/write run while epoch N commits,
#: hiding the per-epoch serial driver work (Catalyst planning + job
#: submission, ~0.3-0.7 s/epoch measured) and letting their tasks fill
#: N's straggler-tail cores (FIFO scheduling keeps N's tasks at
#: priority).  Epoch N commits once N+1 and N+2 are submitted, so a
#: fold due with N overlaps two prepares; a crash then leaves at most
#: 3 epochs' uncommitted deltas as orphans.  Commits are awaited
#: strictly in epoch order on the driver thread, so exactly-once
#: bookkeeping and fold cadence are unchanged.
PIPELINE_DEPTH = 2


class IncompleteBootstrap(RuntimeError):
    """The table is mid-way through a chunked snapshot bootstrap
    (:func:`bootstrap_chunked`): its lsn watermark only covers the
    chunks committed so far, so tailing the log from it would skip
    events for every conversation in the chunks not yet applied.
    Finish (or restart) the bootstrap before tailing."""


class AuditFailed(RuntimeError):
    """An epoch's write-audit-publish audits failed: the stage was
    abandoned and ingest must STOP — no later epoch commits, since it
    would move the watermark past the abandoned events.  On a stream,
    failing the trigger keeps the source checkpoint from advancing past
    the batch (a restart re-delivers the same batch_id with the same
    data, so nothing is lost; swallowing the failure would silently
    drop the epoch)."""


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


def _lsn_file_index(
    changes: DataFrame,
) -> list[tuple[str, int, int, int | None, int | None, bool]] | None:
    """Driver-side ``(path, min_lsn, max_lsn, rows, bytes, no_null_lsn)``
    per input file, from parquet footer statistics — the manifest a lake
    table would hand us for free.  ``rows``/``bytes`` (footer-exact row
    count and compressed on-disk byte size) feed manifest-based trigger
    planning
    (:func:`aqueduct_core_spark.operators.batching.plan_triggers_from_files`);
    they are None when the footer lacks lsn stats (pruning disabled for
    that file, budgeting disabled for the index).  ``no_null_lsn``: the
    footers count no null lsn, so every row of the file lies in
    ``[min_lsn, max_lsn]`` and an epoch covering that range may read the
    file whole (:func:`_epoch_slices`).

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
            no_null = True
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for i in range(md.num_columns):
                    c = rg.column(i)
                    # COMPRESSED chunk size: the byte-budget semantics
                    # are storage/wire bytes (batching.py) — row-group
                    # total_byte_size is the UNcompressed size and would
                    # cut triggers 3-5× too small on zstd/snappy logs
                    nbytes += c.total_compressed_size
                    if c.path_in_schema != "lsn":
                        continue
                    st = c.statistics
                    no_null = no_null and st is not None and st.has_null_count \
                        and st.null_count == 0
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            if lo is None:
                # no stats: the file can never be pruned nor budgeted
                out.append((path, -(1 << 62), 1 << 62, None, None, False))
            else:
                out.append((path, int(lo), int(hi), int(md.num_rows), int(nbytes), no_null))
        return out
    except Exception:
        return None


def _bare_parquet_reader(changes: DataFrame):
    """``paths -> DataFrame``: a scan of some of ``changes``' own files
    with its schema and reader options, or None when ``changes`` is not
    a bare, unpartitioned parquet scan (the caller then filters
    ``changes`` itself)."""
    try:
        rel = changes._jdf.queryExecution().analyzed().relation()
        if rel.fileFormat().shortName() != "parquet" or rel.partitionSchema().length():
            return None
        opts = {}
        it = rel.options().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1().lower() not in ("path", "paths"):
                opts[kv._1()] = kv._2()
    except Exception:
        return None
    reader = changes.sparkSession.read.schema(changes.schema).options(**opts)
    return lambda paths: reader.parquet(*paths)


def _plan(
    changes: DataFrame,
    cfg: EngineConfig,
    start_lsn: int,
    end_lsn: int | None = None,
    lsn_bounds: tuple[int, int] | None = None,
    file_index: list[tuple] | None = None,
) -> tuple[list, DataFrame]:
    """``(ranges, pending)``: the lsn-range triggers over the window
    ``[start_lsn, end_lsn]`` of ``changes``, and that window.  Ranges
    come from the footer index of the caller's bare scan when it has
    one (zero Spark jobs, file-aligned epochs); otherwise, or when the
    files overlap, from the scan-based :func:`plan_triggers` over the
    window (``lsn_bounds`` skips its bounds job).  ``file_index``: the
    caller's :func:`_lsn_file_index` of ``changes``, when it has read
    it.  :func:`_epoch_slices` turns the ranges into epoch batches."""
    # footer index BEFORE the window filters: they make the plan non-leaf
    if file_index is None:
        file_index = _lsn_file_index(changes)
    pending = changes.where(F.col("lsn") >= start_lsn)
    if end_lsn is not None:
        pending = pending.where(F.col("lsn") <= end_lsn)
    ranges = None
    if file_index is not None:
        ranges = batching.plan_triggers_from_files(
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
            lsn_bounds=lsn_bounds,
        )
    return ranges, pending


def _epoch_slices(
    changes: DataFrame,
    cfg: EngineConfig,
    start_lsn: int,
    end_lsn: int | None = None,
    lsn_bounds: tuple[int, int] | None = None,
) -> tuple[list, Callable[[Any], DataFrame]]:
    """``(ranges, batch_of)``: :func:`_plan`'s ranges, and
    ``batch_of(range)``, that trigger's slice of the window.

    A slice the footer index shows to be whole files (every file the
    range touches lies inside it and holds no null lsn) is a plain scan
    of exactly those files, with no predicate: every such epoch plans
    the same code, where a literal lsn predicate is inlined into the
    generated code and compiles a new whole-stage class per slice (cold
    code on the first pass over each slice), and no task opens a file
    outside the slice.  Any other slice is the window filtered by the
    range's literal lsn predicate (parquet pushdown)."""
    file_index = _lsn_file_index(changes)
    ranges, pending = _plan(changes, cfg, start_lsn, end_lsn, lsn_bounds, file_index)
    read_files = None if file_index is None else _bare_parquet_reader(changes)

    def batch_of(r) -> DataFrame:
        lo = max(r.start_lsn, start_lsn)
        hi = r.end_lsn if end_lsn is None else min(r.end_lsn, end_lsn)
        if read_files is not None:
            touched = [f for f in file_index if f[1] <= hi and f[2] >= lo]
            if touched and all(f[5] and lo <= f[1] and f[2] <= hi for f in touched):
                return read_files([f[0] for f in touched])
        return pending.where((F.col("lsn") >= r.start_lsn) & (F.col("lsn") <= r.end_lsn))

    return ranges, batch_of


def _apply_epochs(
    table: ParquetTranscriptTable,
    items,
    cfg: EngineConfig,
    *,
    audits: dict | None = None,
    maintainers=(),
    history=None,
    history_views=(),
) -> list[dict]:
    """The one epoch loop: apply an iterable of ``(batch, epoch, max-lsn
    hint, extra summary)`` items, epochs ascending, and return their
    metrics rows.  Every ingest path commits through here: replay,
    bootstrap, each ``foreachBatch`` trigger, each demux route and the
    valid side of a quarantined batch.

    Phase A (:func:`~aqueduct_core_spark.operators.merge.mor_prepare`:
    scan + argmax + delta write, reading nothing from table state) runs
    on :data:`PIPELINE_DEPTH` pool threads for a PLANNED item (it has a
    hint and an epoch above the committed one), submitted before the
    oldest epoch commits, so the commit (and any fold due with it)
    overlaps up to :data:`PIPELINE_DEPTH` prepares; phase B (footer
    bookkeeping + the atomic commit, through ``apply_batch``) stays on
    this thread, strictly in epoch order.
    Every other item applies inline once the items before it have
    committed: a streaming trigger (hint None) keeps ``apply_batch``'s
    one-job idle probe, and an epoch at or below the committed one goes
    straight to the exactly-once guard, which returns the skip row or
    raises ``EpochCollision``.

    ``audits`` commits every item through write-audit-publish
    (:func:`~aqueduct_core_spark.operators.merge.apply_audited`, never
    prepared ahead); a failed audit raises :class:`AuditFailed` and no
    later item commits (a later epoch would move the watermark past the
    abandoned events).  After each row, in item order and skipped
    epochs included, each of ``maintainers`` refreshes from the table
    (``ConvRollup``, ``DedupIndexMaintainer``: a skipped epoch leaves
    the version unchanged, so the refresh no-ops), then ``history``
    folds the RAW batch (intra-epoch versions included; its own epoch
    guard skips re-deliveries; it REQUIRES lsn-ordered items and fails
    loudly with ``OutOfOrderBatch`` otherwise) and each of
    ``history_views`` refreshes from it."""
    commit = partial(apply_audited, audits=audits) if audits else apply_batch
    committed = table.last_committed_epoch()
    metrics: list[dict] = []
    inflight: deque = deque()

    def commit_oldest():
        (batch, epoch, hint, extra), fut = inflight.popleft()
        prep = fut and fut.result()
        t0 = time.time()
        if prep:
            m = apply_batch(table, batch, epoch=epoch, cfg=cfg, batch_max_lsn=hint,
                            prewritten=prep, extra_summary=extra)
            m["write_sec"] = prep["write_sec"]
        else:
            m = commit(table, batch, epoch=epoch, cfg=cfg, batch_max_lsn=hint,
                       extra_summary=extra)
        m["epoch_sec"] = round(time.time() - t0 + m.get("write_sec", 0), 3)
        if m.get("audit_failures"):
            raise AuditFailed(
                f"epoch {epoch} failed audits {m['audit_failures']}; "
                "stage abandoned, watermark not advanced"
            )
        for mt in maintainers:
            m[getattr(mt, "name", type(mt).__name__)] = mt.refresh(table)
        if history is not None:
            m["scd2_history"] = history.apply(batch, epoch=epoch)
            for hv in history_views:
                m[getattr(hv, "name", type(hv).__name__)] = hv.refresh(history)
        metrics.append(m)

    pool = ThreadPoolExecutor(max_workers=PIPELINE_DEPTH)
    try:
        for item in items:
            batch, epoch, hint, _ = item
            if not audits and hint is not None and epoch > committed:
                # merge.mor_prepare, looked up per call: a traced run wraps it
                inflight.append((item, pool.submit(merge.mor_prepare, table, batch, epoch)))
                while len(inflight) > PIPELINE_DEPTH:
                    commit_oldest()
            else:
                while inflight:
                    commit_oldest()
                inflight.append((item, None))
                commit_oldest()
        while inflight:
            commit_oldest()
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    return metrics


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

    Each micro-batch reads only its lsn slice of the log: exactly its
    files when the slice is whole files, else through a literal ``lsn``
    range predicate, which pushes into the parquet scan (row-group
    skipping) (:func:`_epoch_slices`).  Trigger ranges are planned
    from the driver-side footer index when the log is a bare scan
    (:func:`_plan`) and applied through the one epoch loop,
    :func:`_apply_epochs`.
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
    ranges, batch_of = _epoch_slices(changes, cfg, start_lsn, end_lsn, lsn_bounds)
    return _apply_epochs(table, (
        (
            batch_of(r),
            epoch + i,
            r.end_lsn,
            None if source_id is None else {f"aqueduct.max-lsn-src-{source_id}": int(r.end_lsn)},
        )
        for i, r in enumerate(ranges)
    ), cfg)


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
    preds = _route_preds(tables, routes)

    ranges, batch_of = _epoch_slices(changes, cfg, start_lsn=0)
    metrics: dict = {k: [] for k in tables}
    for i, r in enumerate(ranges):
        # Skip by LSN WATERMARK, not epoch index: the watermark is
        # authoritative regardless of trigger numbering, so a resume
        # after the log grew stays correct even on the scan-based
        # planning fallback (whose boundaries aren't prefix-stable —
        # footer-index planning is).  A partially-covered range re-reads
        # events at-or-below the watermark, which LWW makes a no-op;
        # skipping unseen events is the failure this guards against.
        # The epoch must exceed the table's committed stamp for the
        # exactly-once guard; it equals the global index i except after
        # a numbering shift, where it keeps advancing.
        rows = _demux_slice(
            tables, preds,
            sorted(k for k in tables if tables[k].last_committed_lsn() < r.end_lsn),
            batch_of(r),
            cfg,
            epoch_of=lambda k: max(i, tables[k].last_committed_epoch() + 1),
            hint_of=lambda _: r.end_lsn,
        )
        for k, m in rows.items():
            m["route"] = k
            metrics[k].append(m)
    return metrics


def _route_preds(tables: dict, routes: dict) -> dict:
    """Each route's predicate as a Column (SQL strings parsed); the
    route keys must be exactly the table keys."""
    if set(tables) != set(routes):
        raise ValueError(
            f"tables/routes key mismatch: {sorted(set(tables) ^ set(routes))}"
        )
    return {k: (F.expr(p) if isinstance(p, str) else p) for k, p in routes.items()}


def _demux_slice(tables, preds, todo, batch, cfg, epoch_of, hint_of) -> dict:
    """Apply one log slice to each route in ``todo`` (sorted keys), one
    one-item :func:`_apply_epochs` call per route.  Each route commits
    its own ``epoch_of(key)`` stamp and the SLICE's ``hint_of(slice)``
    max lsn, not its subset's: a replica whose route saw nothing in the
    slice has still consumed the pipe through it (lag 0 in
    ``fleet_status``, and a resume skips the range).  The slice is
    persisted while more than one route reads it, so N route applies
    scan it once.  Returns ``{key: metrics row}``."""
    if not todo:
        return {}
    cached = len(todo) > 1
    if cached:
        batch = batch.persist()
    try:
        hint = hint_of(batch)
        return {
            k: _apply_epochs(tables[k], [(batch.where(preds[k]), epoch_of(k), hint, None)], cfg)[0]
            for k in todo
        }
    finally:
        if cached:
            batch.unpersist()


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
    preds = _route_preds(tables, routes)

    def fn(batch_df: DataFrame, batch_id: int):
        _demux_slice(
            tables, preds,
            sorted(k for k in tables if tables[k].last_committed_epoch() < batch_id),
            batch_df, cfg,
            epoch_of=lambda k: batch_id,
            hint_of=lambda b: b.agg(F.max("lsn")).first()[0],
        )

    return _start(
        _file_stream(spark, changes_dir, max_files_per_trigger),
        fn, checkpoint_dir, processing_time, available_now,
    )


def _foreach_batch_fn(table: ParquetTranscriptTable, cfg: EngineConfig,
                      record_metrics: bool = False, **hooks):
    """The ``foreachBatch`` callback: each trigger is a one-item
    :func:`_apply_epochs` call (``hooks`` are its keyword arguments) at
    ``epoch=batch_id`` with no hint, so an idle trigger commits nothing
    and a re-delivered batch id hits the exactly-once guard.
    ``record_metrics`` wraps it in a
    :class:`~aqueduct_core_spark.streaming.monitor.BatchMetricsRecorder`."""

    def fn(batch_df: DataFrame, batch_id: int):
        return _apply_epochs(table, [(batch_df, batch_id, None, None)], cfg, **hooks)[0]

    if record_metrics:
        from aqueduct_core_spark.streaming.monitor import BatchMetricsRecorder

        return BatchMetricsRecorder(table).wrap(fn)
    return fn


def _file_stream(spark: SparkSession, changes_dir: str, max_files_per_trigger: int | None,
                 text: bool = False) -> DataFrame:
    """The file-source tail of ``changes_dir``: parquet change files, or
    raw lines when ``text``.  ``maxFilesPerTrigger`` is the backpressure
    knob (the row/byte-budget analog at file granularity)."""
    reader = spark.readStream if text else spark.readStream.schema(CHANGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(changes_dir) if text else reader.parquet(changes_dir)


def _start(stream: DataFrame, batch_fn, checkpoint_dir: str,
           processing_time: str | None, available_now: bool):
    """Start ``foreachBatch(batch_fn)`` over ``stream``, checkpointed in
    ``checkpoint_dir`` and paced by ``availableNow`` or
    ``processingTime`` (default: the next trigger as soon as the last
    one finishes)."""
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


def _drain(q, timeout_s: int) -> None:
    """Wait for an ``availableNow`` query to drain, then stop it if it
    is still running (timeout or error)."""
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


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
    watermark dedup and pass straight through: coalescing them to the
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
    merge.  Each trigger is one epoch of the ingest loop,
    :func:`_apply_epochs`, which also runs the post-commit hooks:
    ``maintainers`` (objects with ``refresh(table)``, e.g. a
    :class:`~aqueduct_core_spark.operators.rollup.ConvRollup`) refresh
    in list order after each commit, keeping downstream
    materializations continuously fresh; ``history`` (an
    ``Scd2History``) folds each raw batch, given an lsn-ordered source,
    and ``history_views`` refresh from it.  ``audits`` routes every
    epoch through write-audit-publish
    (:func:`aqueduct_core_spark.operators.merge.apply_audited`): readers
    never see an unaudited state, and a failing audit raises
    :class:`AuditFailed` to stop the query BEFORE the checkpoint
    advances (restart re-delivers the batch).

    ``wire_format``: ``"parquet"`` (columnar change files, default) or
    ``"json-envelope"`` — newline-delimited Debezium-style envelopes
    (:mod:`aqueduct_core_spark.sources.envelope`), the shape a Kafka /
    wal2json tail delivers.  Envelope-level dead letters (corrupt JSON,
    unknown op, missing lsn) are appended per-epoch to
    ``quarantine_dir`` with the raw wire bytes — at-least-once (a
    crash-replayed epoch re-appends its dead letters, so readers
    collapse on ``(epoch, raw)``) — while clean rows proceed to the
    exactly-once merge."""
    cfg = cfg or EngineConfig()
    if wire_format not in ("parquet", "json-envelope"):
        raise ValueError(f"unknown wire_format {wire_format!r}")
    envelope = wire_format == "json-envelope"
    stream = _file_stream(spark, changes_dir, max_files_per_trigger, text=envelope)
    batch_fn = _foreach_batch_fn(table, cfg, record_metrics, audits=audits,
                                 maintainers=maintainers or (), history=history,
                                 history_views=history_views or ())
    if envelope:
        from aqueduct_core_spark.sources.envelope import REASON_COLUMN, parse_envelopes

        stream = parse_envelopes(stream)
        inner = batch_fn

        def batch_fn(stamped: DataFrame, batch_id: int):
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

    if dedup_within:
        # NULL-ts rows (dead letters, conv tombstones) bypass the
        # watermark dedup inside the helper (a dead letter re-delivered
        # into the sidecar collapses on (epoch, raw) at read time)
        stream = dedup_redeliveries(stream, dedup_within)
    return _start(stream, batch_fn, checkpoint_dir, processing_time, available_now)


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
    audits: dict | None = None,
    maintainers: list | None = None,
    wire_format: str = "parquet",
    quarantine_dir: str | None = None,
    history=None,
    history_views: list | None = None,
) -> None:
    """Drain everything currently in the log, then stop (the
    bootstrap / catch-up mode; reference BootstrapType PIPE replay)."""
    _drain(start_stream(
        spark,
        table,
        changes_dir,
        checkpoint_dir,
        cfg,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
        record_metrics=record_metrics,
        dedup_within=dedup_within,
        audits=audits,
        maintainers=maintainers,
        wire_format=wire_format,
        quarantine_dir=quarantine_dir,
        history=history,
        history_views=history_views,
    ), timeout_s)


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
    lsn and the whole snapshot applies as one epoch: this is
    :func:`bootstrap_chunked` with ``n_chunks=1``.  The exactly-once
    watermark lands at ``as_of_lsn`` (default: the snapshot's max row
    lsn), so :func:`resume_lsn` hands the subsequent tail its correct
    start.  The tail may OVERLAP the snapshot arbitrarily: LWW by lsn
    makes re-delivered rows idempotent, so "snapshot at X, tail from
    X - δ" converges to the same state as a full replay — no
    coordination between the snapshotter and the log reader needed.
    Returns the epoch's metrics row plus ``bootstrap_as_of_lsn``; on a
    table whose bootstrap already completed nothing is applied and the
    row holds only ``bootstrap_as_of_lsn``.
    """
    out = bootstrap_chunked(table, state, cfg, n_chunks=1, as_of_lsn=as_of_lsn)
    m = out["metrics"][0] if out["metrics"] else {}
    m["bootstrap_as_of_lsn"] = out["as_of_lsn"]
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
    one-shot :func:`bootstrap_from_state` is this with ``n_chunks=1``.
    Chunks are applied through the one epoch loop,
    :func:`_apply_epochs`, so chunk i+1's delta write overlaps chunk
    i's commit.

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
    # intermediate hint = the watermark before this call: forces a
    # commit even for an empty chunk (progress key must advance)
    # without claiming log coverage the bootstrap doesn't have yet (the
    # commit takes the max with the head's watermark); the LAST chunk
    # stamps the snapshot's as_of exactly
    watermark = table.last_committed_lsn()
    epoch = table.last_committed_epoch() + 1
    chunks = range(next_chunk, end)
    metrics = _apply_epochs(table, (
        (
            as_events.where(chunk_col == F.lit(i)),
            epoch + k,
            as_of if i == n_chunks - 1 else watermark,
            {
                _BOOT_CHUNKS_KEY: int(n_chunks),
                _BOOT_NEXT_KEY: int(i + 1),
                _BOOT_AS_OF_KEY: int(as_of),
            },
        )
        for k, i in enumerate(chunks)
    ), cfg)
    for i, m in zip(chunks, metrics):
        m["bootstrap_chunk"] = i
    done = end >= n_chunks
    return {
        "chunks_applied": end - next_chunk,
        "next_chunk": end,
        "complete": done,
        "as_of_lsn": int(as_of),
        "metrics": metrics,
    }
