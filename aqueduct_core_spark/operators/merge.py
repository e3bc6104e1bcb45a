"""Batch apply: LWW-resolve a micro-batch and append it to the
transcripts table as merge-on-read deltas — the engine's core operator.

This is the Spark re-expression of the reference's store-node apply
path (``SQLiteStorage.write(PipeEntity)`` — one transaction writing
messages + offsets + pipe state, rollback on failure,
``pipe-storage-sqlite/.../SQLiteStorage.java:199-241``),
which appends each batch and compacts on a schedule
(``CompactionTask.java:40-47``):

1. align: additive schema evolution and logical → physical names are
   decided on the driver from schemas alone; ONE SQL select then
   renames, upcasts and null-fills the batch and hash-partitions it on
   ``conv_id`` into the manifest's bucket count (the bucket exchange —
   partition index == bucket, see ``bucket_sql``);
2. LWW resolution: :func:`aqueduct_core_spark.operators.lww.unified_argmax`
   (one aggregate statement: argmax + tombstones + conversation-level
   delete watermark) groups on that exchange → exactly one row per key
   (Iceberg MERGE cardinality rule);
3. fast-append: a last select adds the ``_bucket``/``_isturn`` file
   split and the keys are written as delta files; the frame is already
   partitioned as the writer's ``repartition`` asks, so Spark drops it
   — one shuffle and two Spark jobs per epoch.  No join against table
   state, so epoch cost is proportional to the batch; reads resolve
   base ∪ deltas and
   :func:`aqueduct_core_spark.operators.compact.fold_deltas` folds the
   deltas into the base on a schedule;
4. exactly-once: the epoch/max-lsn stamp and the ``_offsets`` metrics
   row ride in the same atomic snapshot commit as the data; a replayed
   epoch (``epoch <= last committed``) is skipped idempotently
   (reference: duplicate offset apply fails the PK and rolls back —
   ``SQLiteQueries.java:22``; here it's a clean no-op skip).
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from aqueduct_core_spark.catalog.snapshot import CommitConflict
from aqueduct_core_spark.catalog.table import (
    BUCKET_COLUMN,
    ParquetTranscriptTable,
    _bucket_count,
    bucket_sql,
)
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.operators import evolve, lww
from aqueduct_core_spark.schema import KEY_COLUMNS, LSN_COLUMN, PIPE_UP_TO_DATE


class EpochCollision(RuntimeError):
    """An already-committed epoch number arrived carrying DIFFERENT
    data than the committed epoch recorded — not a re-delivery, so the
    idempotent skip would silently drop real events.  The classic
    cause: a fresh streaming checkpoint pointed at an already-ingested
    table (batch ids restart at 0).  Resume with the original
    checkpoint, or continue the epoch sequence explicitly."""


def _lineage_json(buckets: dict) -> str:
    """``partition_lineage`` payload: ``{"scope": "batch", "buckets":
    {b: {keys, min_lsn, max_lsn}}}`` — only the buckets the batch
    touched, with batch-scoped counts.  (Tables written by the retired
    copy-on-write apply also hold ``"scope": "table"`` rows; readers
    keep the field to tell them apart.)"""
    return json.dumps({"scope": "batch", "buckets": buckets}, sort_keys=True)


def mor_prepare(
    table: ParquetTranscriptTable,
    batch: DataFrame,
    epoch: int,
) -> dict:
    """Phase A of an epoch: schema-align, LWW-resolve and WRITE the
    delta files — everything except the ordered commit.  Reads nothing
    from table state but one manifest's schema and bucket count (stable
    within a replay: every batch is a slice of one source DataFrame),
    so epoch N+1's phase A may run concurrently with epoch N's tail
    (the epoch loop behind :func:`aqueduct_core_spark.streaming.pipeline.replay`).
    The bucket count the rows were hashed with is returned: the commit
    refuses a layout that changed underneath (a concurrent
    ``rebucket``).  The files it writes are invisible until
    :func:`apply_batch` commits them; on a crash or a refused commit
    they are unreferenced orphans (``remove_orphan_files``)."""
    import time as _time

    t0 = _time.time()
    snap = table.catalog.current()
    num_buckets = _bucket_count(snap)
    fields = batch.schema.fields
    physical = table.physical_names([f.name for f in fields], snap)
    batch_fields = [
        T.StructField(p, f.dataType, f.nullable) for p, f in zip(physical, fields)
    ]
    new_fields, added_cols, widened_cols = evolve.evolve_table_fields(
        table.schema(snap).fields, T.StructType(batch_fields)
    )
    payload_cols = [
        f.name for f in new_fields if f.name not in (*KEY_COLUMNS, LSN_COLUMN)
    ]
    # one statement per step, each on the batch's own session (a
    # foreachBatch frame lives in a cloned session whose temp views the
    # table's session cannot see); the bucket exchange comes first, so
    # the argmax groups on it and the delta write adds no second one
    select = ", ".join(
        evolve.align_exprs(batch_fields, new_fields, [f.name for f in fields])
    )
    aligned = batch.sparkSession.sql(
        f"SELECT /*+ REPARTITION({num_buckets}, conv_id) */ {select} FROM {{batch}}",
        batch=batch,
    )
    resolved = lww.unified_argmax(aligned, payload_cols)
    staged_df = resolved.sparkSession.sql(
        f"SELECT *, {bucket_sql(num_buckets)} AS {BUCKET_COLUMN}, "
        "CAST(_tkey >= 0 AS INT) AS _isturn FROM {resolved}",
        resolved=resolved,
    )
    by_bucket, out_dir = table.write_delta_data(staged_df, f"epoch-{epoch}")
    return {
        "by_bucket": by_bucket,
        "out_dir": out_dir,
        "num_buckets": num_buckets,
        "new_fields": new_fields,
        "added_cols": added_cols,
        "widened_cols": widened_cols,
        "write_sec": round(_time.time() - t0, 3),
    }


def apply_batch(
    table: ParquetTranscriptTable,
    batch: DataFrame | None,
    epoch: int,
    cfg: EngineConfig | None = None,
    batch_max_lsn: int | None = None,
    prewritten: dict | None = None,
    extra_summary: dict | None = None,
    publish: bool = True,
) -> dict:
    """Apply one micro-batch; returns the metrics/offsets row.

    Every epoch runs the same two phases: :func:`mor_prepare` (resolve
    + delta write) and the ordered commit.  ``batch_max_lsn``: the
    batch's known max lsn (trigger planning has it for free); when None
    the batch may be a streaming idle trigger, probed with one tiny
    ``isEmpty`` job and skipped without a commit when empty.
    ``prewritten``: a :func:`mor_prepare` result — the delta files are
    already on disk, only bookkeeping + the ordered commit remain
    (``batch`` may be None then).
    ``extra_summary``: caller-owned snapshot-summary keys committed
    atomically with the epoch (e.g. per-source resume watermarks —
    :func:`aqueduct_core_spark.streaming.pipeline.replay_multi_source`);
    skipped/empty epochs commit nothing, so the keys only advance when
    the data does.
    ``publish=False`` stages the epoch's snapshot without advancing the
    readers' version (write-audit-publish — see :func:`apply_audited`);
    the auto-fold is deferred too (folding would race the staged
    manifest for the next version id)."""
    cfg = cfg or EngineConfig()

    # ---- exactly-once guard (T5): replayed epoch is a no-op ----------
    last_epoch = table.last_committed_epoch()
    if epoch <= last_epoch:
        # Before skipping, verify the batch holds nothing the table has
        # not already applied: every lsn must sit at or below the
        # committed watermark.  A batch with lsns BEYOND it under an
        # already-committed epoch number is an epoch-number collision
        # carrying new data — the classic mis-deployment is a fresh
        # streaming checkpoint against an already-ingested table (batch
        # ids restart at 0) — and silently skipping would drop those
        # events.  The check is deliberately watermark-based, not
        # per-epoch-range-based: a fresh-checkpoint re-drain of the
        # SAME input may chunk files into different trigger boundaries
        # (file-listing order is not contractual), which is a benign
        # permutation of already-applied rows.  Cost: zero extra jobs
        # on planned replays (the hint rides in), one max() on an
        # unplanned skipped batch (skips are rare).
        watermark = table.last_committed_lsn()
        actual = batch_max_lsn
        if actual is None:
            row = batch.agg(F.max("lsn").alias("m")).collect()[0]
            actual = None if row["m"] is None else int(row["m"])
        if actual is not None and actual > watermark:
            raise EpochCollision(
                f"epoch {epoch} is already committed (head epoch "
                f"{last_epoch}, lsn watermark {watermark}), but this "
                f"batch carries lsns up to {actual} — NOT a re-delivery "
                "of applied data (fresh checkpoint against an ingested "
                "table?); refusing to silently skip real events"
            )
        # re-delivery of applied data (or an empty idle trigger on a
        # colliding id): skipped idempotently with honest zero counts;
        # the condition rides in ``state`` (no magic sentinel —
        # consumers summing ``skipped`` stay correct)
        return {
            "epoch": epoch,
            "last_lsn": table.last_committed_lsn(),
            "applied": 0,
            "skipped": 0,
            "partition_lineage": None,
            "committed_at": _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
            "state": "SKIPPED_DUPLICATE_EPOCH",
        }

    if prewritten is None:
        # streaming idle triggers (hint is None ⇔ not replay-planned)
        # must not commit a snapshot or advance the fold counter —
        # otherwise an idle stream churns snapshots and forces premature
        # folds.  Replay triggers are planned from data and carry a hint.
        if batch_max_lsn is None and batch.isEmpty():
            return {
                "epoch": int(epoch),
                "last_lsn": table.last_committed_lsn(),
                "applied": 0,
                "skipped": 0,
                "partition_lineage": _lineage_json({}),
                "committed_at": _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
                "state": PIPE_UP_TO_DATE,
                "added_columns": [],
            }
        prewritten = mor_prepare(table, batch, epoch)
    return _apply_mor(
        table, epoch, cfg, prewritten, batch_max_lsn,
        extra_summary=extra_summary, publish=publish,
    )


def apply_audited(
    table: ParquetTranscriptTable,
    batch: DataFrame | None,
    epoch: int,
    audits: dict,
    cfg: EngineConfig | None = None,
    batch_max_lsn: int | None = None,
    extra_summary: dict | None = None,
) -> dict:
    """Write-audit-publish (Iceberg WAP analog; the quality gate the
    reference runs as pre-publish validation in its pipe — here a
    first-class commit protocol): stage the epoch's commit UNPUBLISHED,
    run every audit against the staged table state, then publish (one
    atomic pointer swap) or abandon (manifest removed; the epoch's data
    files become orphans for ``remove_orphan_files``).

    ``audits``: ``{name: fn(staged_state_df) -> bool}`` — each fn gets
    the version-pinned internal read of the staged snapshot (lsn column
    included) and returns truthy to pass.  Readers NEVER see a state
    that failed an audit.  An abandoned epoch does not advance the
    exactly-once watermark, so the same epoch retries on the next
    replay — audits must be deterministic functions of the data or a
    poison batch livelocks (same contract as Iceberg WAP; pair with
    :mod:`aqueduct_core_spark.operators.validate` row-level quarantine
    to strip poison rows instead of re-trying them forever).

    Returns the metrics row plus ``published``/``audit_failures``.
    Skipped (already-committed) epochs return unchanged — nothing is
    staged, nothing audited.

    Crash recovery: a staged manifest left by a crash between stage and
    publish blocks the version sequence.  If it carries THIS epoch's
    stamp it is our own dead attempt — abandoned and restaged (it was
    never published, so no reader observed it).  A staged manifest from
    a DIFFERENT epoch is someone else's in-flight audit: fail loud
    rather than destroy their work (WAP is single-writer per table,
    like compaction)."""
    leftover = table.catalog.staged_version()
    if leftover is not None:
        staged_epoch = int(
            table.catalog.load(leftover)["summary"].get("aqueduct.epoch", -1)
        )
        if staged_epoch == int(epoch):
            try:
                table.catalog.abandon(leftover)
            except CommitConflict:
                # our previous attempt DECIDED publish and crashed
                # before the pointer swap; abandon just completed that
                # swap — the epoch is committed, so fall through and
                # let apply_batch skip it as a duplicate
                pass
        else:
            raise RuntimeError(
                f"staged snapshot v{leftover} (epoch {staged_epoch}) is "
                f"in flight; refusing to stage epoch {epoch} over it — "
                "publish or abandon it first"
            )
    m = apply_batch(
        table, batch, epoch=epoch, cfg=cfg, batch_max_lsn=batch_max_lsn,
        extra_summary=extra_summary, publish=False,
    )
    if m.get("state") == "SKIPPED_DUPLICATE_EPOCH":
        return m
    v = table.catalog.staged_version()
    if v is None:
        # nothing was staged: an idle/empty trigger or an
        # all-quarantined envelope batch — there is no snapshot to
        # audit or publish, and publish(None)/abandon(None) would crash
        # the stream on a harmless batch
        m["published"] = False
        m["audit_failures"] = []
        return m
    staged = table.read_internal(version=v)
    failures = [name for name, fn in audits.items() if not fn(staged)]
    if failures:
        table.catalog.abandon(v)
        m["published"] = False
    else:
        table.catalog.publish(v)
        m["published"] = True
    m["audit_failures"] = failures
    return m


def _apply_mor(
    table: ParquetTranscriptTable,
    epoch: int,
    cfg: EngineConfig,
    prep: dict,
    batch_max_hint: int | None = None,
    extra_summary: dict | None = None,
    publish: bool = True,
) -> dict:
    """Phase B of an epoch: footer-statistics bookkeeping over the
    delta files :func:`mor_prepare` wrote, then ONE atomic commit that
    appends them with the offsets row and the exactly-once stamp.  No
    extra Spark jobs.  Reads the head manifest once and commits on
    exactly that base, so a concurrent commit fails the version CAS
    (``CommitConflict``) instead of being overwritten; a head whose
    bucket count differs from the one the deltas were hashed with (a
    ``rebucket`` landed after phase A) is refused the same way —
    nothing is committed and a rerun re-prepares the epoch.  Deltas
    fold into the base every ``cfg.mor_fold_every`` epochs."""
    base = table.catalog.current()
    if _bucket_count(base) != prep["num_buckets"]:
        raise CommitConflict(
            f"epoch {epoch}'s deltas were hashed for {prep['num_buckets']} "
            f"buckets but the table now has {_bucket_count(base)} (a "
            "rebucket committed after the delta write); nothing was "
            "committed — rerun the epoch"
        )
    new_fields, added_cols = prep["new_fields"], prep["added_cols"]
    widened_cols = prep["widened_cols"]
    summary = table.stage_summary(prep["out_dir"])
    lineage = {
        str(b): {
            "min_lsn": int(s["min_lsn"]),
            "max_lsn": int(s["max_lsn"]),
            "keys": int(s["turn_keys"]),
        }
        for b, s in summary.items()
        if s["turn_keys"] > 0
    }
    applied = sum(v["keys"] for v in lineage.values())
    batch_max_lsn = max(
        [
            int(base["summary"].get("aqueduct.max-lsn", -1)),
            int(batch_max_hint if batch_max_hint is not None else -1),
        ]
        + [int(s["any_max_lsn"]) for s in summary.values() if s["any_max_lsn"] is not None]
    )
    delta_epochs = int(base["summary"].get("aqueduct.delta-epochs", 0)) + 1

    offsets_row = {
        "epoch": int(epoch),
        "last_lsn": int(batch_max_lsn),
        "applied": int(applied),
        "skipped": 0,
        "partition_lineage": _lineage_json(lineage),
        "committed_at": _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        "state": PIPE_UP_TO_DATE,
    }
    offsets_rel = table.write_offsets_row(offsets_row, label=f"epoch-{epoch}")
    table.catalog.commit(
        base,
        added_delta_buckets=prep["by_bucket"],
        added_offsets_files=[offsets_rel],
        summary_updates={
            "aqueduct.epoch": int(epoch),
            "aqueduct.max-lsn": int(batch_max_lsn),
            "aqueduct.delta-epochs": delta_epochs,
            **({"aqueduct.added-columns": ",".join(added_cols)} if added_cols else {}),
            **(
                {"aqueduct.widened-columns": ",".join(widened_cols)}
                if widened_cols
                else {}
            ),
            **(extra_summary or {}),
        },
        schema_fields=(
            [f.jsonValue() for f in new_fields]
            if (added_cols or widened_cols)
            else None
        ),
        publish=publish,
    )
    offsets_row["added_columns"] = added_cols
    offsets_row["widened_columns"] = list(widened_cols)

    if publish and cfg.mor_fold_every and delta_epochs >= cfg.mor_fold_every:
        from aqueduct_core_spark.operators.compact import fold_deltas

        fold_deltas(table)
        offsets_row["folded"] = True
    return offsets_row
