"""Incrementally-maintained SCD type-2 history sink.

:func:`aqueduct_core_spark.operators.temporal.scd2_history` computes
the full validity-interval history from a complete log in one pass;
this module maintains the SAME table continuously as ordered change
batches apply — the dbt-snapshot / warehouse-SCD2 sink pattern on the
engine's own exactly-once terms.  Cost per epoch is O(batch + open
versions of touched conversations), never O(history): closed intervals
are immutable and only the buckets holding touched conversations are
rewritten (the :class:`~aqueduct_core_spark.operators.rollup.ConvRollup`
storage pattern).

Correctness contract (proven by the segment-equivalence test in
``tests/test_scd2_sink.py``): for ANY in-order segmentation of the log,
applying the segments equals the batch operator over the whole log —
the same replay property the transcript table itself carries.

Batch update math (all joins key- or conv-local, no window over
history):

- a batch's internal versions come from the batch operator itself
  (``scd2_history(B)`` — in-batch chains and in-batch tombstone
  closure are already right);
- an OPEN version in the history closes at the earliest of (the key's
  first event in B — any op; reason ``update``/``delete``) and (the
  conversation's first tombstone in B — reason ``conv_delete``).  Any
  B tombstone qualifies: ordered batches mean every open
  ``valid_from_lsn`` precedes every B lsn, and the hierarchical rule
  kills at-or-below (PostgresqlStorage.java:479-493);
- a conversation tombstone from an EARLIER batch can never close a
  later version (its lsn is below the version's ``valid_from_lsn``),
  so no cross-batch tombstone state is carried — the induction the
  segment test exercises.

Ordering contract: batches must arrive in lsn order with monotone
epochs (the replay loop's own guarantee).  Re-delivered epochs skip
idempotently; an out-of-order batch fails loud instead of silently
corrupting intervals.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.catalog.meta import MetaCommitConflict, VersionedMeta
from aqueduct_core_spark.operators.temporal import scd2_history

_BUCKET = "_hbucket"

_SCHEMA = (
    "conv_id string, turn_idx int, valid_from_lsn long, valid_to_lsn long, "
    "end_reason string, is_current boolean, row_op string, "
    "role string, text string, tool string, ts timestamp"
)
_COLS = [c.split()[0] for c in _SCHEMA.split(", ")]


class OutOfOrderBatch(RuntimeError):
    """A batch arrived with lsns at-or-below the history's watermark —
    the ordered-replay contract is broken; applying it would corrupt
    validity intervals."""


# Another writer committed between this operation's meta read and its
# meta write: blindly publishing the stale meta would regress the
# epoch/lsn watermark and revert other buckets' generation dirs (losing
# the concurrent commit's rows) — the same race the table catalog fails
# loud on with CommitConflict.  The protocol lives in catalog/meta.py,
# shared with ConvView and DedupIndex.
HistoryCommitConflict = MetaCommitConflict


class Scd2History:
    """Bucket-partitioned, incrementally-maintained SCD2 history table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._vm = VersionedMeta(root)

    # -- meta (shared CAS protocol — catalog/meta.py) --------------------
    @property
    def _meta_path(self) -> str:
        return self._vm.path

    def _meta(self) -> dict:
        return self._vm.read()

    def _write_meta(self, meta: dict) -> None:
        self._vm.init(meta)

    def _commit_meta(self, meta: dict, base_version: int) -> None:
        self._vm.commit(meta, base_version)

    @classmethod
    def create(
        cls, spark: SparkSession, root: str, num_buckets: int = 32
    ) -> "Scd2History":
        os.makedirs(root, exist_ok=True)
        h = cls(spark, root)
        h._write_meta(
            {
                "epoch": -1,
                "prune_epoch": -1,
                "last_lsn": -1,
                "num_buckets": num_buckets,
                "bucket_dirs": {},
            }
        )
        return h

    # -- read ------------------------------------------------------------
    def last_epoch(self) -> int:
        return int(self._meta()["epoch"])

    def read(self) -> DataFrame:
        meta = self._meta()
        paths = [
            os.path.join(self.root, d, f"{_BUCKET}={b}")
            for b, d in meta["bucket_dirs"].items()
        ]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return self.spark.createDataFrame([], _SCHEMA)
        return self.spark.read.parquet(*paths).select(*_COLS)

    # -- apply -----------------------------------------------------------
    def _bucket_col(self):
        n = int(self._meta()["num_buckets"])
        return F.pmod(F.hash(F.col("conv_id")), F.lit(n))

    def apply(self, batch: DataFrame, epoch: int) -> dict:
        """Fold one ordered micro-batch of change events into the
        history.  Returns metrics; re-delivered epochs no-op."""
        meta = self._meta()
        if epoch <= int(meta["epoch"]):
            return {"epoch": epoch, "mode": "skipped", "buckets_rewritten": 0}
        # the batch feeds ~5 jobs below (bounds, inner history, fe, ct,
        # affected-bucket collect + joins); materialize it once
        was_cached = batch.is_cached
        if not was_cached:
            batch = batch.persist()
        try:
            return self._apply_inner(batch, epoch, meta)
        finally:
            if not was_cached:
                batch.unpersist()

    def _apply_inner(self, batch: DataFrame, epoch: int, meta: dict) -> dict:
        lo_hi = batch.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).collect()[0]
        if lo_hi["lo"] is None:
            meta["epoch"] = int(epoch)
            self._commit_meta(meta, int(meta["version"]))
            return {"epoch": epoch, "mode": "empty", "buckets_rewritten": 0}
        if int(lo_hi["lo"]) <= int(meta["last_lsn"]):
            raise OutOfOrderBatch(
                f"batch min lsn {lo_hi['lo']} <= history watermark "
                f"{meta['last_lsn']} (epoch {epoch})"
            )

        inner = scd2_history(batch)
        affected_convs = batch.select("conv_id").distinct()

        # first event in B per touched key (any op closes an open span)
        turn_events = batch.where(F.col("turn_idx").isNotNull())
        fe = (
            turn_events.groupBy("conv_id", "turn_idx")
            .agg(F.min_by("op", "lsn").alias("_fe_op"), F.min("lsn").alias("_fe_lsn"))
        )
        # first conv tombstone in B per conversation (closes EVERY open
        # span of the conversation — ordered batches put all open
        # valid_from_lsn below it)
        ct = (
            batch.where(F.col("turn_idx").isNull() & (F.col("op") == "D"))
            .groupBy("conv_id")
            .agg(F.min("lsn").alias("_ct_lsn"))
        )

        # a touched conversation's history lives only in its bucket:
        # read just the affected buckets (O(batch + touched convs)),
        # never the whole history
        affected = sorted(
            r[0]
            for r in affected_convs.select(self._bucket_col().alias("b"))
            .distinct()
            .collect()
        )
        kept_paths = [
            os.path.join(self.root, meta["bucket_dirs"][str(b)], f"{_BUCKET}={b}")
            for b in affected
            if str(b) in meta["bucket_dirs"]
        ]
        kept_paths = [p for p in kept_paths if os.path.isdir(p)]
        affected_hist = (
            self.spark.read.parquet(*kept_paths).select(*_COLS)
            if kept_paths
            else self.spark.createDataFrame([], _SCHEMA)
        )
        old = affected_hist.join(affected_convs, "conv_id", "leftsemi")
        closed_old = old.where(~F.col("is_current"))
        open_old = (
            old.where(F.col("is_current"))
            .join(fe, ["conv_id", "turn_idx"], "left")
            .join(ct, "conv_id", "left")
        )
        close_lsn = F.least(F.col("_fe_lsn"), F.col("_ct_lsn"))
        reason = (
            F.when(
                F.col("_ct_lsn").isNotNull()
                & (F.col("_fe_lsn").isNull() | (F.col("_ct_lsn") < F.col("_fe_lsn"))),
                F.lit("conv_delete"),
            )
            .when(F.col("_fe_op") == "D", F.lit("delete"))
            .when(F.col("_fe_lsn").isNotNull(), F.lit("update"))
        )
        resolved_open = open_old.select(
            "conv_id",
            "turn_idx",
            "valid_from_lsn",
            close_lsn.alias("valid_to_lsn"),
            reason.alias("end_reason"),
            close_lsn.isNull().alias("is_current"),
            "row_op",
            "role",
            "text",
            "tool",
            "ts",
        )

        fresh = closed_old.unionByName(resolved_open).unionByName(
            inner.select(*_COLS)
        )

        out = fresh
        if kept_paths:
            kept = affected_hist.join(affected_convs, "conv_id", "left_anti")
            out = kept.unionByName(fresh)

        out_dir = f"data-e{epoch}"
        (
            out.withColumn(_BUCKET, self._bucket_col())
            .repartition(len(affected) or 1, F.col(_BUCKET))
            # overwrite: a crash AFTER this write but BEFORE the meta
            # swap leaves an unreferenced dir of this exact name; the
            # re-delivered epoch must overwrite it, not crash-loop on
            # errorIfExists (nothing references a dir until the meta
            # commit below)
            .write.mode("overwrite").partitionBy(_BUCKET)
            .parquet(os.path.join(self.root, out_dir))
        )
        meta["bucket_dirs"].update({str(b): out_dir for b in affected})
        meta["epoch"] = int(epoch)
        meta["last_lsn"] = int(lo_hi["hi"])
        self._commit_meta(meta, int(meta["version"]))
        return {
            "epoch": epoch,
            "mode": "applied",
            "buckets_rewritten": len(affected),
            "last_lsn": int(lo_hi["hi"]),
        }

    def prune_closed_before(self, lsn: int, epoch: int) -> dict:
        """Audit retention: drop CLOSED versions whose interval ended
        at-or-below ``lsn`` (open versions and recently-closed ones
        survive — the current state is always reconstructible).  The
        SCD2 twin of the log compactor's tombstone retention: bounded
        history instead of unbounded growth.  A full-bucket rewrite
        committed as a new generation under the same single-writer
        contract.

        ``epoch`` guards PRUNE re-delivery only, against the prune's
        OWN counter (``prune_epoch``): sharing the apply counter would
        let a prune stamped with a large epoch silently no-op every
        subsequent streaming apply (their batch ids would all compare
        "re-delivered") and corrupt the history with a gap.
        """
        meta = self._meta()
        if epoch <= int(meta.get("prune_epoch", -1)):
            return {"epoch": epoch, "mode": "skipped", "pruned": 0}
        full = self.read()
        keep_pred = F.col("is_current") | (F.col("valid_to_lsn") > F.lit(int(lsn)))
        # one scan for both counts; the write below re-reads the kept
        # slice (2 history reads total, down from 3 + a re-evaluation)
        counts = full.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(keep_pred.cast("long")).alias("k"),
        ).collect()[0]
        n_before = int(counts["n"] or 0)
        n_after = int(counts["k"] or 0)
        n_buckets = int(meta["num_buckets"])
        out_dir = f"prune-e{epoch}"  # own namespace: never collides with apply's data-e*
        (
            full.where(keep_pred)
            .withColumn(_BUCKET, self._bucket_col())
            .repartition(n_buckets, F.col(_BUCKET))
            # overwrite crash debris (see apply)
            .write.mode("overwrite").partitionBy(_BUCKET)
            .parquet(os.path.join(self.root, out_dir))
        )
        meta["bucket_dirs"] = {str(b): out_dir for b in range(n_buckets)}
        meta["prune_epoch"] = int(epoch)
        self._commit_meta(meta, int(meta["version"]))
        return {"epoch": epoch, "mode": "pruned", "pruned": n_before - n_after}

    def _rewrite_buckets(self, touched: list[int], transform, prefix: str):
        """Shared compliance-rewrite kernel for :meth:`erase` /
        :meth:`redact`: read exactly the touched buckets' current
        generation, apply ``transform(df) -> df``, write ONE new
        generation dir, CAS-commit the bucket remap
        (:meth:`_commit_meta` — a racing streaming apply fails this op
        loud instead of being silently lost), then physically sweep
        the superseded copies of those buckets.  Returns ``None`` when
        no touched bucket has data (noop), else the new generation
        name.  Idempotent: re-running is a no-op rewrite, so no epoch
        counter is needed; crash debris is swept by :meth:`expire`."""
        import uuid as _uuid

        meta = self._meta()
        base_version = int(meta["version"])
        paths = [
            os.path.join(self.root, meta["bucket_dirs"][str(b)], f"{_BUCKET}={b}")
            for b in touched
            if str(b) in meta["bucket_dirs"]
        ]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        df = self.spark.read.parquet(*paths).select(*_COLS)
        out_dir = f"{prefix}-{_uuid.uuid4().hex[:8]}"
        # snapshot the sweep candidates BEFORE the CAS commit: a
        # generation dir created after this listing belongs to a writer
        # that read OUR committed meta (its copy of the touched buckets
        # is already transformed) and must not be swept; a dir that
        # exists now but commits later necessarily read the PRE-commit
        # meta, will lose the CAS, and is debris — safe to sweep
        candidates = set(os.listdir(self.root))
        (
            transform(df)
            .withColumn(_BUCKET, self._bucket_col())
            .repartition(len(touched), F.col(_BUCKET))
            .write.mode("overwrite").partitionBy(_BUCKET)
            .parquet(os.path.join(self.root, out_dir))
        )
        for b in touched:
            meta["bucket_dirs"][str(b)] = out_dir
        self._commit_meta(meta, base_version)
        self._sweep_superseded(touched, out_dir, candidates,
                              committed=meta)
        return out_dir

    def erase(self, conv_ids: list[str]) -> dict:
        """Key erasure (GDPR): drop EVERY interval of the given
        conversations — open and closed — from the history.  The SCD2
        sink is precisely where superseded text survives by design, so
        a compliance erasure that stops at the transcript table leaves
        the payload alive here; see
        :mod:`aqueduct_core_spark.operators.erase`.

        Bucket-granular like ``apply``'s dirty-bucket rewrites: only
        the buckets that can hold the keys are read and rewritten (one
        generation dir + CAS meta swap); see :meth:`_rewrite_buckets`.
        """
        from aqueduct_core_spark.catalog.table import bucket_of

        if not conv_ids:
            raise ValueError("erase: empty key list")
        uniq = list(dict.fromkeys(conv_ids))
        meta = self._meta()
        n_buckets = int(meta["num_buckets"])
        touched = sorted({bucket_of(c, n_buckets) for c in uniq})
        keys = self.spark.createDataFrame([(c,) for c in uniq], "conv_id string")
        erased = {"n": 0}

        def transform(df: DataFrame) -> DataFrame:
            # one scan for both counts (the write below is the second
            # and last read of the touched buckets — down from 3)
            counts = (
                df.join(
                    F.broadcast(keys.withColumn("_hit", F.lit(True))),
                    "conv_id",
                    "left",
                )
                .agg(F.sum(F.col("_hit").isNotNull().cast("long")).alias("hit"))
                .collect()[0]
            )
            erased["n"] = int(counts["hit"] or 0)
            return df.join(F.broadcast(keys), "conv_id", "left_anti")

        if self._rewrite_buckets(touched, transform, "erase") is None:
            return {"mode": "noop", "erased": 0, "buckets_rewritten": 0}
        return {
            "mode": "erased",
            "erased": erased["n"],
            "buckets_rewritten": len(touched),
        }

    def _sweep_superseded(
        self,
        touched: list[int],
        out_dir: str,
        candidates: set[str] | None = None,
        committed: dict | None = None,
    ) -> None:
        """Compliance sweep: a superseded generation dir may still be
        live for OTHER buckets, so expire() won't remove it — but the
        touched buckets' subdirs inside it are dead for reads the
        moment the meta swap lands (reads resolve via bucket_dirs
        only) and still hold the original text.  Delete them
        physically.  Idempotent: a crash here just leaves debris the
        next compliance op or expire() sweep removes.

        Concurrency: ``candidates`` (the pre-commit directory listing)
        scopes the sweep to generations that predate this op's CAS
        commit, and ``data-e*``/``prune-e*`` dirs with an epoch ABOVE
        the committed watermark are skipped — they are a racing
        writer's in-flight (or to-be-retried) generation, whose
        original attempt loses the CAS anyway and whose retry
        overwrites the dir wholesale.  Readers that pinned the
        pre-commit meta must be quiesced, the same operational
        contract as ``fold_deltas``/``remove_orphan_files``."""
        if candidates is None:
            candidates = set(os.listdir(self.root))
        max_epoch = int((committed or self._meta()).get("epoch", -1))
        max_prune = int((committed or self._meta()).get("prune_epoch", -1))
        for d in sorted(candidates):
            if not (d.startswith("data-e") or d.startswith("prune-e")
                    or d.startswith("erase-") or d.startswith("redact-")):
                continue
            if d == out_dir:
                continue
            if d.startswith("data-e"):
                try:
                    if int(d.removeprefix("data-e")) > max_epoch:
                        continue  # in-flight/retryable epoch dir
                except ValueError:
                    pass
            if d.startswith("prune-e"):
                try:
                    if int(d.removeprefix("prune-e")) > max_prune:
                        continue
                except ValueError:
                    pass
            for b in touched:
                shutil.rmtree(
                    os.path.join(self.root, d, f"{_BUCKET}={b}"),
                    ignore_errors=True,
                )

    def redact(
        self,
        pattern: str,
        replacement: str,
        conv_ids: list[str] | None = None,
    ) -> dict:
        """In-place redaction of history text — open AND superseded
        versions (the whole point: the history keeps text the live
        table no longer shows).  ``regexp_replace`` scoped to the
        given keys, or corpus-wide when ``conv_ids`` is None.  Row
        count, keys, lsns and interval bounds are invariant; same
        bucket-granular rewrite + physical sweep as :meth:`erase`,
        idempotent for any pattern whose replacement is a fixed
        point (e.g. a replacement that the pattern cannot re-match)."""
        from aqueduct_core_spark.catalog.table import bucket_of

        meta = self._meta()
        n_buckets = int(meta["num_buckets"])
        red = F.regexp_replace("text", pattern, replacement)
        if conv_ids is None:
            touched = sorted(int(b) for b in meta["bucket_dirs"])
            transform = lambda df: df.withColumn("text", red)  # noqa: E731
        else:
            if not conv_ids:
                raise ValueError("redact: empty key list")
            uniq = list(dict.fromkeys(conv_ids))
            touched = sorted({bucket_of(c, n_buckets) for c in uniq})
            keys = self.spark.createDataFrame(
                [(c, True) for c in uniq], "conv_id string, _redact boolean"
            )

            def transform(df: DataFrame) -> DataFrame:
                return (
                    df.join(F.broadcast(keys), "conv_id", "left")
                    .withColumn("text", F.when(F.col("_redact"), red)
                                .otherwise(F.col("text")))
                    .drop("_redact")
                    .select(*_COLS)
                )

        if self._rewrite_buckets(touched, transform, "redact") is None:
            return {"mode": "noop", "buckets_rewritten": 0}
        return {"mode": "redacted", "buckets_rewritten": len(touched)}

    def expire(self, grace_s: float = 3600.0) -> list[str]:
        """Remove data-e*/prune-e*/erase-* generation dirs no bucket
        references anymore, and CAS claim files below the current meta
        version (the current claim stays: :meth:`_meta` may still need
        it to roll a crashed pointer swap forward).

        Race guards (a generation dir is unreferenced between its write
        and its writer's CAS commit — sweeping it would let the commit
        succeed referencing deleted files): epoch-named dirs above the
        committed epoch belong to an in-flight apply/prune and are
        skipped structurally; uuid-named rewrite dirs (erase/redact)
        carry no ordering, so they are only swept once older than
        ``grace_s`` (pass 0 when the table is quiesced)."""
        import time as _time

        meta = self._meta()
        cur_epoch = int(meta["epoch"])
        cur_prune = int(meta.get("prune_epoch", -1))
        live = set(meta["bucket_dirs"].values())
        now = _time.time()
        removed = []
        for d in os.listdir(self.root):
            if d in live:
                continue
            if d.startswith(("data-e", "prune-e")):
                # each namespace is guarded by ITS epoch counter (prune
                # deliberately runs its own — see prune_closed_before)
                ceiling = cur_epoch if d.startswith("data-e") else cur_prune
                tail = d.split("-e", 1)[1]
                if tail.isdigit() and int(tail) > ceiling:
                    continue  # in-flight writer's generation
            elif d.startswith(("erase-", "redact-")):
                try:
                    if now - os.path.getmtime(os.path.join(self.root, d)) < grace_s:
                        continue  # possibly a racing rewrite mid-commit
                except FileNotFoundError:
                    continue
            else:
                continue
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
            removed.append(d)
        self._vm.cleanup()
        return removed
