"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The CDC-engine queries run over a change log derived deterministically
from the shared ``events`` table — the derivation lives in
``aqueduct_core_spark.sources.events_cdc`` expressed identically as a
Spark transform and as the DuckDB CTE prepended to every oracle, so a
hash match proves the *operator* semantics, not the mapping.

Query → SURVEY.md §2 operator map:

==========================  =================================================
cdc_merged_state            J1+J2/A2/W2 LWW resolution + hierarchical deletes
cdc_apply_full              end-to-end engine replay: batching (W1/O2),
                            MERGE (J7), schema evolution, exactly-once commit
cdc_erasure                 GDPR key erasure: atomic bucket-pruned rewrite
                            dropping whole conversations from table + deltas
cdc_version_diff            row-level semantic diff between two snapshot
                            versions (manifest-pruned, hash-only shuffle)
cdc_redaction               corpus-wide in-place text redaction (atomic
                            rewrite; keys/lsns invariant)
cdc_lww_latest              A2 per-key argmax (tombstone winners included)
cdc_page                    F1+F2+F3+F4+O1+O2 poll page
cdc_byte_page               W1 running-size byte-budget cut
cdc_count_by_op             A3 count-by-type
cdc_global_latest_offset    A1 global max offset
cdc_max_offset_prev_hour    A5 event-time-bounded max offset
cdc_consistency_sum         A4/J3 offset-consistency checksum
cdc_compact_log             T7/J2 retention compaction of the log
cdc_routing_filter          F3 cluster routing
cdc_tombstones              F5 tombstone predicate
doc_exact_dedup             exact dedup (hash groupBy)
doc_bm25_topk               BM25 lexical top-k (literal query terms →
                            map-side tf, one broadcast stats row; the
                            non-embedding retrieval sibling of
                            emb_cosine_topk)
doc_text_stats              token count / quality / lang-ID / fingerprint
emb_cosine_topk             brute-force cosine top-k (ANN baseline)
emb_pq_topk                 product-quantization ANN (16×64 sample-init
                            codebooks, 3 Lloyd iters, integer ADC scan
                            over 23×-compressed codes + exact rerank)
emb_ivfpq_topk              COMPOSED IVF-PQ: forest pruning → ADC cut
                            → exact rerank; oracle composes the same
                            two CTE fragments the single-stage rows use
emb_knn_join                broadcast k-NN join (probe set × base)
doc_minhash_pairs           MinHash+LSH near-dup pairs (md5 hash variant)
doc_simhash_candidates      SimHash banded candidates (md5 hash variant)
media_features              multimodal mapInPandas plumbing (scalar view)
cdc_routing_groups          F3 full cluster+location-group routing (J5 dim)
cdc_cluster_lookup          J4 cluster uuid→id broadcast lookup
cdc_max_offset_for_types    A6 max offset for consumer types
cdc_ttl_marked              F6/J1 two-phase TTL compaction, mark phase
cdc_hourly_throughput       A3×A5/T3 event-time windowed throughput
cdc_log_audit               change-log integrity: duplicate offsets +
                            offset holes in one aggregation
cdc_turn_integrity          hierarchical-contiguity audit: conversations
                            with non-dense live turn sequences
cdc_turn_loops              degenerate-generation detector: runs of
                            consecutive turns with identical normalized
                            text (gaps-and-islands per conversation)
cdc_turn_latency            per-conversation inter-turn latency profile
                            (gap seconds between LWW turn timestamps)
cdc_edit_magnitude          edit-size analytics over preference pairs
                            (Levenshtein, length delta, edit ratio)
cdc_op_transitions          CDC protocol-order profile: per-key op
                            transition matrix with strictness flags
cdc_epoch_audit             exactly-once bookkeeping audit with forged
                            violations (dup epoch / watermark regression
                            / lineage range breaches) — positive path
                            for every violation class
cdc_normalize_payload       Arrow-vectorized payload normalization (NFC
                            + control strip + whitespace collapse) over
                            deliberately dirtied text vs DuckDB's own
                            Unicode/RE2 stack
emb_decontaminate           embedding-similarity test-set decontamination
                            (broadcast benchmark, per-vector attribution)
emb_sketch_topk             Hamming-sketch scan + exact rerank (the
                            recall-engineered ANN path)
media_real_decode           REAL WAV (RIFF/PCM) + PNG (inflate/unfilter)
                            + JPEG (SOF marker walk) byte decode vs an
                            arithmetic oracle
cdc_time_travel             snapshot time travel (VERSION AS OF analog):
                            historical read from an immutable manifest
cdc_table_changes           table-level change feed between snapshot
                            versions (Iceberg CDF analog) — the MOR
                            delta files ARE the feed, zero extra writes
cdc_conv_rollup             incremental per-conversation rollup (dirty-
                            group recompute from the table change feed)
cdc_quarantine              dead-letter validation: first-violated-rule
                            stamping of malformed change events
cdc_envelope_roundtrip      Debezium-envelope wire adapter: to_json →
                            from_json round trip equals the source log
cdc_rename_evolution        metadata-only column rename mid-stream
                            (logical name mapping, zero rewrite)
cdc_partial_upserts         patch-semantics LWW over sparse row images
                            (latest non-null per column, delete resets)
cdc_envelope_dlq            envelope-level dead letters (corrupt JSON,
                            unknown op, missing source.lsn) by reason
doc_chunks                  overlapping token-window chunking (explode,
                            zero-shuffle)
doc_pii_redact              email/phone PII scrub with per-doc audit
                            counts (deterministic injected PII)
doc_pack_sequences          GPT-style concat-and-chunk packing into
                            fixed-token training sequences with per-doc
                            span attribution (one shuffle + explode)
doc_lm_score                CCNet-style unigram LM quality score
                            (corpus-trained top-K vocab, broadcast join)
cdc_changefeed              CDC change feed with before-images
                            (create/update/delete classification)
cdc_net_changes             net-changes collapse of an lsn window
                            (Iceberg-changelog / Delta-CDF contract)
cdc_asof_join               as-of join (latest conv-level event at-or-
                            before each turn event) — single-window shape
cdc_sessionize              gap-based sessionization per conversation
cdc_scd2_history            SCD type-2 audit history: validity interval
                            per key version, conv tombstones close open
                            versions (union-window, no range join)
cdc_scd2_incremental        the SAME history maintained incrementally
                            (Scd2History sink: per-epoch close/insert,
                            dirty-bucket rewrites) — equals the oracle
cdc_demux_routes            central-pipe fan-out: one replay loop demuxes
                            the log to routed replica tables, per-table
                            exactly-once, global epoch sequence
cdc_state_at_lsn            log time travel: point-in-time state at any
                            lsn from SCD2 validity intervals
cdc_conv_text               transcript assembly: merged state rendered as
                            ordered role/text lines per conversation
conv_sft_examples           SFT (context, target) extraction: each
                            target-role turn paired with its rendered
                            transcript prefix (one window shuffle)
cdc_preference_pairs        (rejected, chosen) preference pairs mined
                            from the CDC update history — superseded
                            versions of a current key vs its final text
cdc_pref_pairs_inc          the SAME pairs maintained INCREMENTALLY
                            (PreferencePairsView over the Scd2History
                            sink: dirty-bucket refresh, O(touched keys))
cdc_replica_diff            anti-entropy key diff: primary vs a replica
                            with lost + bit-rotted events (hash compare
                            engine-side, column compare oracle-side)
doc_sample                  deterministic hash-bucket corpus sampling
doc_stratified_sample       per-language sampling rates, one projection
doc_token_budget_mix        per-language TOKEN budget mixing: bounded
                            bucket histogram picks cutoffs, selection
                            stays a pure projection (no global sort)
doc_dsir_scores             DSIR importance log-weights vs the English
                            subset: two hashed-bigram multinomials
                            (broadcast 1024-row models), mean log-ratio
doc_dsir_select             Gumbel-top-k resampling over the DSIR
                            weights — deterministic seeded noise, the
                            draw replays bit-identically in the oracle
doc_top_bigrams             corpus top-k n-gram heavy hitters
doc_ngram_jaccard           exact n-gram Jaccard near-dup (inverted
                            shingle index, df-capped blocking)
doc_span_dedup              span-level exact-substring dedup (Lee et al.
                            ExactSubstr as k-gram windows + islands)
doc_index_dedup             incremental admission-control dedup: a
                            persisted LSH signature index over history,
                            incoming batch checked + Jaccard-verified
doc_decontaminate           test-set decontamination: k-gram overlap
                            vs a broadcast benchmark shingle set
doc_corpus_recipe           full corpus recipe (dedup->quality->decon->
                            sample) attrition report, one wide plan
cdc_point_lookup            serving-path point read: driver-side murmur3
                            bucket math prunes the scan to one bucket
cdc_rollback                snapshot rollback: undo a bad epoch as a new
                            commit; exactly-once watermark reverts too
doc_subword_tokens          BPE-ish subword token counts + fertility
doc_quality_filter          Gopher-style repetition/quality gates
doc_dup_clusters            connected-components duplicate clustering
                            (recursive-CTE oracle)
doc_dedup_keep_best         quality-aware cluster resolution: keep the
                            highest-quality member, smallest-id ties
emb_ivf_forest              trained IVF FOREST (18 tables × 128 cells,
                            global top-36 best-bin-first probe): the
                            structurally-pruned ANN path at mean recall
                            ≥ 0.8 @ ≤ 25% scanned — integer-quantized
                            training + assignment + probing replayed
                            bit-identically in SQL
emb_forest_index_inc        the forest index PERSISTED and maintained
                            incrementally (frozen codebooks, batched
                            adds, tombstone retraction + re-add) — must
                            equal the one-shot build (same oracle)
emb_semantic_dedup          SemDeDup-style semantic dedup: IVF-cell
                            clustering bounds the quadratic cost, then
                            within-cell smaller-id cosine neighbors drop
emb_near_dup                embedding-cosine near-dup pairs (LSH-blocked,
                            exact-verified, never all-pairs)
cdc_conv_near_dup           CDC → corpus composition: minhash near-dup
                            over transcripts assembled from merged state
cdc_conv_quality            Gopher quality gates over the CDC-derived
                            conversation corpus (same composition)
==========================  =================================================

Every query has a DuckDB oracle — zero ``no_oracle`` rows.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from aqueduct_core_spark.sources.events_cdc import load_changes, oracle


def _workdir(prefix: str) -> str:
    """Scratch dir for engine-path queries, under ONE per-process root
    that is removed at interpreter exit.  Bare mkdtemp leaked a full
    replayed table copy per call (x3 under bench best-of-K, never
    reclaimed across verify/bench rounds); the returned DataFrame reads
    the dir lazily, so cleanup must outlive the caller's collect — at
    process exit, not per call."""
    import atexit
    import shutil

    global _WORK_ROOT
    if _WORK_ROOT is None:
        _WORK_ROOT = tempfile.mkdtemp(prefix="aq-entry-work-")
        atexit.register(shutil.rmtree, _WORK_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_WORK_ROOT)


_WORK_ROOT = None

# SQL fragment shared by every LWW-state oracle: winner per key, alive
# iff not a tombstone and above the conversation-delete watermark.
_STATE_BODY = """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
conv_del AS (
  SELECT conv_id, max(lsn) AS conv_del_lsn
  FROM changes WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns
),
state AS (
  SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts, w.lsn
  FROM w LEFT JOIN conv_del ON w.conv_id = conv_del.conv_id
  WHERE rn = 1 AND op <> 'D'
    AND (conv_del_lsn IS NULL OR w.lsn > conv_del_lsn)
)
"""

#: SCD2-history → (rejected, chosen) preference pairs, as reusable CTEs
#: ending in ``pairs`` — shared by cdc_preference_pairs (verbatim),
#: cdc_pref_pairs_inc (same result via the incremental view) and
#: cdc_edit_magnitude (per-pair edit analytics).
_PREF_PAIRS_CTES = """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
seq AS (
  SELECT conv_id, turn_idx, lsn, op, role, text,
         lead(lsn) OVER w AS turn_to, lead(op) OVER w AS next_op
  FROM turns WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY lsn)
),
vers AS (SELECT * FROM seq WHERE op IN ('I','U')),
tomb AS (SELECT conv_id, lsn FROM changes WHERE turn_idx IS NULL AND op = 'D'),
cc AS (
  SELECT v.conv_id, v.turn_idx, v.lsn, min(t.lsn) AS conv_close
  FROM vers v LEFT JOIN tomb t ON v.conv_id = t.conv_id AND t.lsn >= v.lsn
  GROUP BY 1, 2, 3
),
hist AS (
  SELECT v.conv_id, v.turn_idx, v.lsn AS valid_from_lsn,
         CASE WHEN cc.conv_close IS NOT NULL
                   AND (v.turn_to IS NULL OR cc.conv_close < v.turn_to)
              THEN 'conv_delete'
              WHEN v.next_op = 'D' THEN 'delete'
              WHEN v.turn_to IS NOT NULL THEN 'update' END AS end_reason,
         least(v.turn_to, cc.conv_close) IS NULL AS is_current,
         v.role, v.text
  FROM vers v JOIN cc USING (conv_id, turn_idx, lsn)
),
r AS (
  SELECT conv_id, turn_idx, valid_from_lsn, end_reason, role, text,
         row_number() OVER w AS rn,
         first_value(valid_from_lsn) OVER w AS chosen_lsn,
         first_value(role) OVER w AS chosen_role,
         first_value(text) OVER w AS chosen_text,
         first_value(is_current) OVER w AS latest_current,
         count(*) OVER (PARTITION BY conv_id, turn_idx) AS n_versions
  FROM hist
  WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY valid_from_lsn DESC)
),
pairs AS (
  SELECT conv_id, turn_idx, valid_from_lsn AS rejected_lsn,
         role AS rejected_role, text AS rejected_text,
         chosen_lsn, chosen_role, chosen_text, n_versions
  FROM r WHERE rn > 1 AND latest_current AND end_reason = 'update'
)
"""

#: English stopwords — keep in sync with aqueduct_core_spark.functions.text
_SW = "'the','a','of','to','and','in','is','it','you','that'"


# ---------------------------------------------------------------------------
# CDC queries
# ---------------------------------------------------------------------------

def _q_merged_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import LSN_COLUMN, OP_DELETE

    changes = load_changes(spark, sf_dir)
    winners, _ = lww.resolve_batch(changes, ["role", "text", "tool", "ts"])
    return winners.where(F.col("op") != OP_DELETE).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_apply_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: split the log at max(lsn)//2, apply the first
    half without the ``tool`` column (epoch-0 schema), then the second
    half with it (additive evolution), via ordered byte/row-budgeted
    micro-batch replay into a snapshot-committed table; return the final
    merged state."""
    import pyspark.sql.types as T

    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2

    epoch0_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField(LSN_COLUMN, T.LongType(), False),
        ]
    )
    root = _workdir("aqueduct_apply_full_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16, schema=epoch0_schema)
    cfg = EngineConfig(
        num_buckets=16,
        # big enough that sf0.1 replays in a few epochs (per-epoch
        # driver floors dominate toy-scale timings), small enough that
        # sf0.01 still spans multiple epochs across the two segments
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    )
    hi = split * 2  # split = max(lsn) // 2, computed above
    replay(table, changes.where(F.col("lsn") < split).drop("tool"), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    replay(table, changes.where(F.col("lsn") >= split), cfg,
           lsn_bounds=(split, hi + 1))
    return table.read_internal().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR key erasure on the live engine path: replay the full log
    into a snapshot-committed table, then ``erase_conversations`` of
    every conversation whose md5 starts with 'a' (~1/16 of keys,
    deterministic and oracle-expressible) — one atomic, bucket-pruned
    commit that also clears the touched buckets' MOR deltas.  Returns
    the surviving state; the oracle proves both that the keys are gone
    AND that every other conversation survived bit-identically."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.erase import erase_conversations
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    root = _workdir("aqueduct_erasure_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=300_000,
        max_bytes_per_trigger=96 * 1024 * 1024,
    )
    replay(table, changes, cfg)
    keys = [
        r[0]
        for r in changes.select("conv_id").distinct()
        .where(F.substring(F.md5(F.col("conv_id")), 1, 1) == "a")
        .collect()
    ]
    if keys:  # a tiny corpus may have no 'a'-prefixed keys; erasing
        # nothing == the oracle's declarative "all except prefix-'a'"
        # (erase_conversations itself fails loud on [], by contract)
        erase_conversations(table, keys)
    return table.read_internal().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide in-place redaction on the live engine path: replay
    the full log, then ``redact_conversations`` rewrites every row's
    text with ``regexp_replace('[0-9]+' → '<num>')`` in one atomic
    commit (keys/lsns invariant, MOR deltas folded in the same commit);
    returns the redacted state."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.erase import redact_conversations
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    root = _workdir("aqueduct_redact_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=300_000,
        max_bytes_per_trigger=96 * 1024 * 1024,
    )
    replay(table, changes, cfg)
    redact_conversations(table, r"[0-9]+", "<num>")
    return table.read_internal().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level semantic diff between two snapshot versions: replay
    the log's first half, pin that version, replay the rest, then
    ``version_diff(v_mid → current)`` — added/removed/changed keys with
    both sides' lsn.  Manifest-pruned to buckets whose file lists
    differ; each side reduces to (key, lsn, hash) before the join so
    transcript text never shuffles.  Works across folds/rewrites where
    the delta-based feed fails loud."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.antientropy import version_diff
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2
    root = _workdir("aqueduct_vdiff_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=300_000,
        max_bytes_per_trigger=96 * 1024 * 1024,
    )
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    v_mid = table.catalog.current_version()
    replay(table, changes.where(F.col("lsn") >= split), cfg)
    return version_diff(table, v_mid)


def _q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained SCD2 history sink: the log applied in
    two ordered segments through Scd2History (per-epoch close/insert,
    dirty-bucket rewrites) must hash-match the one-pass batch operator's
    oracle — the dbt-snapshot sink on exactly-once terms."""
    from aqueduct_core_spark.operators.scd2 import Scd2History

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2
    root = _workdir("aqueduct_scd2_hist_")
    h = Scd2History.create(spark, root, num_buckets=16)
    h.apply(changes.where(F.col("lsn") < split), epoch=0)
    h.apply(changes.where(F.col("lsn") >= split), epoch=1)
    return h.read()


def _q_conv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript assembly: each conversation's merged state rendered
    as ordered `role: text` lines — the serving/training payload view."""
    from aqueduct_core_spark.operators.rollup import conversation_text

    return conversation_text(_q_merged_state(spark, sf_dir))


def _q_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (context, target) extraction over the merged state: every
    'purchase'-role turn becomes a target with the rendered transcript
    prefix as its context — one window shuffle, prefix rendered once."""
    from aqueduct_core_spark.functions.examples import sft_examples

    return sft_examples(
        _q_merged_state(spark, sf_dir), target_role="purchase"
    )


def _q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rejected, chosen) preference pairs mined from the CDC update
    history: superseded versions of a still-current key pair with its
    final version — the dataset shape only the change log can produce."""
    from aqueduct_core_spark.functions.examples import preference_pairs

    return preference_pairs(load_changes(spark, sf_dir))


def _q_pref_pairs_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME preference pairs maintained INCREMENTALLY: the log
    applies to an Scd2History sink in two ordered epochs and a
    PreferencePairsView refreshes after each — dirty-bucket recompute
    only; the result must equal the batch operator (the oracle is the
    cdc_preference_pairs SQL verbatim)."""
    from aqueduct_core_spark.functions.examples import PreferencePairsView
    from aqueduct_core_spark.operators.scd2 import Scd2History

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2
    root = _workdir("aqueduct_pref_view_")
    h = Scd2History.create(spark, f"{root}/hist", num_buckets=16)
    v = PreferencePairsView.create(spark, f"{root}/pairs")
    h.apply(changes.where(F.col("lsn") < split), epoch=0)
    v.refresh(h)
    h.apply(changes.where(F.col("lsn") >= split), epoch=1)
    v.refresh(h)
    return v.read()


def _q_conv_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → corpus composition in one query: the merged LWW state is
    assembled into per-conversation transcripts (cdc_conv_text) and the
    DERIVED corpus runs the identical minhash→LSH→exact-Jaccard
    pipeline as doc_minhash_pairs — near-duplicate conversations found
    straight off the engine's own state, the dedup-before-training pass
    a transcript pipeline actually runs."""
    from aqueduct_core_spark.functions.dedup import minhash_dedup
    from aqueduct_core_spark.operators.rollup import conversation_text

    docs = conversation_text(_q_merged_state(spark, sf_dir))
    return minhash_dedup(
        docs, text_col="conv_text", id_col="conv_id", threshold=0.5,
        hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_conv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality gates over the CDC-derived conversation corpus:
    merged state → assembled transcripts → repetition/length gates —
    the filter pass a transcript-training pipeline runs on the engine's
    own output (same composition shape as cdc_conv_near_dup)."""
    from aqueduct_core_spark.functions.text import gopher_quality_filter
    from aqueduct_core_spark.operators.rollup import conversation_text

    docs = conversation_text(_q_merged_state(spark, sf_dir)).select(
        "conv_id", F.col("conv_text").alias("text")
    )
    return gopher_quality_filter(
        docs, min_input_partitions=spark.sparkContext.defaultParallelism,
    ).select(
        "conv_id", "n_words", "mean_word_len", "dup_word_frac",
        "top_bigram_frac", "keep",
    )


def _q_state_at_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log time travel: LWW + hierarchical-delete state as of lsn 8000,
    reconstructed from SCD2 validity intervals (no snapshot needed)."""
    from aqueduct_core_spark.operators.temporal import state_at_lsn

    return state_at_lsn(load_changes(spark, sf_dir), lsn=8000)


def _q_demux_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-pipe fan-out: ONE replay loop demuxes the log to two
    routed replica tables (cluster parity routing — conv-consistent),
    per-table exactly-once commits; returns the union of the replicas'
    states tagged by route.  Must equal the full LWW state partitioned
    by each conversation's cluster parity."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay_demux

    changes = load_changes(spark, sf_dir)
    root = _workdir("aqueduct_demux_")
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    )
    tables = {
        r: ParquetTranscriptTable.create(spark, f"{root}/route-{r}", num_buckets=16)
        for r in (0, 1)
    }
    routes = {r: (F.col("cluster_id") % 2 == r) for r in (0, 1)}
    replay_demux(tables, changes, routes, cfg)
    out = None
    for r in sorted(tables):
        d = tables[r].read_internal().select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.col(LSN_COLUMN).alias("lsn"),
            F.lit(int(r)).cast("int").alias("route"),
        )
        out = d if out is None else out.unionByName(d)
    return out


def _q_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback: apply the log in two halves, roll back the
    second (the 'bad epoch'), return the state — which must equal the
    first half's merged state exactly, with the exactly-once watermark
    reverted so replay could re-apply the undone range."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2
    root = _workdir("aqueduct_rollback_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    )
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    v_good = table.catalog.current_version()
    replay(table, changes.where(F.col("lsn") >= split), cfg)
    table.rollback(v_good)
    return table.read_internal().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path point lookup: replay the log into a bucketed table,
    then read ONE conversation (the state's min conv_id) via
    ``read_conversation`` — driver-side murmur3 bucket math prunes the
    scan to 1/num_buckets of the table's files before the pushed
    conv_id equality reads a row."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    root = _workdir("aqueduct_point_lookup_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    replay(table, changes, EngineConfig(
        num_buckets=16,
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    ))
    cid = table.read().agg(F.min("conv_id")).collect()[0][0]
    return table.read_conversation(cid).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _q_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import LSN_COLUMN

    turn_events, _ = lww.split_hierarchy(load_changes(spark, sf_dir))
    return lww.argmax_winners(turn_events, ["role", "text", "tool", "ts"]).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "op",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources import changes as src

    return src.page(
        load_changes(spark, sf_dir),
        start_lsn=1000,
        limit=500,
        ops=["I", "U"],
        cluster_ids=[1, 2, 3],
        end_lsn=9000,
    )


def _q_byte_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators.batching import cut_page_by_bytes
    from aqueduct_core_spark.sources import changes as src

    page = src.page(load_changes(spark, sf_dir), start_lsn=0, limit=2000)
    return cut_page_by_bytes(page, max_batch_size=100_000, overhead_per_msg=0)


def _q_count_by_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators.compact import count_by_type

    return count_by_type(load_changes(spark, sf_dir))


def _q_global_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_changes(spark, sf_dir).agg(F.max("lsn").alias("latest_lsn"))


def _q_max_prev_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = load_changes(spark, sf_dir)
    threshold = changes.agg(F.date_trunc("hour", F.max("ts")).alias("t"))
    return (
        changes.join(F.broadcast(threshold))
        .where(F.col("ts") <= F.col("t"))
        .agg(F.max("lsn").alias("max_lsn_prev_hour"))
    )


def _q_consistency_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import LSN_COLUMN, OP_DELETE

    winners, _ = lww.resolve_batch(load_changes(spark, sf_dir), ["role", "text", "tool", "ts"])
    return (
        winners.where(F.col("op") != OP_DELETE)
        .agg(F.sum(LSN_COLUMN).cast("long").alias("consistency_sum"))
    )


def _q_compact_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from aqueduct_core_spark.operators.compact import compact_log

    changes = load_changes(spark, sf_dir)
    max_ts = changes.agg(F.max("ts")).collect()[0][0]
    return compact_log(
        changes,
        threshold=max_ts - dt.timedelta(days=10),
        deletions_threshold=max_ts - dt.timedelta(days=20),
    )


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (Iceberg ``VERSION AS OF`` analog): replay
    the first half of the log, remember the snapshot version, replay
    the rest — then read the table AS OF the remembered version.  The
    manifest is immutable, so the historical read returns exactly the
    first half's merged state even though the table has moved on."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2

    root = _workdir("aqueduct_time_travel_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    )
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    as_of = table.catalog.current_version()
    replay(table, changes.where(F.col("lsn") >= split), cfg,
           lsn_bounds=(split, split * 2 + 1))
    return table.read_internal(version=as_of).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level change feed (Iceberg CDF analog): replay the first
    half of the log, remember the version, replay the second half as ONE
    epoch — then read the RESOLVED changes committed since that version
    straight from the manifest diff (zero write-side bookkeeping: the
    MOR delta files are the feed).  One row per changed turn key (winner
    op + after-image) plus the conversation-delete watermark rows."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.schema import LSN_COLUMN
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2

    root = _workdir("aqueduct_table_changes_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    # single-epoch halves (the oracle models per-key winners per half);
    # fold disabled so the interval stays unfolded
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=50_000_000,
        max_bytes_per_trigger=16 * 1024 * 1024 * 1024,
        mor_fold_every=10**9,
    )
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    v1 = table.catalog.current_version()
    replay(table, changes.where(F.col("lsn") >= split), cfg,
           lsn_bounds=(split, split * 2 + 1))
    return table.changes_between(v1).select(
        "conv_id", "turn_idx", "op", "role", "text", "tool", "ts",
        F.col(LSN_COLUMN).alias("lsn"),
    )


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, overlap 8) — one
    explode, no shuffle."""
    from aqueduct_core_spark.functions.text import chunk_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return chunk_docs(docs, size=32, overlap=8)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: the corpus as one
    deterministic token stream cut into 512-token training sequences,
    one row per (doc, sequence) span — the attribution a packed-batch
    loader needs for cross-document attention masking."""
    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return pack_token_stream(docs, budget=512, n_shards=16)


def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality score: mean log-probability per
    doc under a corpus-trained top-1000 unigram model (train pass +
    score pass, broadcast vocab, text never shuffles)."""
    from aqueduct_core_spark.functions.text import unigram_logprob_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return unigram_logprob_scores(docs, top_k=1000)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus.  The synthetic documents carry no PII,
    so a deterministic contact line is injected into every 7th doc —
    expressed identically in the oracle — and the operator must find,
    count and redact exactly those."""
    from aqueduct_core_spark.functions.text import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-123-4567"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return redact_pii(injected)


def _q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter validation: corrupt a deterministic slice of the log
    (bogus op every lsn%101, dropped payload every lsn%103) — expressed
    identically in the oracle — and return the quarantined rows with
    their first-violated-rule reason."""
    from aqueduct_core_spark.operators.validate import split_quarantine

    c = load_changes(spark, sf_dir)
    injected = c.withColumn(
        "op", F.when(F.col("lsn") % 101 == 0, "X").otherwise(F.col("op"))
    ).withColumn(
        "text",
        F.when(
            (F.col("lsn") % 103 == 0)
            & F.col("turn_idx").isNotNull()
            & (F.col("op") != "D"),
            F.lit(None).cast("string"),
        ).otherwise(F.col("text")),
    )
    _, invalid = split_quarantine(injected)
    return invalid.select("lsn", "op", "conv_id", "turn_idx", "reason")


def _q_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename mid-stream: apply the first half of
    the log, rename tool→tool_name and role→speaker (no rewrite — the
    snapshot's file list is asserted unchanged), apply the second half
    addressed by the NEW names, and read the merged state back under
    the logical schema.  Oracle: the plain merged state with the
    columns aliased."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.evolve import rename_column
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2

    root = _workdir("aqueduct_rename_")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=16)
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=150_000,
        max_bytes_per_trigger=48 * 1024 * 1024,
    )
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    files_before = table.catalog.current()["files"]
    rename_column(table, "tool", "tool_name")
    rename_column(table, "role", "speaker")
    assert table.catalog.current()["files"] == files_before, "rename rewrote data!"
    second = (
        changes.where(F.col("lsn") >= split)
        .withColumnRenamed("tool", "tool_name")
        .withColumnRenamed("role", "speaker")
    )
    replay(table, second, cfg, lsn_bounds=(split, split * 2 + 1))
    return table.read().select("conv_id", "turn_idx", "speaker", "text",
                               "tool_name", "ts")


def _q_partial_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-semantics LWW over sparse row images: updates carry only
    the changed columns (role nulled at lsn%2, text at lsn%3 — expressed
    identically in the oracle), and the merged value of each column is
    its latest non-null write above the key's tombstone/conversation
    watermarks (MySQL minimal-row-image / Debezium partial-update
    semantics).  One hash aggregation, no per-key join."""
    from aqueduct_core_spark.operators.lww import partial_merged_state

    c = load_changes(spark, sf_dir)
    is_u = F.col("op") == "U"
    sparse = c.withColumn(
        "role", F.when(is_u & (F.col("lsn") % 2 == 0), None).otherwise(F.col("role"))
    ).withColumn(
        "text", F.when(is_u & (F.col("lsn") % 3 == 0), None).otherwise(F.col("text"))
    )
    return partial_merged_state(sparse)


def _q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope wire adapter: serialize the whole change log to
    JSON envelopes (Kafka value shape) and parse it back — the output
    must equal the original log column-for-column (ts through epoch
    micros, event_size recomputed from the payload, deletes carrying
    their key image in `before`).  Zero Python, zero shuffle."""
    from aqueduct_core_spark.sources.envelope import (
        split_envelopes,
        to_envelope_json,
    )

    changes = load_changes(spark, sf_dir)
    ok, _ = split_envelopes(to_envelope_json(changes))
    return ok


def _q_envelope_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope-level dead letters: corrupt deterministic slices of the
    serialized wire stream (truncated JSON at lsn%101, unknown op at
    lsn%103, missing source.lsn at lsn%107 — first rule wins, expressed
    identically in the oracle) and count each first-violation reason."""
    from aqueduct_core_spark.sources.envelope import (
        split_envelopes,
        to_envelope_json,
    )

    env = to_envelope_json(load_changes(spark, sf_dir)).select("value")
    lsn = F.regexp_extract("value", '"lsn":(\\d+)', 1).cast("long")
    corrupted = env.select(
        F.when(lsn % 101 == 0, F.concat(F.lit("{oops "), F.col("value")))
        .when(
            lsn % 103 == 0,
            F.regexp_replace("value", '^\\{"op":"[a-z]"', '{"op":"x"'),
        )
        .when(
            lsn % 107 == 0,
            F.regexp_replace("value", '"lsn":\\d+,', ""),
        )
        .otherwise(F.col("value"))
        .alias("value")
    )
    _, bad = split_envelopes(corrupted)
    return bad.groupBy("reason").agg(F.count("*").alias("n"))


def _q_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-conversation rollup: replay the first half of the
    log, full-refresh the rollup, replay the rest, refresh again — the
    second refresh recomputes ONLY the conversations the second half
    touched (dirty-group recompute off the table change feed) yet the
    materialized contents must equal a from-scratch aggregate over the
    final merged state (the oracle)."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.rollup import ConvRollup
    from aqueduct_core_spark.streaming.pipeline import replay

    changes = load_changes(spark, sf_dir)
    split = int(changes.agg(F.max("lsn")).collect()[0][0]) // 2

    root = _workdir("aqueduct_conv_rollup_")
    # fold disabled so the second refresh exercises the incremental path
    cfg = EngineConfig(
        num_buckets=16,
        max_events_per_trigger=50_000_000,
        max_bytes_per_trigger=16 * 1024 * 1024 * 1024,
        mor_fold_every=10**9,
    )
    table = ParquetTranscriptTable.create(spark, root + "/t", num_buckets=16)
    rollup = ConvRollup.create(spark, root + "/r", num_buckets=16)
    replay(table, changes.where(F.col("lsn") < split), cfg,
           start_epoch=0, start_lsn=0, lsn_bounds=(0, split - 1))
    m0 = rollup.refresh(table)
    replay(table, changes.where(F.col("lsn") >= split), cfg,
           lsn_bounds=(split, split * 2 + 1))
    m1 = rollup.refresh(table)
    assert m0["mode"] == "full" and m1["mode"] == "incremental", (m0, m1)
    return rollup.read()


def _q_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources.changes import changefeed

    return changefeed(load_changes(spark, sf_dir))


def _q_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources.changes import net_changes

    return net_changes(load_changes(spark, sf_dir), start_lsn=2000, end_lsn=12000)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: annotate every turn event with the conversation-level
    tombstone watermark in effect at its lsn (the hierarchical-delete
    relationship, expressed as a reusable as-of operator)."""
    from aqueduct_core_spark.operators.temporal import asof_join_log

    changes = load_changes(spark, sf_dir)
    turns = changes.where(F.col("turn_idx").isNotNull()).select(
        "lsn", "conv_id", "turn_idx", "op"
    )
    conv_del = changes.where(F.col("turn_idx").isNull()).select(
        "conv_id", "lsn", F.col("lsn").alias("conv_del_lsn")
    )
    return asof_join_log(
        turns, conv_del, keys=["conv_id"], ord_col="lsn",
        right_payload=["conv_del_lsn"], suffix="",
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.operators.temporal import sessionize

    return sessionize(load_changes(spark, sf_dir), gap_minutes=30)


def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 audit history: one validity interval per version of
    each (conv_id, turn_idx), conv-level tombstones closing open
    versions at-or-below their offset (hierarchical-delete rule)."""
    from aqueduct_core_spark.operators.temporal import scd2_history

    return scd2_history(load_changes(spark, sf_dir))


def _q_replica_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy key diff: a replica whose input log lost every
    ``lsn % 101 == 0`` event and bit-rotted the text of every
    ``lsn % 103 == 0`` event, diffed against the primary state.  The
    engine compares per-row 64-bit hashes (text never shuffles); the
    oracle compares the columns directly — same divergence set."""
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.operators.antientropy import key_diff
    from aqueduct_core_spark.schema import LSN_COLUMN, OP_DELETE

    def _state(ch: DataFrame) -> DataFrame:
        winners, _ = lww.resolve_batch(ch, ["role", "text", "tool", "ts"])
        return winners.where(F.col("op") != OP_DELETE).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts", LSN_COLUMN
        )

    changes = load_changes(spark, sf_dir)
    rlog = changes.where(F.col("lsn") % 101 != 0).withColumn(
        "text",
        F.when(
            (F.col("lsn") % 103 == 0) & F.col("text").isNotNull(),
            F.concat(F.col("text"), F.lit("!bitrot")),
        ).otherwise(F.col("text")),
    )
    return key_diff(
        _state(changes), _state(rlog), payload_cols=["role", "text", "tool", "ts"]
    )


def _q_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources import changes as src

    return src.routing_filter(load_changes(spark, sf_dir), cluster_ids=[0, 3, 5]).select(
        "lsn", "conv_id", "turn_idx", "op", "cluster_id"
    )


def _q_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources import changes as src

    return src.tombstones(load_changes(spark, sf_dir)).select(
        "lsn", "conv_id", "turn_idx", "cluster_id"
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.functions.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


_BM25_TERMS = ["hash", "merge", "vector", "window"]


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-20 for a fixed 4-term query — the non-embedding
    retrieval sibling of emb_cosine_topk (decontamination sweeps / dedup
    candidate generation when no embedding exists).  Literal query terms
    → per-doc term frequencies are map-side array filters (corpus text
    never shuffles); one broadcast 1-row stats pass (N, Σdl, per-term
    df — all exact integers); contributions fold in fixed term order
    with the shared floor-round6, so DuckDB replays the ranking
    bit-identically."""
    from aqueduct_core_spark.functions.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=20)


def _bm25_oracle(k1: float = 1.2, b: float = 0.75, kk: int = 20) -> str:
    terms = _BM25_TERMS
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"((ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        f" * (base.tf{i} * {k1 + 1.0}))"
        f" / (base.tf{i} + {k1} * (1.0 - {b} + {b}"
        f" * (base.dl / (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))))"
        for i in range(len(terms))
    )
    match = " OR ".join(f"base.tf{i} > 0" for i in range(len(terms)))
    return f"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
base AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM d
),
s AS (
  SELECT count(*) AS n, sum(dl) AS sdl,
         {df_cols}
  FROM base
)
SELECT base.doc_id,
       floor(({contribs}) * 1000000 + 0.5) / 1000000 AS score
FROM base, s
WHERE {match}
ORDER BY score DESC, base.doc_id LIMIT {kk}
"""


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.functions import text as tx

    c = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        tx.token_count(c).alias("n_tokens"),
        tx.alpha_ratio(c).alias("alpha_ratio"),
        tx.stopword_ratio(c).alias("sw_ratio"),
        tx.quality_score(c).alias("quality"),
        tx.detect_lang(c).alias("lang_pred"),
        tx.fingerprint(c).alias("fp"),
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = _embs(spark, sf_dir).where(F.col("vec_id") == 0).select("embedding").collect()[0]
    return [float(x) for x in row[0]]


def _q_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counts + fertility (subword/whitespace
    ratio) per document — the token-budget estimator a pretraining
    pipeline runs over every corpus."""
    from aqueduct_core_spark.functions import text as tx

    c = F.col("text")
    n_ws = tx.token_count(c)
    n_sub = tx.subword_token_count(c)
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_sub.alias("n_subword"),
        F.when(n_ws == 0, F.lit(0.0))
        .otherwise(tx.round6(n_sub / n_ws))
        .alias("fertility"),
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality gates: word-count + mean-word-
    length bounds, duplicate-word fraction, top-bigram fraction → keep
    flag, computed with the zero-shuffle per-row run-length fold
    (0.63 s at sf0.1 local[32] against 1.03 s for the retired explode
    formulation once the input is spread across the cores — history in
    BENCH.md)."""
    from aqueduct_core_spark.functions.text import gopher_quality_filter

    return gopher_quality_filter(
        _docs(spark, sf_dir),
        min_input_partitions=spark.sparkContext.defaultParallelism,
    ).select(
        "doc_id", "n_words", "mean_word_len", "dup_word_frac",
        "top_bigram_frac", "keep",
    )


def _q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash-bucket sample of the corpus — shuffle-free
    projection+filter, reproducible across runs/partitionings/engines
    (the md5 bucket arithmetic reruns bit-exactly in the oracle)."""
    from aqueduct_core_spark.functions.sampling import hash_sample

    return hash_sample(_docs(spark, sf_dir), rate_pct=10, seed=42).select(
        "doc_id", "sample_bucket"
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates (keep more of the rare languages,
    less of the head) — still a pure projection+filter, zero shuffle."""
    from aqueduct_core_spark.functions.sampling import stratified_hash_sample

    return stratified_hash_sample(
        _docs(spark, sf_dir),
        rates={"en": 10, "zh": 100, "fr": 50},
        stratum_col="lang",
        default_rate_pct=20,
        seed=42,
    ).select("doc_id", "lang", "sample_bucket")


def _q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing under per-language TOKEN budgets at hash-bucket
    granularity: the bounded (lang × 100)-row histogram picks each
    language's bucket cutoff, selection stays a pure projection+filter
    (no per-stratum global sort).  Unlisted languages are dropped."""
    from aqueduct_core_spark.functions.sampling import token_budget_mix
    from aqueduct_core_spark.functions.text import token_count

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", token_count(F.col("text")).cast("int").alias("n_tokens")
    )
    kept, _ = token_budget_mix(
        docs,
        budgets={"en": 20_000, "fr": 5_000, "zh": 100_000_000},
        stratum_col="lang",
        token_col="n_tokens",
        seed=42,
    )
    return kept.select("doc_id", "lang", "n_tokens", "sample_bucket")


def _q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights of the whole corpus against the
    English subset as the target: two hashed-bigram multinomials
    (bounded 1024-row models, broadcast), mean smoothed log-ratio per
    document — the paper's data-selection signal as one query."""
    from aqueduct_core_spark.functions.importance import dsir_scores

    docs = _docs(spark, sf_dir)
    return dsir_scores(
        docs,
        docs.where(F.col("lang") == "en"),
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's selection step: Gumbel-top-k resampling over the
    importance weights — k docs sampled without replacement with
    probability ∝ exp(score/temperature), the noise derived
    deterministically from the seeded hash so the draw replays
    bit-identically in the oracle."""
    from aqueduct_core_spark.functions.importance import gumbel_topk_select

    return gumbel_topk_select(_q_dsir_scores(spark, sf_dir), k=100)


def _q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 word bigrams: the heavy-hitter/vocabulary query —
    explode → partial-agg count → TakeOrderedAndProject top-k."""
    from aqueduct_core_spark.functions.text import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=50)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.functions.similarity import cosine_topk

    return cosine_topk(_embs(spark, sf_dir), _query_vec(spark, sf_dir), k=20)


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.functions.similarity import knn_join_bruteforce

    embs = _embs(spark, sf_dir)
    probes = embs.where(F.col("vec_id") < 5)
    return knn_join_bruteforce(embs, probes, k=5, dim=64)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5-derived hash primitive: same pipeline shape as the xxhash64
    # production default, but exactly reproducible in the DuckDB oracle.
    # min_input_partitions spreads the single-row-group test file so the
    # shingle/hash map side uses every core (no-op on real multi-split
    # corpora; measured 1.9× at sf0.1).
    from aqueduct_core_spark.functions.dedup import minhash_dedup

    return minhash_dedup(
        _docs(spark, sf_dir), threshold=0.3, hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission-control dedup: history (doc_id % 3 != 0)
    is indexed ONCE into a persisted LSH signature index; the incoming
    third is checked against the index (part-pruned read, 12-byte join
    keys) and exact-Jaccard verified.  The oracle runs the same
    signatures over the union and keeps only cross-set candidate
    pairs."""
    import tempfile

    from aqueduct_core_spark.functions.dedup_index import DedupIndex

    docs = _docs(spark, sf_dir)
    hist = docs.where(F.col("doc_id") % 3 != 0)
    inc = docs.where(F.col("doc_id") % 3 == 0)
    ix = DedupIndex.create(
        spark, _workdir("aq-dedup-ix-"),
        hash_method="md5", num_parts=4,
    )
    ix.add(hist)
    out = ix.check(inc, corpus=hist, threshold=0.3)
    return out.select(
        F.col("id_in").cast("bigint").alias("id_in"),
        F.col("id_indexed").cast("bigint").alias("id_indexed"),
        "jaccard",
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-probabilistic near-dup: inverted shingle index (df-capped
    blocking — never all-pairs) + exact Jaccard verify.  Complements
    doc_minhash_pairs: same verify stage, deterministic candidates."""
    from aqueduct_core_spark.functions.dedup import ngram_jaccard_dedup

    return ngram_jaccard_dedup(
        _docs(spark, sf_dir), threshold=0.3, max_df=16,
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2021 ExactSubstr,
    k-gram form): per-doc maximal duplicate token intervals — repeated
    passages doc-level dedup can't see.  md5-60 variant for the oracle;
    xxhash64 is the production default (equivalence pytest-pinned)."""
    from aqueduct_core_spark.functions.dedup import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), k=8, hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    ).select("doc_id", "n_spans", "dup_tokens")


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs (doc_id % 20 != 0)
    sharing any distinct 5-word shingle with the benchmark slice
    (doc_id % 20 == 0).  Benchmark shingle hashes broadcast; the only
    shuffle is the per-doc hit count.  md5-60-bit hash variant for the
    oracle; production default is xxhash64 (equivalence tested)."""
    from aqueduct_core_spark.functions.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
        k=5, min_hits=1, hash_method="md5",
    )


def _q_corpus_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus recipe in ONE plan: exact dedup →
    Gopher quality gates → decontamination (vs the doc_id%20==0
    benchmark slice) → deterministic 50% sample, with every dropped doc
    attributed to its FIRST failing stage — the disjoint attrition
    report.  md5 hashing for oracle bit-equality."""
    from aqueduct_core_spark.functions.recipe import corpus_attrition, prepare_corpus

    docs = _docs(spark, sf_dir)
    ann = prepare_corpus(
        docs.where(F.col("doc_id") % 20 != 0),
        benchmark=docs.where(F.col("doc_id") % 20 == 0),
        sample_rate_pct=50, decon_k=5, hash_method="md5",
    )
    return corpus_attrition(ann)


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (alternating
    large-star/small-star) over the verified minhash near-dup pairs —
    pairwise output → per-document keep/drop representative.  The
    iterative algorithm is pure DataFrame joins; the oracle replays the
    same reachability with a recursive CTE."""
    from aqueduct_core_spark.functions.dedup import dup_clusters, minhash_dedup

    pairs = minhash_dedup(
        _docs(spark, sf_dir), threshold=0.3, hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )
    return dup_clusters(pairs.select("id_a", "id_b"))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate resolution: connected components over
    the verified minhash pairs, then keep the HIGHEST-quality member of
    each cluster (struct-max of (quality, -id) — one hash aggregation,
    deterministic smallest-id tie-break) instead of the smallest id.
    The keep-the-clean-copy rule every pretraining pipeline applies
    after near-dup detection."""
    from aqueduct_core_spark.functions.dedup import dedup_keep_best, minhash_dedup

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup(
        docs, threshold=0.3, hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )
    return dedup_keep_best(docs, pairs.select("id_a", "id_b"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.functions.dedup import simhash_candidates

    return simhash_candidates(
        _docs(spark, sf_dir), band_bits=15, hash_method="md5",
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: 256-bit Hamming-sketch scan keeps the 15% closest
    signatures, exact cosine reranks only those — the path that meets
    recall ≥ 0.8 at ≤ 25% of vectors scored (a bucket-LSH sweep topped
    out at recall 0.79 @ 23% scanned on these near-isotropic
    embeddings; curve in BENCH.md)."""
    from aqueduct_core_spark.functions.dedup import spread_small_input
    from aqueduct_core_spark.functions.similarity import sketch_topk

    embs = spread_small_input(
        _embs(spark, sf_dir), spark.sparkContext.defaultParallelism
    )
    return sketch_topk(embs, _query_vec(spark, sf_dir),
                       k=20, rerank_fraction=0.15)


def _q_ivf_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF FOREST — the pruned ANN path that meets the recall
    target (r3 verdict #3): 18 independent spherical-k-means codebooks
    (one Lloyd iteration each, trained in ONE Arrow-batched pass +
    bounded aggregation), each vector indexed in one cell per table,
    the query probing the GLOBAL top-36 (tbl, cell) pairs by dot
    product (best-bin-first — r5; measured strictly better than
    per-table top-2 at equal budget) and exact-reranking the
    deduplicated union — measured recall@20 0.876 mean over 100
    queries at 22% of vectors scanned on sf0.1 (full strategy curve in
    BENCH.md "Trained IVF forest").  All partitioning arithmetic is
    ×10⁶ integer-quantized, so the SQL oracle reproduces training,
    assignment and probing bit-identically (sums stay < 2⁵³ — exact in
    any order, no fold convention needed)."""
    from aqueduct_core_spark.functions.dedup import spread_small_input
    from aqueduct_core_spark.functions.similarity import ivf_forest_topk

    qv = _query_vec(spark, sf_dir)
    embs = spread_small_input(
        _embs(spark, sf_dir), spark.sparkContext.defaultParallelism
    )
    return ivf_forest_topk(embs, qv, k=20)


def _q_forest_index_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forest index maintained INCREMENTALLY: train once on the
    corpus (frozen codebooks), create a persisted part-pruned index,
    add the vectors in TWO batches (even ids, then odd), retract two
    vectors and re-add them (tombstone + higher-version rows), then
    answer the same top-k probe through the ZERO-Spark-job serving
    hatch (``topk_direct`` — pyarrow part-pruned reads + in-process
    sequential-fold rerank; r5).  Because assignment is
    frozen-quantizer, remove→re-add round-trips, and the direct read
    is bit-identical to the Spark plan (pytest-asserted), the final
    answer must be IDENTICAL to the one-shot ``emb_ivf_forest`` — so
    this query shares that query's SQL oracle verbatim: one driver row
    proves incremental maintenance AND the serving path against the
    one-shot SQL replay (the strongest equivalence statement the gate
    can express)."""
    from aqueduct_core_spark.functions.ann_index import ForestIndex
    from aqueduct_core_spark.functions.dedup import spread_small_input
    from aqueduct_core_spark.functions.similarity import forest_train

    qv = _query_vec(spark, sf_dir)
    embs = spread_small_input(
        _embs(spark, sf_dir), spark.sparkContext.defaultParallelism
    )
    cbs = forest_train(embs, len(qv))
    ix = ForestIndex.create(
        spark, _workdir("aqueduct_forest_ix_"), cbs
    )
    ix.add(embs.where(F.col("vec_id") % 2 == 0))
    ix.add(embs.where(F.col("vec_id") % 2 == 1))
    touched = embs.where(F.col("vec_id").isin(2, 4))
    ix.remove(touched.select("vec_id"))
    ix.add(touched)  # re-add: must survive the tombstone
    pdf = ix.topk_direct(qv, k=20)  # the zero-job serving read
    return spark.createDataFrame(
        pdf, schema="vec_id long, sim double"
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (FAISS IndexPQ+refine analog, r5): 16
    sub-codebooks × 64 codes, data-sample init (measured recall 0.49 →
    0.87 at equal budget vs random init), three L2-Lloyd iterations
    (one Arrow-batched pass + bounded aggregation each), every vector
    compressed to 16 small ints, the query scored against ALL codes
    via an inlined integer lookup table (pure projection — the full
    scan runs on the ~23×-smaller codes table), top-64 ADC candidates
    exact-cosine reranked through a broadcast join.  The
    scan-compression member of the ANN family (the forest prunes WHICH
    rows are scanned; PQ compresses WHAT each row costs).  All
    arithmetic ×10⁶ integer-quantized: training, encoding and the ADC
    ranking replay bit-identically in the SQL oracle, and the integer
    ADC score is part of the output so the gate checks the compressed
    ranking, not just the final answer."""
    from aqueduct_core_spark.functions.dedup import spread_small_input
    from aqueduct_core_spark.functions.similarity import pq_search

    qv = _query_vec(spark, sf_dir)
    embs = spread_small_input(
        _embs(spark, sf_dir), spark.sparkContext.defaultParallelism
    )
    return pq_search(embs, qv, k=20, rerank=64)


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED IVF-PQ (FAISS IVFPQ+refine, r5): the forest prunes
    WHICH rows are scanned (~22% candidates via 36 partition-prunable
    cell predicates), PQ's integer ADC scores the survivors from their
    16-int codes (broadcast join — only candidate ids and code rows
    move), and just the top-64 touch full vectors for the exact
    rerank.  The oracle composes the SAME two CTE fragments the
    single-stage rows use (`_forest_cand_ctes` + `_pq_coding_ctes`),
    so this driver row verifies the composition itself — candidate
    set, compressed ranking and final answer — not a third
    implementation.  Measured: recall@20 0.822 mean / 0.65 min over
    the 100-query sf0.1 suite (BENCH.md)."""
    from aqueduct_core_spark.functions.dedup import spread_small_input
    from aqueduct_core_spark.functions.similarity import (
        forest_index,
        forest_train,
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    qv = _query_vec(spark, sf_dir)
    embs = spread_small_input(
        _embs(spark, sf_dir), spark.sparkContext.defaultParallelism
    )
    fcbs = forest_train(embs, len(qv))
    idx = forest_index(embs, fcbs)
    pcbs = pq_train(embs, len(qv))
    codes = pq_encode(embs, pcbs)
    return ivfpq_topk(idx, codes, qv, fcbs, pcbs, embs, k=20, rerank=64)


def _q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH blocking
    (≥1 shared bucket over 8 tables) then exact cosine ≥ 0.4 verify —
    the embedding companion to doc_minhash_pairs.  Never all-pairs; a
    true duplicate collides in every table so dup recall → 1."""
    from aqueduct_core_spark.functions.similarity import near_dup_pairs

    return near_dup_pairs(
        _embs(spark, sf_dir), threshold=0.4,
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF-cell clustering bounds the
    quadratic cost, then within each cell any vector with a smaller-id
    neighbor at cosine ≥ 0.4 is dropped (dup_of = that neighbor)."""
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    return semantic_dedup(
        _embs(spark, sf_dir), dim=64, threshold=0.4,
        min_input_partitions=spark.sparkContext.defaultParallelism,
    )


def _q_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode check across all three byte formats: WAV
    payloads are genuine RIFF/PCM bytes (stdlib-built square waves),
    PNGs are spec-valid zlib-compressed images (full chunk-walk +
    inflate + unfilter decode), JPEGs are real marker-segment streams
    (SOF frame + table walk); one mapInPandas kernel sniffs and parses
    all three, and the oracle predicts every decoded field
    arithmetically from the synthesis parameters without seeing the
    bytes — any parser bug hash-mismatches."""
    from aqueduct_core_spark.functions.multimodal import (
        real_decode_summary,
        synthetic_real_media,
    )

    return real_decode_summary(synthetic_real_media(spark, n=32))


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar projection (the driver canonicalizer cannot hash an
    # array<float> column); full extract_features is pytest-covered
    from aqueduct_core_spark.functions.multimodal import (
        media_feature_summary,
        synthetic_media,
    )

    return media_feature_summary(synthetic_media(spark, n=64))


def _q_routing_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources.dims import location_groups_dim, route_for_location

    return route_for_location(
        load_changes(spark, sf_dir),
        location_groups_dim(spark, n=10),
        location_uuid="loc-0003",
        cluster_ids=[1, 2, 3, 4, 5],
    ).select("lsn", "conv_id", "turn_idx", "op", "cluster_id", "location_group")


def _q_cluster_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources.dims import cluster_dim, resolve_cluster_ids

    return resolve_cluster_ids(
        load_changes(spark, sf_dir),
        cluster_dim(spark, n=8),
        uuids=["uuid-0002", "uuid-0005", "uuid-0007"],
    ).select("lsn", "conv_id", "turn_idx", "op", "cluster_id")


def _q_max_offset_for_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aqueduct_core_spark.sources.changes import max_offset_for_types

    return max_offset_for_types(load_changes(spark, sf_dir), ops=["I", "D"])


def _q_hourly_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3×A5 over time: events + max offset per (hour, op) — the batch
    twin of streaming_throughput's windowed aggregation (T3)."""
    from aqueduct_core_spark.streaming.monitor import throughput_by_hour

    return throughput_by_hour(load_changes(spark, sf_dir))


def _q_ttl_marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/J1 two-phase compaction, phase 1: rows stamped with
    time_to_live because an old deletion at-or-above them exists."""
    import datetime as dt

    from aqueduct_core_spark.operators.compact import mark_deletion_ttl

    changes = load_changes(spark, sf_dir)
    max_ts = changes.agg(F.max("ts")).collect()[0][0]
    marked = mark_deletion_ttl(
        changes,
        threshold=max_ts - dt.timedelta(days=10),
        ttl_ts=max_ts,
    )
    return marked.where(F.col("time_to_live").isNotNull()).select(
        "lsn", "conv_id", "turn_idx", "op"
    )


# ---------------------------------------------------------------------------
# oracle SQL builders for the hash-pipeline queries
# ---------------------------------------------------------------------------
# DuckDB equivalent of aqueduct_core_spark.functions.dedup.hash64
# (method='md5'): the first 60 bits of md5 as a non-negative BIGINT.

def _dh(expr: str, seed: int | None = None) -> str:
    inp = expr if seed is None else f"({expr} || chr(31) || '{seed}')"
    return f"('0x' || substr(md5({inp}), 1, 15))::BIGINT"


#: shingle CTEs shared by the minhash/simhash oracles — must mirror
#: aqueduct_core_spark.functions.dedup.word_shingles exactly
def _shingle_ctes(k: int, source: str = "documents", id_col: str = "doc_id") -> str:
    return f"""
toks AS (
  SELECT {id_col} AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM {source}
),
sh AS (
  SELECT id, CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')]
             ELSE list_distinct(list_transform(generate_series(1, len(t) - {k} + 1),
                    i -> array_to_string(list_slice(t, i, i + {k} - 1), ' '))) END AS shingles
  FROM toks
),
ex AS (SELECT id, unnest(shingles) AS s FROM sh)
"""


def _minhash_body(num_hashes: int = 64, bands: int = 16, k: int = 3,
                  threshold: float = 0.3, source: str = "documents",
                  id_col: str = "doc_id") -> str:
    """The minhash→LSH→verify pipeline as a comma-joinable CTE list +
    final SELECT (no leading WITH), parameterized over the corpus
    source so the same pipeline oracles both the documents table and
    derived corpora (e.g. assembled conversations)."""
    from aqueduct_core_spark.functions.dedup import MINHASH_P, minhash_mixers

    rpb = num_hashes // bands
    # one 60-bit md5 base per shingle, then the same universal-hash
    # mixes the Spark pipeline uses (dedup.minhash_mixers)
    mins = ",\n    ".join(
        f"min(((h % {MINHASH_P}) * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_mixers(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=_dh(
                "("
                + " || ',' || ".join(
                    f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)
                )
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
{_shingle_ctes(k, source, id_col)},
hh AS (SELECT id, {_dh('s')} AS h FROM ex),
sig AS (
  SELECT id,
    {mins}
  FROM hh GROUP BY id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
ver AS (
  SELECT c.id_a, c.id_b,
    floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))))
          * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b
)
SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= {threshold}
"""


def _minhash_oracle(num_hashes: int = 64, bands: int = 16, k: int = 3,
                    threshold: float = 0.3) -> str:
    return "WITH " + _minhash_body(num_hashes, bands, k, threshold)


def _gopher_body(source: str = "documents", id_col: str = "doc_id") -> str:
    """The Gopher repetition/quality gates as a comma-joinable CTE list
    + final SELECT (no WITH), parameterized over the corpus source —
    shared by doc_quality_filter and the conversation-corpus variant."""
    return r"""
qw AS (
  SELECT {id} AS _qid, text,
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE string_split_regex(trim(text), '\s+') END AS ws
  FROM {src}
),
qstats AS (
  SELECT _qid,
    len(ws) AS n_words,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE floor((CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                     / len(ws)) * 1000000 + 0.5) / 1000000 END AS mean_word_len,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE floor((1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
                    * 1000000 + 0.5) / 1000000 END AS dup_word_frac,
    ws
  FROM qw
),
qbg AS (
  SELECT s._qid, s.ws[t.i] || ' ' || s.ws[t.i + 1] AS b
  FROM qstats s, UNNEST(range(1, len(s.ws))) AS t(i)
),
qtop AS (
  SELECT _qid, max(c) AS mx, sum(c) AS tot
  FROM (SELECT _qid, b, count(*) AS c FROM qbg GROUP BY _qid, b)
  GROUP BY _qid
)
SELECT s._qid AS {id},
  CAST(s.n_words AS INTEGER) AS n_words,
  s.mean_word_len,
  s.dup_word_frac,
  COALESCE(floor((CAST(t.mx AS DOUBLE) / t.tot) * 1000000 + 0.5) / 1000000, 0.0)
    AS top_bigram_frac,
  (s.n_words >= 25 AND s.n_words <= 100000
   AND s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0
   AND s.dup_word_frac <= 0.60
   AND COALESCE(floor((CAST(t.mx AS DOUBLE) / t.tot) * 1000000 + 0.5) / 1000000, 0.0)
       <= 0.05) AS keep
FROM qstats s LEFT JOIN qtop t USING (_qid)
""".replace("{src}", source).replace("{id}", id_col)


def _conv_quality_oracle() -> str:
    """Gopher gates over the CDC-derived conversation corpus — same
    composition shape as `_conv_near_dup_oracle`."""
    from aqueduct_core_spark.sources.events_cdc import CHANGES_CTE_SQL

    docs_cte = """
convdocs AS (
  SELECT conv_id, string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS text
  FROM state GROUP BY conv_id
)"""
    return (
        "WITH "
        + CHANGES_CTE_SQL
        + " , "
        + _STATE_BODY
        + ", "
        + docs_cte
        + ", "
        + _gopher_body(source="convdocs", id_col="conv_id")
    )


def _conv_near_dup_oracle(threshold: float = 0.5) -> str:
    """CDC → corpus composition: the LWW/hierarchical-delete state is
    assembled into per-conversation transcripts (the cdc_conv_text
    view) and THAT derived corpus goes through the identical
    minhash→LSH→verify pipeline — one oracle spanning the engine's
    ingest and training-data halves."""
    from aqueduct_core_spark.sources.events_cdc import CHANGES_CTE_SQL

    docs_cte = """
convdocs AS (
  SELECT conv_id, string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS text
  FROM state GROUP BY conv_id
)"""
    return (
        "WITH "
        + CHANGES_CTE_SQL
        + " , "
        + _STATE_BODY
        + ", "
        + docs_cte
        + ", "
        + _minhash_body(threshold=threshold, source="convdocs", id_col="conv_id")
    )


def _index_dedup_oracle(num_hashes: int = 64, bands: int = 16, k: int = 3,
                        threshold: float = 0.3) -> str:
    """Cross-set variant of :func:`_minhash_oracle`: candidates where
    the incoming side is ``doc_id % 3 = 0`` and the indexed side is the
    rest — the admission-control contract of
    ``functions.dedup_index.DedupIndex.check``."""
    from aqueduct_core_spark.functions.dedup import MINHASH_P, minhash_mixers

    rpb = num_hashes // bands
    mins = ",\n    ".join(
        f"min(((h % {MINHASH_P}) * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_mixers(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=_dh(
                "("
                + " || ',' || ".join(
                    f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)
                )
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {_shingle_ctes(k)},
hh AS (SELECT id, {_dh('s')} AS h FROM ex),
sig AS (
  SELECT id,
    {mins}
  FROM hh GROUP BY id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_in, b.id AS id_indexed
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id % 3 = 0 AND b.id % 3 <> 0
),
ver AS (
  SELECT c.id_in, c.id_indexed,
    floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))))
          * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cand c
  JOIN sh sa ON sa.id = c.id_in
  JOIN sh sb ON sb.id = c.id_indexed
)
SELECT id_in, id_indexed, jaccard FROM ver WHERE jaccard >= {threshold}
"""


def _ngram_jaccard_oracle(k: int = 3, threshold: float = 0.3,
                          max_df: int = 16) -> str:
    """Mirror of dedup.ngram_jaccard_dedup: ``ex`` is distinct (id, s)
    by construction (shingles are list_distinct-ed per doc), so the
    HAVING count is exact document frequency."""
    return f"""
WITH {_shingle_ctes(k)},
rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= {max_df}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM ex a JOIN rare r ON a.s = r.s
  JOIN ex b ON b.s = a.s AND a.id < b.id
),
ver AS (
  SELECT c.id_a, c.id_b,
    floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))))
          * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b
)
SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= {threshold}
"""


def _span_dedup_oracle(k: int = 8) -> str:
    """Mirror of dedup.duplicate_spans: positional k-gram md5-60
    hashes, first-(doc_id,pos) occurrence is canonical, later
    occurrences merge into maximal spans via gaps-and-islands.  DuckDB
    list slicing is 1-based inclusive, hence ``t[i : i+k-1]``; the
    lag-NULL first row yields CASE 0 exactly like Spark's
    when().otherwise(0)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
gl AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {k} + 1),
           i -> struct_pack(pos := i - 1,
                h := {_dh(f"array_to_string(list_slice(t, i, i + {k} - 1), ' ')")})))
           AS u
  FROM toks WHERE len(t) >= {k}
),
grams AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM gl),
marked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM grams
),
flags AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {k - 1}
         THEN 1 ELSE 0 END AS nf
  FROM marked WHERE rn > 1
),
isl AS (
  SELECT doc_id, pos,
         sum(nf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flags
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {k} AS e
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id, count(*) AS n_spans, sum(e - s)::BIGINT AS dup_tokens
FROM spans GROUP BY doc_id
"""


def _decontaminate_oracle(k: int = 5, min_hits: int = 1) -> str:
    """Mirror of dedup.decontaminate: training docs (id % 20 != 0)
    sharing >= min_hits distinct k-shingles (by md5-60-bit hash) with
    the benchmark slice (id % 20 == 0)."""
    return f"""
WITH {_shingle_ctes(k)},
hashed AS (SELECT id, {_dh('s')} AS h FROM ex),
bench AS (SELECT DISTINCT h FROM hashed WHERE id % 20 = 0),
train AS (SELECT id, h FROM hashed WHERE id % 20 <> 0)
SELECT t.id AS doc_id, count(*) AS hits
FROM train t JOIN bench b USING (h)
GROUP BY t.id HAVING count(*) >= {min_hits}
"""


def _corpus_recipe_oracle(decon_k: int = 5, sample_rate_pct: int = 50) -> str:
    """Mirror of recipe.prepare_corpus + corpus_attrition over the
    doc_id%20 train/benchmark split: the four gates composed with the
    same precedence (duplicate > low_quality > contaminated >
    sampled_out), each gate the verbatim expression its standalone
    oracle uses."""
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
),
keepid AS (
  SELECT doc_id,
    min(doc_id) OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ) AS keep_id
  FROM corpus
),
qw AS (
  SELECT doc_id, text,
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE string_split_regex(trim(text), '\\s+') END AS ws
  FROM corpus
),
qstats AS (
  SELECT doc_id,
    len(ws) AS n_words,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE floor((CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
                     / len(ws)) * 1000000 + 0.5) / 1000000 END AS mean_word_len,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE floor((1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
                    * 1000000 + 0.5) / 1000000 END AS dup_word_frac,
    ws
  FROM qw
),
qbg AS (
  SELECT s.doc_id, s.ws[t.i] || ' ' || s.ws[t.i + 1] AS b
  FROM qstats s, UNNEST(range(1, len(s.ws))) AS t(i)
),
qtop AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS tot
  FROM (SELECT doc_id, b, count(*) AS c FROM qbg GROUP BY doc_id, b)
  GROUP BY doc_id
),
quality AS (
  SELECT s.doc_id,
    (s.n_words >= 25 AND s.n_words <= 100000
     AND s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0
     AND s.dup_word_frac <= 0.60
     AND COALESCE(floor((CAST(t.mx AS DOUBLE) / t.tot) * 1000000 + 0.5) / 1000000, 0.0)
         <= 0.05) AS q_keep
  FROM qstats s LEFT JOIN qtop t USING (doc_id)
),
{_shingle_ctes(decon_k).strip().rstrip()},
hashed AS (SELECT id, {_dh('s')} AS h FROM ex),
bench AS (SELECT DISTINCT h FROM hashed WHERE id % 20 = 0),
contam AS (
  SELECT DISTINCT t.id AS doc_id
  FROM (SELECT id, h FROM hashed WHERE id % 20 <> 0) t JOIN bench b USING (h)
),
annotated AS (
  SELECT c.doc_id,
    CASE
      WHEN c.doc_id <> k.keep_id THEN 'duplicate'
      WHEN NOT COALESCE(q.q_keep, FALSE) THEN 'low_quality'
      WHEN x.doc_id IS NOT NULL THEN 'contaminated'
      WHEN ({_dh('CAST(c.doc_id AS VARCHAR)', 42)} % 100) >= {sample_rate_pct}
        THEN 'sampled_out'
      ELSE 'kept'
    END AS stage
  FROM corpus c
  JOIN keepid k USING (doc_id)
  LEFT JOIN quality q USING (doc_id)
  LEFT JOIN contam x USING (doc_id)
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_docs FROM annotated GROUP BY stage
"""


def _dup_clusters_oracle() -> str:
    """Connected components over the minhash near-dup pairs: the exact
    reachability fixpoint via a recursive CTE (min reachable id =
    component representative) — tractable at oracle scale, where the
    Spark side runs the O(log² n)-round star algorithm."""
    return f"""
WITH RECURSIVE edges AS (
  SELECT id_a AS u, id_b AS v FROM ({_minhash_oracle()}) mh
  UNION
  SELECT id_b, id_a FROM ({_minhash_oracle()}) mh
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS id, least(u, min(v)) AS rep FROM reach GROUP BY u
"""


def _dedup_keep_best_oracle() -> str:
    """Clusters via the same recursive-CTE reachability as
    `_dup_clusters_oracle`, members scored with the text-stats quality
    formula (identical shared rounding), winner via row_number ORDER BY
    q DESC, id — the same tie rule as the engine's struct-max of
    (quality, -id)."""
    return f"""
WITH RECURSIVE edges AS (
  SELECT id_a AS u, id_b AS v FROM ({_minhash_oracle()}) mh
  UNION
  SELECT id_b, id_a FROM ({_minhash_oracle()}) mh
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
clusters AS (
  SELECT u AS id, least(u, min(v)) AS rep FROM reach GROUP BY u
),
tq AS (
  SELECT doc_id AS id,
    floor((length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
          * 1000000 + 0.5) / 1000000 AS alpha_ratio,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) = 0 THEN 0.0
         ELSE round(
           len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ({_SW}))) * 1.0
           / len(string_split_regex(trim(lower(text)), '\\s+')), 6) END AS sw_ratio
  FROM documents
),
q AS (
  SELECT id,
    floor((0.5 * alpha_ratio
        + 0.3 * least(n_tokens / 200.0, 1.0)
        + 0.2 * (1.0 - least(sw_ratio * 5, 1.0))) * 1000000 + 0.5) / 1000000 AS q
  FROM tq
),
members AS (
  SELECT c.id, c.rep, q.q FROM clusters c JOIN q USING (id)
),
best AS (
  SELECT rep, id AS keep_id FROM (
    SELECT rep, id, row_number() OVER (PARTITION BY rep ORDER BY q DESC, id) AS rn
    FROM members
  ) WHERE rn = 1
)
SELECT m.id, m.rep, b.keep_id, m.id = b.keep_id AS keep
FROM members m JOIN best b USING (rep)
"""


def _simhash_oracle(k: int = 2, nbits: int = 60, band_bits: int = 15) -> str:
    nb = nbits // band_bits
    mask = (1 << band_bits) - 1
    sums = ",\n    ".join(
        f"sum((h >> {i}) & 1) AS b{i}" for i in range(nbits)
    )
    bits = "\n    + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(nbits)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT id, sh, {b} AS band, (sh >> {b * band_bits}) & {mask} AS bucket FROM sim"
        for b in range(nb)
    )
    return f"""
WITH {_shingle_ctes(k)},
hh AS (SELECT id, {_dh('s')} AS h FROM ex),
agg AS (
  SELECT id, count(*) AS n,
    {sums}
  FROM hh GROUP BY id
),
sim AS (
  SELECT id,
    {bits} AS sh
  FROM agg
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming FROM cand
"""


def _semantic_dedup_oracle(dim: int = 64, n_cells: int = 16,
                           threshold: float = 0.4) -> str:
    """Centroid literals inlined (similarity.ivf_centroids, rounded to
    6 dp so they are exact); assignment = first-max inner product
    (list_position/list_max, the same tie rule as Spark's
    array_position/array_max); within-cell smaller-id neighbor at
    rounded cosine >= threshold marks a drop (dup_of = min such
    neighbor)."""
    from aqueduct_core_spark.functions.similarity import ivf_centroids

    cents = ivf_centroids(dim, n_cells)
    lits = ["[" + ", ".join(repr(float(x)) for x in c) + "]" for c in cents]
    vec_dots = ", ".join(f"list_inner_product(v, {c})" for c in lits)
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
asg AS (
  SELECT vec_id, v, list_position(l, list_max(l)) AS cell
  FROM (SELECT vec_id, v, [{vec_dots}] AS l FROM s)
),
dup AS (
  SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id > b.vec_id
  WHERE floor((list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))))
              * 1000000 + 0.5) / 1000000 >= {threshold}
  GROUP BY a.vec_id
)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell, d.dup_of,
       d.dup_of IS NULL AS keep
FROM asg a LEFT JOIN dup d USING (vec_id)
"""


def _ivf_forest_oracle(dim: int = 64, n_tables: int = 18, n_cells: int = 128,
                       n_probes: int = 2, kk: int = 20) -> str:
    """The full IVF-forest pipeline replayed in SQL — init codebooks
    inlined as ×10⁶ INTEGER literals (data-independent), the one Lloyd
    iteration per table, re-assignment, the GLOBAL top-(n_probes·T)
    best-bin-first probe (``ORDER BY dot DESC, tbl, cell`` — the exact
    ordering ``forest_probe_cells`` applies) and exact rerank all
    recomputed by DuckDB.  Bit-identity with the engine needs
    NO fold-order convention anywhere the partition decision is made:
    vectors and centroids are ×10⁶ ints, so every inner product is a sum
    of integer-valued doubles < 2⁵³ — exact in any summation order.
    Only the normalization step (sqrt of an inner product of non-integer
    means) and the final cosine keep the established sequential-fold +
    floor-round6 convention shared with the other emb_* oracles."""
    body = _forest_cand_ctes(dim, n_tables, n_cells, n_probes)
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1000000 + 0.5)) AS vq
  FROM embeddings
),
q AS (SELECT v AS qv, vq AS qq FROM s WHERE vec_id = 0),
{body}
SELECT c.vec_id,
  floor((list_inner_product(c.v, q.qv)
         / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv))))
        * 1000000 + 0.5) / 1000000 AS sim
FROM cand c, q
ORDER BY sim DESC, c.vec_id LIMIT {kk}
"""


def _forest_cand_ctes(dim: int = 64, n_tables: int = 18, n_cells: int = 128,
                      n_probes: int = 2) -> str:
    """The forest train→index→probe pipeline as a CTE fragment (assumes
    the shared ``s``/``q`` CTEs exist); ends with ``cand(vec_id, v)`` —
    the DISTINCT pruned candidate set.  Composes with
    :func:`_pq_coding_ctes` in the IVF-PQ oracle (no CTE-name overlap:
    PQ names are p-prefixed)."""
    from aqueduct_core_spark.functions.similarity import forest_init_codebooks

    cbs = forest_init_codebooks(dim, n_tables, n_cells)
    init_rows = []
    for t, cb in enumerate(cbs):
        for ci, c in enumerate(cb):
            lst = "[" + ",".join(str(i) for i in c) + "]::DOUBLE[]"
            init_rows.append(f"({t},{ci + 1},{lst})")
    init_vals = ",\n".join(init_rows)
    return f"""init(tbl, cell, c) AS (VALUES
{init_vals}
),
fallb AS (
  SELECT tbl, cell,
         CASE WHEN nrm = 0 THEN c
              ELSE list_transform(c,
                x -> floor(((x / 1000000.0) / nrm) * 1000000 + 0.5))
         END AS c
  FROM (
    SELECT tbl, cell, c,
           sqrt(list_inner_product(list_transform(c, x -> x / 1000000.0),
                                   list_transform(c, x -> x / 1000000.0))) AS nrm
    FROM init
  )
),
asg0 AS (
  SELECT vec_id, vq, tbl, cell FROM (
    SELECT s.vec_id, s.vq, i.tbl, i.cell,
           row_number() OVER (
             PARTITION BY s.vec_id, i.tbl
             ORDER BY list_inner_product(s.vq, i.c) DESC, i.cell) AS rn
    FROM s, init i
  ) WHERE rn = 1
),
mexp AS (
  SELECT tbl, cell, generate_subscripts(vq, 1) AS pos, unnest(vq) AS x
  FROM asg0
),
mu AS (
  SELECT tbl, cell, pos, sum(x) AS sx, count(*) AS n
  FROM mexp GROUP BY tbl, cell, pos
),
craws AS (
  SELECT tbl, cell, list((sx / 1000000.0) / n ORDER BY pos) AS craw
  FROM mu GROUP BY tbl, cell
),
trained AS (
  SELECT tbl, cell,
         CASE WHEN sqrt(list_inner_product(craw, craw)) = 0 THEN NULL
              ELSE list_transform(craw,
                x -> floor((x / sqrt(list_inner_product(craw, craw)))
                     * 1000000 + 0.5))
         END AS c
  FROM craws
),
cents AS (
  SELECT f.tbl, f.cell, COALESCE(t.c, f.c) AS c
  FROM fallb f LEFT JOIN trained t ON f.tbl = t.tbl AND f.cell = t.cell
),
asg1 AS (
  SELECT vec_id, v, tbl, cell FROM (
    SELECT s.vec_id, s.v, c.tbl, c.cell,
           row_number() OVER (
             PARTITION BY s.vec_id, c.tbl
             ORDER BY list_inner_product(s.vq, c.c) DESC, c.cell) AS rn
    FROM s, cents c
  ) WHERE rn = 1
),
qcells AS (
  SELECT tbl, cell FROM (
    SELECT c.tbl, c.cell,
           row_number() OVER (
             ORDER BY list_inner_product(q.qq, c.c) DESC, c.tbl, c.cell) AS rn
    FROM cents c, q
  ) WHERE rn <= {n_probes * n_tables}
),
cand AS (
  SELECT DISTINCT a.vec_id, a.v
  FROM asg1 a JOIN qcells p ON a.tbl = p.tbl AND a.cell = p.cell
)"""


def _ivfpq_oracle(dim: int = 64, rerank: int = 64, kk: int = 20) -> str:
    """The COMPOSED IVF-PQ pipeline in SQL: the forest fragment
    produces the pruned candidate set, the PQ fragment produces every
    vector's exact-integer ADC score, and the composition cuts the
    candidates to top-`rerank` by (adc DESC, id) before the exact
    cosine rerank — semantically identical to the engine's
    ``ivfpq_topk``, which computes ADC only for candidates (per-id ADC
    is independent, so score-then-filter ≡ filter-then-score).  Both
    fragments are the SAME text the single-stage oracles use, so this
    row re-verifies their composition, not a third implementation."""
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1000000 + 0.5)) AS vq
  FROM embeddings
),
q AS (SELECT v AS qv, vq AS qq FROM s WHERE vec_id = 0),
{_forest_cand_ctes(dim)},
{_pq_coding_ctes(dim)},
pcand AS (
  SELECT sc.vec_id, sc.adc
  FROM pscores sc JOIN cand f ON sc.vec_id = f.vec_id
  ORDER BY sc.adc DESC, sc.vec_id LIMIT {rerank}
)
SELECT c.vec_id, c.adc,
  floor((list_inner_product(s.v, q.qv)
         / (sqrt(list_inner_product(s.v, s.v)) * sqrt(list_inner_product(q.qv, q.qv))))
        * 1000000 + 0.5) / 1000000 AS sim
FROM pcand c JOIN s ON s.vec_id = c.vec_id, q
ORDER BY sim DESC, c.vec_id LIMIT {kk}
"""


def _pq_topk_oracle(dim: int = 64, n_sub: int = 16, n_codes: int = 64,
                    iters: int = 3, rerank: int = 64, kk: int = 20) -> str:
    """The full PQ pipeline replayed in SQL — sample init (code k of
    subspace m = the quantized m-th subvector of the k-th smallest-id
    vector; the engine's ``orderBy(id).limit(K)`` rule), ``iters``
    L2-Lloyd iterations per subspace generated as a CTE chain
    (assignment minimizes the exact integer surrogate ``‖c‖² − 2·x·c``;
    ties toward the smaller code — the engine's np.argmin first-min
    rule; an empty code keeps its previous centroid via COALESCE),
    re-encoding, the asymmetric-distance score as a per-subspace inner
    product against the query's quantized subvector (sum of M
    integer-valued doubles < 2⁵³ — exact in any order), top-`rerank`
    by (adc DESC, id), and exact cosine rerank with the shared
    sequential-fold + floor-round6 convention.  PQ centroids are plain
    means (never normalized), so the only non-integer step before the
    final cosine is the mean requantization — computed with the
    identical expression order as the engine."""
    body = _pq_coding_ctes(dim, n_sub, n_codes, iters)
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1000000 + 0.5)) AS vq
  FROM embeddings
),
q AS (SELECT v AS qv, vq AS qq FROM s WHERE vec_id = 0),
{body},
cand AS (
  SELECT vec_id, adc FROM pscores ORDER BY adc DESC, vec_id LIMIT {rerank}
)
SELECT c.vec_id, c.adc,
  floor((list_inner_product(s.v, q.qv)
         / (sqrt(list_inner_product(s.v, s.v)) * sqrt(list_inner_product(q.qv, q.qv))))
        * 1000000 + 0.5) / 1000000 AS sim
FROM cand c JOIN s ON s.vec_id = c.vec_id, q
ORDER BY sim DESC, c.vec_id LIMIT {kk}
"""


def _pq_coding_ctes(dim: int = 64, n_sub: int = 16, n_codes: int = 64,
                    iters: int = 3) -> str:
    """The PQ train→encode→ADC pipeline as a CTE fragment (assumes the
    shared ``s``/``q`` CTEs exist).  All CTE names are p-prefixed so the
    fragment composes with the forest fragment in the IVF-PQ oracle.
    Ends with ``pscores(vec_id, adc)`` — the exact-integer ADC score of
    every vector against the query."""
    d = dim // n_sub
    lloyd = []
    prev = "pcents0"
    for i in range(1, iters + 1):
        lloyd.append(f"""pasg{i} AS (
  SELECT vec_id, m, x, code FROM (
    SELECT psub.vec_id, psub.m, psub.x, p.code,
           row_number() OVER (
             PARTITION BY psub.vec_id, psub.m
             ORDER BY (list_inner_product(p.c, p.c)
                       - 2 * list_inner_product(psub.x, p.c)) ASC, p.code) AS rn
    FROM psub JOIN {prev} p ON p.m = psub.m
  ) WHERE rn = 1
),
pmu{i} AS (
  SELECT m, code, sp, sum(xx) AS sx, count(*) AS n
  FROM (SELECT m, code, generate_subscripts(x, 1) AS sp, unnest(x) AS xx
        FROM pasg{i})
  GROUP BY m, code, sp
),
ptrained{i} AS (
  SELECT m, code,
         list(floor(((sx / 1000000.0) / n) * 1000000 + 0.5) ORDER BY sp) AS c
  FROM pmu{i} GROUP BY m, code
),
pcents{i} AS (
  SELECT p.m, p.code, COALESCE(t.c, p.c) AS c
  FROM {prev} p LEFT JOIN ptrained{i} t ON p.m = t.m AND p.code = t.code
)""")
        prev = f"pcents{i}"
    lloyd_sql = ",\n".join(lloyd)
    return f"""psub AS (
  SELECT s.vec_id, ms.m,
         list_slice(s.vq, ms.m * {d} + 1, ms.m * {d} + {d}) AS x
  FROM s, (SELECT unnest(range({n_sub})) AS m) ms
),
psmp AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code FROM s
),
pcents0 AS (
  SELECT psub.m, psmp.code, psub.x AS c
  FROM psub JOIN psmp ON psub.vec_id = psmp.vec_id
  WHERE psmp.code <= {n_codes}
),
{lloyd_sql},
pasgf AS (
  SELECT vec_id, m, code FROM (
    SELECT psub.vec_id, psub.m, p.code,
           row_number() OVER (
             PARTITION BY psub.vec_id, psub.m
             ORDER BY (list_inner_product(p.c, p.c)
                       - 2 * list_inner_product(psub.x, p.c)) ASC, p.code) AS rn
    FROM psub JOIN {prev} p ON p.m = psub.m
  ) WHERE rn = 1
),
pscores AS (
  SELECT a.vec_id,
         CAST(sum(list_inner_product(
           list_slice(q.qq, a.m * {d} + 1, a.m * {d} + {d}), c.c)) AS BIGINT)
           AS adc
  FROM pasgf a JOIN {prev} c ON a.m = c.m AND a.code = c.code, q
  GROUP BY a.vec_id
)"""


def _near_dup_oracle(dim: int = 64, n_planes: int = 6, n_tables: int = 8,
                     threshold: float = 0.4) -> str:
    """All-pairs reformulation of the LSH-blocked near-dup: a pair is a
    candidate iff some table's planes all agree in sign between the two
    vectors (hyperplane constants inlined as SQL literals — same
    RandomState stream as functions.similarity._hyperplanes); exact
    cosine verify ≥ threshold with the shared round6 rounding."""
    from aqueduct_core_spark.functions.similarity import _hyperplanes

    table_preds = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=7 + t)
        plane_eqs = []
        for p in planes:
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            plane_eqs.append(
                f"((list_inner_product(va, {lit}) >= 0) = (list_inner_product(vb, {lit}) >= 0))"
            )
        table_preds.append("(" + " AND ".join(plane_eqs) + ")")
    cand = "\n     OR ".join(table_preds)
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM s a JOIN s b ON a.vec_id < b.vec_id
),
flt AS (
  SELECT id_a, id_b, va, vb FROM p
  WHERE {cand}
),
scored AS (
  SELECT id_a, id_b,
    floor((list_inner_product(va, vb)
           / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb))))
          * 1000000 + 0.5) / 1000000 AS sim
  FROM flt
)
SELECT id_a, id_b, sim FROM scored WHERE sim >= {threshold}
"""


def _sketch_topk_oracle(dim: int = 64, n_bits: int = 256,
                        rerank_fraction: float = 0.15, kk: int = 20) -> str:
    """Hamming-sketch rerank oracle: the signature hyperplanes (rounded
    to 6 dp so the literals are exact — similarity._sketch_planes) are
    inlined ONCE as a constant list-of-lists; Hamming distance =
    count of sign disagreements; candidates = the ceil(f·n) smallest
    (ham, vec_id); exact cosine rerank on those only."""
    from aqueduct_core_spark.functions.similarity import _sketch_planes

    planes = _sketch_planes(dim, n_bits)
    lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    )
    return f"""
WITH p AS (SELECT [{lits}] AS planes),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
s AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, q.qv, p.planes
  FROM embeddings e, q, p
),
h AS (
  SELECT vec_id, v, qv,
         len(list_filter(range(1, {n_bits} + 1), i ->
             (list_inner_product(v, planes[i]) >= 0)
             != (list_inner_product(qv, planes[i]) >= 0))) AS ham
  FROM s
),
cand AS (
  SELECT vec_id, v, qv FROM h
  QUALIFY row_number() OVER (ORDER BY ham, vec_id)
          <= (SELECT CAST(ceil(count(*) * {rerank_fraction!r}) AS BIGINT)
              FROM embeddings)
)
SELECT vec_id,
  floor((list_inner_product(v, qv)
         / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))))
        * 1000000 + 0.5) / 1000000 AS sim
FROM cand ORDER BY sim DESC, vec_id LIMIT {kk}
"""


def _media_real_decode_oracle(n: int = 32) -> str:
    """Arithmetic prediction of the real MIXED media decode (never
    parses bytes) — kind by media_id % 3, per-kind index j = i // 3:
    WAV square-wave RMS = amp/32768 (exact IEEE: power-of-two
    denominator) and zero crossings = floor((n-1)/half); PNG solid-fill
    pixel mean = (w·h·(r+g+b)) / (w·h·3) with the engine's exact
    division operands; JPEG frame/table fields verbatim from the
    synthesis parameters."""
    return f"""
SELECT
  CAST(i AS BIGINT) AS media_id,
  CASE i % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'png' ELSE 'jpeg' END AS kind,
  CAST(CASE i % 3 WHEN 1 THEN 16 + (j % 8) WHEN 2 THEN 320 + j END AS INTEGER)
    AS width,
  CAST(CASE i % 3 WHEN 1 THEN 8 + (j % 5) WHEN 2 THEN 240 + j END AS INTEGER)
    AS height,
  CAST(CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 1 + (j % 3) END AS INTEGER)
    AS components,
  CAST(CASE WHEN i % 3 = 0 THEN 8000 + 100 * j END AS INTEGER) AS sample_rate,
  CAST(CASE WHEN i % 3 = 0
            THEN ((400 + 10 * j) * 1000) // (8000 + 100 * j) END AS INTEGER)
    AS duration_ms,
  CASE WHEN i % 3 = 2 THEN (j % 2 = 1) END AS progressive,
  CAST(CASE WHEN i % 3 = 2 THEN 1 + (j % 2) END AS INTEGER) AS n_quant_tables,
  CAST(CASE WHEN i % 3 = 2 THEN 1 + (j % 3) END AS INTEGER) AS n_huffman_tables,
  CASE WHEN i % 3 = 1 THEN
    floor((CAST((16 + (j % 8)) * (8 + (j % 5))
                * ((j % 256) + ((2 * j) % 256) + ((3 * j) % 256)) AS DOUBLE)
           / CAST((16 + (j % 8)) * (8 + (j % 5)) * 3 AS DOUBLE))
          * 1000000 + 0.5) / 1000000 END AS px_mean,
  CASE WHEN i % 3 = 0 THEN
    floor((CAST(1000 + j AS DOUBLE) / 32768.0) * 1000000 + 0.5) / 1000000
  END AS rms,
  CASE WHEN i % 3 = 0 THEN
    floor((CAST((400 + 10 * j - 1) // (4 + (j % 5)) AS DOUBLE)
           / CAST(400 + 10 * j - 1 AS DOUBLE)) * 1000000 + 0.5) / 1000000
  END AS zcr,
  CAST(CASE WHEN i % 3 = 0 THEN 44 + 2 * (400 + 10 * j) END AS INTEGER)
    AS n_bytes
FROM (SELECT i, i // 3 AS j FROM generate_series(0, {n - 1}) t(i))
"""


def _media_features_oracle(n: int = 64, dim: int = 16) -> str:
    """Replicates multimodal._fake_decode over the ASCII-hex synthetic
    payloads: feature[j] = float32(uint32_le(sha256(payload) bytes
    4j..4j+3 mod 32) / 2^32)."""

    def byte(x: int) -> str:
        return f"('0x' || substr(hx, {2 * (x % 32) + 1}, 2))::BIGINT"

    feats = []
    for j in range(dim):
        u32 = " + ".join(
            f"{byte(4 * j + kk)} * {256 ** kk}" for kk in range(4)
        )
        feats.append(f"CAST(CAST(({u32}) AS DOUBLE) / 4294967296.0 AS FLOAT)::DOUBLE")
    fsum = "\n    + ".join(feats)
    return f"""
WITH m AS (
  SELECT i AS media_id,
         ['image','audio','video'][(i % 3) + 1] AS kind,
         repeat(sha256(CAST(i AS VARCHAR)), 1 + (i % 4)) AS payload,
         64 * (1 + (i % 4)) AS n_bytes
  FROM generate_series(0, {n - 1}) t(i)
),
h AS (SELECT media_id, kind, n_bytes, sha256(payload) AS hx FROM m)
SELECT media_id, kind, CAST(n_bytes AS INTEGER) AS n_bytes,
  floor(({fsum}) * 1000000 + 0.5) / 1000000 AS feat_sum
FROM h
"""


def _q_log_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log integrity summary: event/offset counts, duplicate
    offsets, and offset holes inside the observed lsn range — the gap
    audit a consumer runs before trusting a replay window."""
    from aqueduct_core_spark.verify import log_audit

    return log_audit(load_changes(spark, sf_dir))


def _q_turn_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical-contiguity audit: conversations whose live merged
    state does NOT hold a dense 0..max turn sequence (turn tombstones
    punched holes) — the rows a prefix-rendering exporter must repair
    or drop."""
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import OP_DELETE
    from aqueduct_core_spark.verify import turn_integrity

    winners, _ = lww.resolve_batch(
        load_changes(spark, sf_dir), ["role", "text", "tool", "ts"]
    )
    state = winners.where(F.col("op") != OP_DELETE)
    return turn_integrity(state).orderBy("conv_id")


def _q_turn_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-generation detector: maximal runs of consecutive
    turns whose digit-stripped text is identical (an agent looping the
    same reply), ≥2 turns long, over the merged state — the repetition
    failure corpus-level dedup can't see because each document is
    unique."""
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.operators.temporal import turn_runs
    from aqueduct_core_spark.schema import OP_DELETE

    winners, _ = lww.resolve_batch(
        load_changes(spark, sf_dir), ["role", "text", "tool", "ts"]
    )
    state = winners.where(F.col("op") != OP_DELETE)
    key = F.regexp_replace(F.col("text"), "[0-9]+", "")
    return turn_runs(state, key, min_run=2)


def _q_normalize_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized payload-normalization UDF (U1) with a REAL
    positive path: every live payload is deliberately dirtied with a
    deterministic mess — leading/trailing runs of spaces/tab/newline, a
    bell control character, and a DECOMPOSED 'cafe'+U+0301 — then run
    through ``normalize_text`` (NFC → control strip → whitespace
    collapse → trim).  The oracle rebuilds the identical mess in SQL
    and normalizes it with DuckDB's own ``nfc_normalize`` + RE2
    regexes — two independent Unicode/regex stacks must produce
    byte-identical text, which is the actual contract of a
    normalization pass that feeds a dedup fingerprint."""
    from aqueduct_core_spark.functions.normalize import normalize_text

    ch = load_changes(spark, sf_dir).where(F.col("text").isNotNull())
    messy = F.concat(
        F.lit("  "),
        F.col("text"),
        F.lit(" \n\t cafe\u0301 \x07 end"),  # DECOMPOSED e + combining acute
    )
    return ch.select("lsn", normalize_text(messy).alias("text_norm"))


def _q_epoch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once bookkeeping audit with a REAL positive path: a
    synthetic ``_offsets`` table is constructed deterministically from
    the change log (epoch = lsn DIV 2000, per-epoch watermark, per-
    (epoch, cluster) lineage ranges serialized as the engine's
    partition_lineage JSON), then FOUR corruptions are forged —
    a duplicate epoch-2 row at watermark−5, epoch 4's watermark
    regressed by 3000, epoch-1/bucket-3's lineage max pushed past its
    watermark, epoch-3/bucket-5's lineage min pushed below the previous
    watermark — and ``epoch_lineage_audit`` must flag every planted
    violation class (and the cascade each one implies) with
    deterministic detail strings.  The oracle recomputes the audit's
    output relationally from the same construction — including the
    (epoch, last_lsn) sequence ordering over the duplicate rows, the
    determinism fix from the r3 ADVICE."""
    from aqueduct_core_spark.streaming.monitor import epoch_lineage_audit

    ch = load_changes(spark, sf_dir)
    ep = F.expr("lsn DIV 2000").alias("epoch")
    wm = (
        ch.groupBy(ep)
        .agg(F.max("lsn").alias("_wm"))
        .withColumn(
            "last_lsn",
            F.when(F.col("epoch") == 4, F.col("_wm") - 3000).otherwise(
                F.col("_wm")
            ),
        )
        .drop("_wm")
    )
    lin = (
        ch.groupBy(ep, F.col("cluster_id").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("keys"),
            F.min("lsn").alias("_mn"),
            F.max("lsn").alias("_mx"),
        )
        .withColumn(
            "min_lsn",
            F.when(
                (F.col("epoch") == 3) & (F.col("bucket") == 5),
                F.col("_mn") - 2500,
            ).otherwise(F.col("_mn")),
        )
        .withColumn(
            "max_lsn",
            F.when(
                (F.col("epoch") == 1) & (F.col("bucket") == 3),
                F.col("_mx") + 50,
            ).otherwise(F.col("_mx")),
        )
    )
    linj = lin.groupBy("epoch").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("bucket").cast("string").alias("k"),
                    F.struct(
                        F.col("keys").cast("long").alias("keys"),
                        F.col("min_lsn").cast("long").alias("min_lsn"),
                        F.col("max_lsn").cast("long").alias("max_lsn"),
                    ).alias("v"),
                )
            )
        ).alias("buckets")
    )
    off = wm.join(linj, "epoch").select(
        "epoch",
        "last_lsn",
        F.to_json(
            F.struct(
                F.lit("batch").alias("scope"), F.col("buckets").alias("buckets")
            )
        ).alias("partition_lineage"),
    )
    dup = off.where(F.col("epoch") == 2).withColumn(
        "last_lsn", F.col("last_lsn") - 5
    )
    return epoch_lineage_audit(off.unionByName(dup))


def _epoch_audit_oracle() -> str:
    """The audit's violation set recomputed relationally from the same
    deterministic construction (no JSON round-trip needed: the oracle
    joins each physical offsets row to its epoch's lineage directly,
    exactly what the engine's per-row exploded JSON does)."""
    return oracle(
        """
e AS (SELECT lsn // 2000 AS epoch, lsn, cluster_id FROM changes),
wm AS (
  SELECT epoch,
         CASE WHEN epoch = 4 THEN max(lsn) - 3000 ELSE max(lsn) END AS last_lsn
  FROM e GROUP BY epoch
),
rows_ AS (
  SELECT epoch, last_lsn FROM wm
  UNION ALL SELECT epoch, last_lsn - 5 FROM wm WHERE epoch = 2
),
lin AS (
  SELECT epoch, cluster_id AS bucket,
         CASE WHEN epoch = 3 AND cluster_id = 5 THEN min(lsn) - 2500
              ELSE min(lsn) END AS min_lsn,
         CASE WHEN epoch = 1 AND cluster_id = 3 THEN max(lsn) + 50
              ELSE max(lsn) END AS max_lsn
  FROM e GROUP BY epoch, cluster_id
),
seq AS (
  SELECT epoch, last_lsn,
         lag(last_lsn) OVER (ORDER BY epoch, last_lsn) AS prev
  FROM rows_
),
bk AS (
  SELECT s.epoch, s.last_lsn, s.prev, l.bucket, l.min_lsn, l.max_lsn
  FROM seq s JOIN lin l ON s.epoch = l.epoch
),
viol AS (
  SELECT epoch, 'duplicate_epoch_row' AS reason,
         'rows=' || CAST(count(*) AS VARCHAR) AS detail
  FROM rows_ GROUP BY epoch HAVING count(*) > 1
  UNION ALL
  SELECT epoch, 'watermark_regression',
         'last_lsn=' || CAST(last_lsn AS VARCHAR)
           || ' prev=' || CAST(prev AS VARCHAR)
  FROM seq WHERE last_lsn < prev
  UNION ALL
  SELECT epoch, 'lineage_beyond_watermark',
         'bucket=' || CAST(bucket AS VARCHAR)
           || ' max_lsn=' || CAST(max_lsn AS VARCHAR)
           || ' watermark=' || CAST(last_lsn AS VARCHAR)
  FROM bk WHERE max_lsn > last_lsn
  UNION ALL
  SELECT epoch, 'lineage_below_prev_watermark',
         'bucket=' || CAST(bucket AS VARCHAR)
           || ' min_lsn=' || CAST(min_lsn AS VARCHAR)
           || ' prev_watermark=' || CAST(prev AS VARCHAR)
  FROM bk WHERE prev IS NOT NULL AND min_lsn <= prev
)
SELECT CAST(epoch AS BIGINT) AS epoch, reason, detail
FROM viol ORDER BY epoch, reason, detail
"""
    )


def _q_op_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC protocol-order profile: per-key (prev_op → op) transition
    counts with a strict-semantics flag — surfaces producers emitting
    update-before-insert, double-insert or post-delete mutations, all
    of which the LWW merge absorbs but an operator wants reported."""
    from aqueduct_core_spark.verify import op_transitions

    return op_transitions(load_changes(spark, sf_dir))


def _q_edit_magnitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-size analytics over the CDC preference pairs: Levenshtein
    distance, signed length delta and 6-dp edit ratio per (rejected,
    chosen) pair — the features separating typo fixes from full
    rewrites when curating preference data."""
    from aqueduct_core_spark.functions.examples import (
        edit_magnitude,
        preference_pairs,
    )

    return edit_magnitude(preference_pairs(load_changes(spark, sf_dir)))


def _q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation inter-turn latency profile over the merged
    state: gap seconds between consecutive turns' LWW timestamps in
    turn order (negative gap = out-of-order final edits, an auditable
    signal), aggregated per conversation."""
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.operators.temporal import turn_latency
    from aqueduct_core_spark.schema import OP_DELETE

    winners, _ = lww.resolve_batch(
        load_changes(spark, sf_dir), ["role", "text", "tool", "ts"]
    )
    state = winners.where(F.col("op") != OP_DELETE)
    return turn_latency(state)


def _q_emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-similarity decontamination: corpus = vec_id % 10 != 0,
    benchmark = the other 10%; per corpus vector the max cosine vs the
    broadcast benchmark with nearest-item attribution and a
    ``contaminated`` flag at 0.35 — the semantic leakage rule the
    k-gram overlap (doc_decontaminate) cannot catch."""
    from aqueduct_core_spark.functions.similarity import (
        decontaminate_embeddings,
    )

    embs = _embs(spark, sf_dir)
    corpus = embs.where(F.col("vec_id") % 10 != 0)
    bench = embs.where(F.col("vec_id") % 10 == 0)
    return decontaminate_embeddings(corpus, bench, threshold=0.35, dim=64)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW-merged transcript state of the sf0.001 change log."""
    return _q_merged_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract registry: 89 queries, each with an oracle in
    :func:`oracle_sql` (same key set; tests/test_contract_registry.py).

    The contract had 93 entries through round 5.  Round 6 retired the
    four ANN top-k rows below the engine's own 0.8 mean recall@20 bar,
    with their oracles: bucket LSH, scanned or indexed (0.55), IVF over
    random centroids (0.60) and IVF over a one-iteration trained
    codebook (0.70) (BENCH.md "ANN recall vs cost").

    ORDER MATTERS: the correctness driver verifies a 50-entry prefix
    of this dict (each CORRECTNESS_r* artifact is a prefix of the
    then-current insertion order).  The window rotates: the entries
    the last artifact did not cover move to the front, longest-
    unverified first, so each query is checked within two rounds.
    Current layout:

    - slots 1-10 were last verified in CORRECTNESS_r02: the eight that
      sat past slot 50, then doc_simhash_candidates and
      emb_cosine_topk (slots 49-50 when r05 was cut without them);
    - slots 11-41 were last verified in r04, in their previous order;
    - slots 42-89 are the r05 window in its own order; slots 42-50
      stay inside the prefix.
    """
    return {
        "doc_text_stats": _q_text_stats,
        "emb_knn_join": _q_knn_join,
        "media_features": _q_media_features,
        "cdc_routing_groups": _q_routing_groups,
        "cdc_cluster_lookup": _q_cluster_lookup,
        "cdc_max_offset_for_types": _q_max_offset_for_types,
        "cdc_ttl_marked": _q_ttl_marked,
        "cdc_hourly_throughput": _q_hourly_throughput,
        "doc_simhash_candidates": _q_simhash,
        "emb_cosine_topk": _q_cosine_topk,
        "cdc_partial_upserts": _q_partial_upserts,
        "cdc_version_diff": _q_version_diff,
        "cdc_redaction": _q_redaction,
        "cdc_count_by_op": _q_count_by_op,
        "cdc_global_latest_offset": _q_global_latest,
        "cdc_max_offset_prev_hour": _q_max_prev_hour,
        "cdc_consistency_sum": _q_consistency_sum,
        "cdc_routing_filter": _q_routing,
        "cdc_tombstones": _q_tombstones,
        "cdc_table_changes": _q_table_changes,
        "cdc_conv_rollup": _q_conv_rollup,
        "cdc_quarantine": _q_quarantine,
        "cdc_rename_evolution": _q_rename_evolution,
        "cdc_net_changes": _q_net_changes,
        "cdc_asof_join": _q_asof_join,
        "cdc_sessionize": _q_sessionize,
        "cdc_demux_routes": _q_demux_routes,
        "cdc_state_at_lsn": _q_state_at_lsn,
        "cdc_conv_text": _q_conv_text,
        "cdc_conv_quality": _q_conv_quality,
        "cdc_replica_diff": _q_replica_diff,
        "doc_sample": _q_sample,
        "doc_stratified_sample": _q_stratified_sample,
        "doc_token_budget_mix": _q_token_budget_mix,
        "doc_dsir_scores": _q_dsir_scores,
        "doc_dsir_select": _q_dsir_select,
        "doc_top_bigrams": _q_top_bigrams,
        "doc_chunks": _q_doc_chunks,
        "doc_pii_redact": _q_pii_redact,
        "doc_pack_sequences": _q_pack_sequences,
        "doc_lm_score": _q_lm_score,
        "doc_subword_tokens": _q_subword_tokens,
        "doc_quality_filter": _q_quality_filter,
        "doc_ngram_jaccard": _q_ngram_jaccard,
        "doc_span_dedup": _q_span_dedup,
        "doc_index_dedup": _q_index_dedup,
        "doc_decontaminate": _q_decontaminate,
        "doc_corpus_recipe": _q_corpus_recipe,
        "doc_dup_clusters": _q_dup_clusters,
        "doc_dedup_keep_best": _q_dedup_keep_best,
        "emb_sketch_topk": _q_sketch_topk,
        "emb_near_dup": _q_near_dup,
        "emb_semantic_dedup": _q_semantic_dedup,
        "emb_ivf_forest": _q_ivf_forest,
        "emb_forest_index_inc": _q_forest_index_inc,
        "media_real_decode": _q_media_real_decode,
        "cdc_log_audit": _q_log_audit,
        "cdc_turn_integrity": _q_turn_integrity,
        "cdc_turn_loops": _q_turn_loops,
        "cdc_turn_latency": _q_turn_latency,
        "cdc_edit_magnitude": _q_edit_magnitude,
        "cdc_op_transitions": _q_op_transitions,
        "cdc_epoch_audit": _q_epoch_audit,
        "cdc_normalize_payload": _q_normalize_payload,
        "emb_decontaminate": _q_emb_decontaminate,
        "cdc_merged_state": _q_merged_state,
        "cdc_apply_full": _q_apply_full,
        "cdc_lww_latest": _q_lww_latest,
        "cdc_compact_log": _q_compact_log,
        "cdc_byte_page": _q_byte_page,
        "cdc_scd2_history": _q_scd2_history,
        "cdc_scd2_incremental": _q_scd2_incremental,
        "cdc_envelope_roundtrip": _q_envelope_roundtrip,
        "cdc_envelope_dlq": _q_envelope_dlq,
        "cdc_changefeed": _q_changefeed,
        "cdc_point_lookup": _q_point_lookup,
        "cdc_rollback": _q_rollback,
        "cdc_page": _q_page,
        "cdc_erasure": _q_erasure,
        "cdc_time_travel": _q_time_travel,
        "cdc_conv_near_dup": _q_conv_near_dup,
        "conv_sft_examples": _q_sft_examples,
        "cdc_preference_pairs": _q_preference_pairs,
        "cdc_pref_pairs_inc": _q_pref_pairs_inc,
        "doc_exact_dedup": _q_exact_dedup,
        "doc_minhash_pairs": _q_minhash_pairs,
        "emb_ivfpq_topk": _q_ivfpq_topk,
        "emb_pq_topk": _q_pq_topk,
        "doc_bm25_topk": _q_bm25_topk,
    }


def oracle_sql() -> dict[str, str]:
    state_sql = oracle(_STATE_BODY + "SELECT * FROM state")

    lww_latest = oracle(
        """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
w AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns
)
SELECT conv_id, turn_idx, role, text, tool, ts, op, lsn FROM w WHERE rn = 1
"""
    )

    page = oracle(
        """
SELECT * FROM changes
WHERE lsn >= 1000 AND lsn <= 9000
  AND op IN ('I','U')
  AND cluster_id IN (1,2,3)
ORDER BY lsn LIMIT 500
"""
    )

    byte_page = oracle(
        """
page AS (SELECT * FROM changes WHERE lsn >= 0 ORDER BY lsn LIMIT 2000),
r AS (
  SELECT *, sum(event_size) OVER (ORDER BY lsn
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
    row_number() OVER (ORDER BY lsn) AS rn
  FROM page
)
SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts, event_size, cluster_id,
       location_group
FROM r WHERE running <= 100000 OR rn = 1
"""
    )

    compact = oracle(
        """
bounds AS (
  SELECT max(ts) - INTERVAL 10 DAY AS thr, max(ts) - INTERVAL 20 DAY AS del_thr
  FROM changes
),
old AS (SELECT c.* FROM changes c, bounds b WHERE c.ts <= b.thr),
recent AS (SELECT c.* FROM changes c, bounds b WHERE c.ts > b.thr),
w AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, coalesce(turn_idx, -1) ORDER BY lsn DESC) AS rn
  FROM old
),
cw AS (
  SELECT conv_id, max(lsn) AS cwl FROM old
  WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
survivors AS (
  SELECT w.lsn, w.op, w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts,
         w.event_size, w.cluster_id, w.location_group
  FROM w LEFT JOIN cw ON w.conv_id = cw.conv_id, bounds b
  WHERE rn = 1
    AND (cw.cwl IS NULL OR w.lsn > cw.cwl OR w.op = 'D')
    AND NOT (op = 'D' AND ts <= b.del_thr)
)
SELECT * FROM survivors
UNION ALL
SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts, event_size, cluster_id,
       location_group
FROM recent
"""
    )

    apply_full = oracle(
        _STATE_BODY
        + """
SELECT conv_id, turn_idx, role, text,
       CASE WHEN lsn < (SELECT max(lsn) // 2 FROM changes) THEN NULL ELSE tool END AS tool,
       ts, lsn
FROM state
"""
    )

    text_stats = f"""
WITH t AS (
  SELECT doc_id, text,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    floor((length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
          * 1000000 + 0.5) / 1000000 AS alpha_ratio,
    CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) = 0 THEN 0.0
         ELSE round(
           len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ({_SW}))) * 1.0
           / len(string_split_regex(trim(lower(text)), '\\s+')), 6) END AS sw_ratio
  FROM documents
)
SELECT doc_id, n_tokens, alpha_ratio, sw_ratio,
  floor((0.5 * alpha_ratio
      + 0.3 * least(n_tokens / 200.0, 1.0)
      + 0.2 * (1.0 - least(sw_ratio * 5, 1.0))) * 1000000 + 0.5) / 1000000 AS quality,
  CASE WHEN sw_ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM t
"""

    exact_dedup = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_cnt
FROM documents GROUP BY 1
"""

    cosine_topk = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
s AS (
  SELECT vec_id,
    floor((
      list_inner_product(CAST(embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
         * sqrt(list_inner_product(q.qv, q.qv)))) * 1000000 + 0.5) / 1000000 AS sim
  FROM embeddings, q
)
SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 20
"""

    knn_join = """
WITH p AS (
  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT p.probe_id, e.vec_id AS neighbor_id,
    floor((
      list_inner_product(CAST(e.embedding AS DOUBLE[]), p.pv)
      / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_inner_product(p.pv, p.pv)))) * 1000000 + 0.5) / 1000000 AS sim
  FROM embeddings e, p
  WHERE p.probe_id <> e.vec_id
),
r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM s
)
SELECT probe_id, neighbor_id, sim, rank FROM r WHERE rank <= 5
"""

    out = {
        "cdc_merged_state": state_sql,
        "cdc_redaction": oracle(
            _STATE_BODY
            + """
SELECT conv_id, turn_idx, role,
       regexp_replace(text, '[0-9]+', '<num>', 'g') AS text,
       tool, ts, lsn
FROM state
"""
        ),
        "cdc_version_diff": oracle(
            """
split AS (SELECT max(lsn) // 2 AS s FROM changes),
t1 AS (SELECT * FROM changes WHERE lsn < (SELECT s FROM split)),
cd1 AS (
  SELECT conv_id, max(lsn) AS dl FROM t1
  WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
w1 AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM t1 WHERE turn_idx IS NOT NULL
),
s1 AS (
  SELECT w1.conv_id, w1.turn_idx, w1.lsn
  FROM w1 LEFT JOIN cd1 ON w1.conv_id = cd1.conv_id
  WHERE rn = 1 AND op <> 'D' AND (dl IS NULL OR w1.lsn > dl)
),
cd2 AS (
  SELECT conv_id, max(lsn) AS dl FROM changes
  WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
w2 AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM changes WHERE turn_idx IS NOT NULL
),
s2 AS (
  SELECT w2.conv_id, w2.turn_idx, w2.lsn
  FROM w2 LEFT JOIN cd2 ON w2.conv_id = cd2.conv_id
  WHERE rn = 1 AND op <> 'D' AND (dl IS NULL OR w2.lsn > dl)
)
SELECT
  coalesce(s1.conv_id, s2.conv_id) AS conv_id,
  coalesce(s1.turn_idx, s2.turn_idx) AS turn_idx,
  CASE WHEN s1.conv_id IS NULL THEN 'added'
       WHEN s2.conv_id IS NULL THEN 'removed'
       ELSE 'changed' END AS change,
  s1.lsn AS lsn_from,
  s2.lsn AS lsn_to
FROM s1 FULL OUTER JOIN s2
  ON s1.conv_id = s2.conv_id AND s1.turn_idx = s2.turn_idx
WHERE s1.conv_id IS NULL OR s2.conv_id IS NULL OR s1.lsn <> s2.lsn
"""
        ),
        "cdc_erasure": oracle(
            _STATE_BODY
            + """
SELECT conv_id, turn_idx, role, text, tool, ts, lsn FROM state
WHERE substr(md5(conv_id), 1, 1) <> 'a'
"""
        ),
        "cdc_apply_full": apply_full,
        "cdc_lww_latest": lww_latest,
        "cdc_rollback": oracle(
            """
half AS (
  SELECT * FROM changes
  WHERE lsn < (SELECT max(lsn) // 2 FROM changes)
),
turns AS (SELECT * FROM half WHERE turn_idx IS NOT NULL),
conv_del AS (
  SELECT conv_id, max(lsn) AS conv_del_lsn
  FROM half WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns
),
state AS (
  SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts, w.lsn
  FROM w LEFT JOIN conv_del ON w.conv_id = conv_del.conv_id
  WHERE rn = 1 AND op <> 'D'
    AND (conv_del_lsn IS NULL OR w.lsn > conv_del_lsn)
)
SELECT conv_id, turn_idx, role, text, tool, ts, lsn FROM state
"""
        ),
        "cdc_point_lookup": oracle(
            _STATE_BODY
            + """
SELECT conv_id, turn_idx, role, text, tool, ts FROM state
WHERE conv_id = (SELECT min(conv_id) FROM state)
"""
        ),
        "cdc_page": page,
        "cdc_byte_page": byte_page,
        "cdc_count_by_op": oracle(
            "SELECT op, CAST(count(*) AS BIGINT) AS cnt FROM changes GROUP BY op"
        ),
        "cdc_global_latest_offset": oracle(
            "SELECT max(lsn) AS latest_lsn FROM changes"
        ),
        "cdc_max_offset_prev_hour": oracle(
            """
SELECT max(lsn) AS max_lsn_prev_hour FROM changes
WHERE ts <= (SELECT date_trunc('hour', max(ts)) FROM changes)
"""
        ),
        "cdc_consistency_sum": oracle(
            _STATE_BODY + "SELECT CAST(sum(lsn) AS BIGINT) AS consistency_sum FROM state"
        ),
        "cdc_compact_log": compact,
        "cdc_routing_filter": oracle(
            """
SELECT lsn, conv_id, turn_idx, op, cluster_id FROM changes
WHERE cluster_id IN (0,3,5)
"""
        ),
        "cdc_tombstones": oracle(
            "SELECT lsn, conv_id, turn_idx, cluster_id FROM changes WHERE op = 'D'"
        ),
        "cdc_time_travel": oracle(
            """
mx AS (SELECT max(lsn) // 2 AS split FROM changes),
half AS (SELECT c.* FROM changes c, mx WHERE c.lsn < mx.split),
turns AS (SELECT * FROM half WHERE turn_idx IS NOT NULL),
conv_del AS (
  SELECT conv_id, max(lsn) AS cdl FROM half
  WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns
)
SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts, w.lsn
FROM w LEFT JOIN conv_del ON w.conv_id = conv_del.conv_id
WHERE rn = 1 AND op <> 'D' AND (cdl IS NULL OR w.lsn > cdl)
"""
        ),
        "cdc_table_changes": oracle(
            """
mx AS (SELECT max(lsn) // 2 AS split FROM changes),
h2 AS (SELECT c.* FROM changes c, mx WHERE c.lsn >= mx.split),
t AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM h2 WHERE turn_idx IS NOT NULL
),
tw AS (
  SELECT conv_id, turn_idx, op, role, text, tool, ts, lsn FROM t WHERE rn = 1
),
cd AS (
  SELECT conv_id, CAST(NULL AS INTEGER) AS turn_idx, 'D' AS op,
         CAST(NULL AS VARCHAR) AS role, CAST(NULL AS VARCHAR) AS text,
         CAST(NULL AS VARCHAR) AS tool, CAST(NULL AS TIMESTAMP) AS ts,
         max(lsn) AS lsn
  FROM h2 WHERE turn_idx IS NULL GROUP BY conv_id
)
SELECT * FROM tw UNION ALL SELECT * FROM cd
"""
        ),
        "doc_chunks": """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(len(toks) - 8 - 1, 0), 24)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // 24 AS INTEGER) AS chunk_idx,
       array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
       CAST(least(32, len(toks) - start) AS INTEGER) AS chunk_tokens
FROM s
""",
        "doc_lm_score": """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
n AS (SELECT count(*) AS total FROM tok),
vocab AS (
  SELECT t, count(*) AS c FROM tok GROUP BY t
  ORDER BY c DESC, t ASC LIMIT 1000
)
SELECT tok.doc_id,
       floor(avg(ln(coalesce(vocab.c, 0) + 1.0)
                 - ln(n.total + 1.0)) * 1000000 + 0.5) / 1000000 AS lm_score,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM tok LEFT JOIN vocab USING (t), n
GROUP BY tok.doc_id, n.total
""",
        "doc_pack_sequences": """
WITH d AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    CAST(doc_id % 16 AS INTEGER) AS shard
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (
    ORDER BY shard, doc_id ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM d WHERE n_tokens > 0
),
s AS (
  SELECT doc_id, n_tokens,
         CAST(cum_end - n_tokens AS BIGINT) AS start_off,
         CAST(cum_end - 1 AS BIGINT) AS end_off
  FROM c
),
e AS (
  SELECT doc_id, n_tokens, start_off, end_off,
         unnest(generate_series(start_off // 512, end_off // 512)) AS seq_id
  FROM s
)
SELECT doc_id, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(start_off, seq_id * 512) - seq_id * 512 AS INTEGER) AS seq_off,
       CAST(least(end_off, (seq_id + 1) * 512 - 1)
            - greatest(start_off, seq_id * 512) + 1 AS INTEGER) AS span_tokens
FROM e
""",
        "doc_pii_redact": """
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com or 555-123-4567'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\d{3}-\\d{3,4}-\\d{4}', '<PHONE>', 'g') AS text,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\d{3}-\\d{3,4}-\\d{4}')) AS INTEGER) AS n_phones
FROM inj
""",
        "cdc_quarantine": oracle(
            """
inj AS (
  SELECT lsn, conv_id, turn_idx,
         CASE WHEN lsn % 101 = 0 THEN 'X' ELSE op END AS op,
         CASE WHEN lsn % 103 = 0 AND turn_idx IS NOT NULL
                   AND (CASE WHEN lsn % 101 = 0 THEN 'X' ELSE op END) <> 'D'
              THEN NULL ELSE text END AS text
  FROM changes
),
stamped AS (
  SELECT lsn, op, conv_id, turn_idx,
         CASE WHEN conv_id IS NULL OR conv_id = '' THEN 'null_key'
              WHEN lsn IS NULL OR lsn < 0 THEN 'bad_lsn'
              WHEN op NOT IN ('I','U','D') THEN 'bad_op'
              WHEN turn_idx IS NOT NULL AND op <> 'D' AND text IS NULL
                   THEN 'missing_payload'
              WHEN turn_idx < 0 THEN 'negative_turn'
         END AS reason
  FROM inj
)
SELECT * FROM stamped WHERE reason IS NOT NULL
"""
        ),
        "cdc_envelope_roundtrip": oracle("SELECT * FROM changes"),
        "cdc_partial_upserts": oracle(
            """
sparse AS (
  SELECT lsn, op, conv_id, turn_idx,
         CASE WHEN op = 'U' AND lsn % 2 = 0 THEN NULL ELSE role END AS role,
         CASE WHEN op = 'U' AND lsn % 3 = 0 THEN NULL ELSE text END AS text,
         tool, ts
  FROM changes
),
turns AS (SELECT * FROM sparse WHERE turn_idx IS NOT NULL),
conv_del AS (
  SELECT conv_id, max(lsn) AS conv_del_lsn
  FROM sparse WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
g AS (
  SELECT conv_id, turn_idx,
    max_by(role, CASE WHEN op <> 'D' AND role IS NOT NULL THEN lsn END) AS v_role,
    max(CASE WHEN op <> 'D' AND role IS NOT NULL THEN lsn END) AS l_role,
    max_by(text, CASE WHEN op <> 'D' AND text IS NOT NULL THEN lsn END) AS v_text,
    max(CASE WHEN op <> 'D' AND text IS NOT NULL THEN lsn END) AS l_text,
    max_by(tool, CASE WHEN op <> 'D' AND tool IS NOT NULL THEN lsn END) AS v_tool,
    max(CASE WHEN op <> 'D' AND tool IS NOT NULL THEN lsn END) AS l_tool,
    max_by(ts, CASE WHEN op <> 'D' THEN lsn END) AS v_ts,
    max(CASE WHEN op <> 'D' THEN lsn END) AS l_ts,
    max(CASE WHEN op = 'D' THEN lsn END) AS tdel,
    max(lsn) AS lsn
  FROM turns GROUP BY conv_id, turn_idx
)
SELECT conv_id, turn_idx,
  CASE WHEN l_role > greatest(coalesce(tdel, -1), coalesce(conv_del_lsn, -1))
       THEN v_role END AS role,
  CASE WHEN l_text > greatest(coalesce(tdel, -1), coalesce(conv_del_lsn, -1))
       THEN v_text END AS text,
  CASE WHEN l_tool > greatest(coalesce(tdel, -1), coalesce(conv_del_lsn, -1))
       THEN v_tool END AS tool,
  CASE WHEN l_ts > greatest(coalesce(tdel, -1), coalesce(conv_del_lsn, -1))
       THEN v_ts END AS ts,
  lsn
FROM g LEFT JOIN conv_del USING (conv_id)
WHERE lsn > coalesce(tdel, -1)
  AND (conv_del_lsn IS NULL OR lsn > conv_del_lsn)
"""
        ),
        "cdc_rename_evolution": oracle(
            _STATE_BODY
            + "SELECT conv_id, turn_idx, role AS speaker, text, "
            "tool AS tool_name, ts FROM state"
        ),
        "cdc_envelope_dlq": oracle(
            """
SELECT reason, count(*) AS n FROM (
  SELECT CASE WHEN lsn % 101 = 0 THEN 'not_json'
              WHEN lsn % 103 = 0 THEN 'bad_op'
              WHEN lsn % 107 = 0 THEN 'no_lsn' END AS reason
  FROM changes
) WHERE reason IS NOT NULL GROUP BY reason
"""
        ),
        "cdc_conv_rollup": oracle(
            _STATE_BODY
            + """
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS turns,
       CAST(sum(length(text)) AS BIGINT) AS chars,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM state GROUP BY conv_id
"""
        ),
        "cdc_changefeed": oracle(
            """
t AS (
  SELECT lsn, conv_id, turn_idx, op, text,
    lag(text) OVER w AS prev_text,
    lag(op) OVER w AS prev_op
  FROM changes WHERE turn_idx IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY lsn)
)
SELECT lsn, conv_id, turn_idx, op, text, prev_text,
  CASE WHEN op = 'D' THEN 'delete'
       WHEN prev_op IS NULL THEN 'create'
       ELSE 'update' END AS change_type
FROM t
"""
        ),
        "cdc_net_changes": oracle(
            """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL AND lsn <= 12000),
wi AS (
  SELECT conv_id, turn_idx, lsn, op, role, text, tool, ts,
    row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns WHERE lsn >= 2000
),
wp AS (
  SELECT conv_id, turn_idx, op AS pre_op,
    row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns WHERE lsn < 2000
)
SELECT i.conv_id, i.turn_idx,
  CASE WHEN i.op = 'D' THEN 'D'
       WHEN p.pre_op IS NOT NULL AND p.pre_op <> 'D' THEN 'U'
       ELSE 'I' END AS net_op,
  i.lsn, i.role, i.text, i.tool, i.ts
FROM (SELECT * FROM wi WHERE rn = 1) i
LEFT JOIN (SELECT * FROM wp WHERE rn = 1) p USING (conv_id, turn_idx)
WHERE NOT (i.op = 'D' AND (p.pre_op IS NULL OR p.pre_op = 'D'))
"""
        ),
        "cdc_asof_join": oracle(
            """
turns AS (
  SELECT lsn, conv_id, turn_idx, op FROM changes WHERE turn_idx IS NOT NULL
),
cd AS (SELECT conv_id, lsn AS conv_del_lsn FROM changes WHERE turn_idx IS NULL)
SELECT t.lsn, t.conv_id, t.turn_idx, t.op, cd.conv_del_lsn
FROM turns t ASOF LEFT JOIN cd
  ON t.conv_id = cd.conv_id AND t.lsn >= cd.conv_del_lsn
"""
        ),
        "cdc_conv_text": oracle(
            _STATE_BODY
            + """
SELECT conv_id, CAST(count(*) AS INTEGER) AS n_turns,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS conv_text
FROM state GROUP BY conv_id
"""
        ),
        "conv_sft_examples": oracle(
            _STATE_BODY
            + """,
ctx AS (
  SELECT conv_id, turn_idx, role, text,
         count(*) OVER win AS n_context_turns,
         string_agg(role || ': ' || text, chr(10)) OVER win AS context
  FROM state
  WINDOW win AS (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, turn_idx, n_context_turns, context, text AS target
FROM ctx WHERE role = 'purchase' AND n_context_turns >= 1
"""
        ),
        "cdc_preference_pairs": oracle(
            _PREF_PAIRS_CTES + "SELECT * FROM pairs"
        ),
        "cdc_edit_magnitude": oracle(
            _PREF_PAIRS_CTES
            + """
SELECT conv_id, turn_idx, rejected_lsn, chosen_lsn,
  CAST(levenshtein(rejected_text, chosen_text) AS BIGINT) AS edit_distance,
  CAST(length(chosen_text) - length(rejected_text) AS BIGINT) AS len_delta,
  floor(CAST(levenshtein(rejected_text, chosen_text) AS DOUBLE)
        / greatest(length(rejected_text), length(chosen_text), 1)
        * 1000000 + 0.5) / 1000000 AS edit_ratio
FROM pairs
"""
        ),
        "cdc_conv_near_dup": _conv_near_dup_oracle(),
        "cdc_conv_quality": _conv_quality_oracle(),
        "cdc_state_at_lsn": oracle(
            """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL AND lsn <= 8000),
conv_del AS (
  SELECT conv_id, max(lsn) AS conv_del_lsn
  FROM changes WHERE turn_idx IS NULL AND op = 'D' AND lsn <= 8000
  GROUP BY conv_id
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM turns
)
SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts, w.lsn
FROM w LEFT JOIN conv_del ON w.conv_id = conv_del.conv_id
WHERE rn = 1 AND op <> 'D'
  AND (conv_del_lsn IS NULL OR w.lsn > conv_del_lsn)
"""
        ),
        "cdc_demux_routes": oracle(
            _STATE_BODY
            + """,
conv_route AS (
  SELECT conv_id, CAST(min(cluster_id) % 2 AS INTEGER) AS route
  FROM changes GROUP BY conv_id
)
SELECT s.conv_id, s.turn_idx, s.role, s.text, s.tool, s.ts, s.lsn, r.route
FROM state s JOIN conv_route r USING (conv_id)
"""
        ),
        "cdc_scd2_incremental": oracle(
            """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
seq AS (
  SELECT conv_id, turn_idx, lsn, op, role, text, tool, ts,
         lead(lsn) OVER w AS turn_to, lead(op) OVER w AS next_op
  FROM turns WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY lsn)
),
vers AS (SELECT * FROM seq WHERE op IN ('I','U')),
tomb AS (SELECT conv_id, lsn FROM changes WHERE turn_idx IS NULL AND op = 'D'),
cc AS (
  SELECT v.conv_id, v.turn_idx, v.lsn, min(t.lsn) AS conv_close
  FROM vers v LEFT JOIN tomb t ON v.conv_id = t.conv_id AND t.lsn >= v.lsn
  GROUP BY 1, 2, 3
)
SELECT v.conv_id, v.turn_idx, v.lsn AS valid_from_lsn,
       least(v.turn_to, cc.conv_close) AS valid_to_lsn,
       CASE WHEN cc.conv_close IS NOT NULL
                 AND (v.turn_to IS NULL OR cc.conv_close < v.turn_to)
            THEN 'conv_delete'
            WHEN v.next_op = 'D' THEN 'delete'
            WHEN v.turn_to IS NOT NULL THEN 'update' END AS end_reason,
       least(v.turn_to, cc.conv_close) IS NULL AS is_current,
       v.op AS row_op, v.role, v.text, v.tool, v.ts
FROM vers v JOIN cc USING (conv_id, turn_idx, lsn)
"""
        ),
        "cdc_scd2_history": oracle(
            """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
seq AS (
  SELECT conv_id, turn_idx, lsn, op, role, text, tool, ts,
         lead(lsn) OVER w AS turn_to, lead(op) OVER w AS next_op
  FROM turns WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY lsn)
),
vers AS (SELECT * FROM seq WHERE op IN ('I','U')),
tomb AS (SELECT conv_id, lsn FROM changes WHERE turn_idx IS NULL AND op = 'D'),
cc AS (
  SELECT v.conv_id, v.turn_idx, v.lsn, min(t.lsn) AS conv_close
  FROM vers v LEFT JOIN tomb t ON v.conv_id = t.conv_id AND t.lsn >= v.lsn
  GROUP BY 1, 2, 3
)
SELECT v.conv_id, v.turn_idx, v.lsn AS valid_from_lsn,
       least(v.turn_to, cc.conv_close) AS valid_to_lsn,
       CASE WHEN cc.conv_close IS NOT NULL
                 AND (v.turn_to IS NULL OR cc.conv_close < v.turn_to)
            THEN 'conv_delete'
            WHEN v.next_op = 'D' THEN 'delete'
            WHEN v.turn_to IS NOT NULL THEN 'update' END AS end_reason,
       least(v.turn_to, cc.conv_close) IS NULL AS is_current,
       v.op AS row_op, v.role, v.text, v.tool, v.ts
FROM vers v JOIN cc USING (conv_id, turn_idx, lsn)
"""
        ),
        "cdc_sessionize": oracle(
            """
t AS (
  SELECT conv_id, ts, lsn,
    CASE WHEN lag(ts) OVER w IS NULL
         OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM changes
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, lsn)
),
s AS (
  SELECT conv_id, ts, lsn,
    CAST(sum(new_s) OVER (
      PARTITION BY conv_id ORDER BY ts, lsn ROWS UNBOUNDED PRECEDING
    ) AS INTEGER) AS session_id
  FROM t
)
SELECT conv_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
  min(ts) AS start_ts, max(ts) AS end_ts,
  min(lsn) AS first_lsn, max(lsn) AS last_lsn
FROM s GROUP BY conv_id, session_id
"""
        ),
        "cdc_replica_diff": oracle(
            _STATE_BODY
            + """,
rchanges AS (
  SELECT lsn, op, conv_id, turn_idx, role,
         CASE WHEN lsn % 103 = 0 AND text IS NOT NULL
              THEN text || '!bitrot' ELSE text END AS text,
         tool, ts
  FROM changes WHERE lsn % 101 <> 0
),
rturns AS (SELECT * FROM rchanges WHERE turn_idx IS NOT NULL),
rconv_del AS (
  SELECT conv_id, max(lsn) AS conv_del_lsn
  FROM rchanges WHERE turn_idx IS NULL AND op = 'D' GROUP BY conv_id
),
rw AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM rturns
),
rstate AS (
  SELECT rw.conv_id, rw.turn_idx, rw.role, rw.text, rw.tool, rw.ts, rw.lsn
  FROM rw LEFT JOIN rconv_del ON rw.conv_id = rconv_del.conv_id
  WHERE rn = 1 AND op <> 'D'
    AND (conv_del_lsn IS NULL OR rw.lsn > conv_del_lsn)
)
SELECT coalesce(p.conv_id, r.conv_id) AS conv_id,
       coalesce(p.turn_idx, r.turn_idx) AS turn_idx,
       CASE WHEN r.lsn IS NULL THEN 'missing_in_replica'
            WHEN p.lsn IS NULL THEN 'missing_in_primary'
            ELSE 'differs' END AS status,
       p.lsn AS primary_lsn,
       r.lsn AS replica_lsn
FROM state p FULL OUTER JOIN rstate r
  ON p.conv_id = r.conv_id AND p.turn_idx = r.turn_idx
WHERE p.lsn IS NULL OR r.lsn IS NULL
   OR p.lsn <> r.lsn
   OR p.role IS DISTINCT FROM r.role
   OR p.text IS DISTINCT FROM r.text
   OR p.tool IS DISTINCT FROM r.tool
   OR p.ts IS DISTINCT FROM r.ts
"""
        ),
        "doc_sample": f"""
SELECT doc_id,
  CAST(({_dh('CAST(doc_id AS VARCHAR)', 42)} % 100) AS INTEGER) AS sample_bucket
FROM documents
WHERE ({_dh('CAST(doc_id AS VARCHAR)', 42)} % 100) < 10
""",
        "doc_stratified_sample": f"""
WITH b AS (
  SELECT doc_id, lang,
    CAST(({_dh('CAST(doc_id AS VARCHAR)', 42)} % 100) AS INTEGER) AS sample_bucket
  FROM documents
)
SELECT doc_id, lang, sample_bucket FROM b
WHERE sample_bucket < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 100
                                WHEN 'fr' THEN 50 ELSE 20 END
""",
        "doc_token_budget_mix": f"""
WITH d AS (
  SELECT doc_id, lang,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
    CAST(({_dh('CAST(doc_id AS VARCHAR)', 42)} % 100) AS INTEGER) AS sample_bucket
  FROM documents
),
hist AS (
  SELECT lang, sample_bucket AS b, sum(n_tokens) AS t FROM d GROUP BY 1, 2
),
cum AS (
  SELECT lang, b, sum(t) OVER (PARTITION BY lang ORDER BY b) AS ct FROM hist
),
bud AS (
  SELECT * FROM (VALUES ('en', 20000), ('fr', 5000), ('zh', 100000000))
  AS v(lang, budget)
),
cut AS (
  SELECT bud.lang,
         coalesce(max(CASE WHEN cum.ct <= bud.budget THEN cum.b + 1 END), 0) AS cut
  FROM bud LEFT JOIN cum ON bud.lang = cum.lang GROUP BY bud.lang
)
SELECT d.doc_id, d.lang, d.n_tokens, d.sample_bucket
FROM d JOIN cut ON d.lang = cut.lang AND d.sample_bucket < cut.cut
""",
        "doc_dsir_scores": f"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
rb AS (
  SELECT doc_id, lang,
         CAST(({_dh('bg', 9)} % 1024) AS INTEGER) AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
    FROM toks WHERE len(t) >= 2
  )
),
tbb AS (SELECT b FROM rb WHERE lang = 'en'),
rc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
tc AS (SELECT b, count(*) AS ct FROM tbb GROUP BY b),
nr AS (SELECT count(*) AS n FROM rb),
nt AS (SELECT count(*) AS n FROM tbb),
lp AS (
  SELECT rb.doc_id,
    (ln(coalesce(tc.ct, 0) + 1) - ln(nt.n + 1024))
    - (ln(coalesce(rc.cr, 0) + 1) - ln(nr.n + 1024)) AS l
  FROM rb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b), nr, nt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
  floor(avg(l) * 1000000 + 0.5) / 1000000 AS dsir_logratio
FROM lp GROUP BY doc_id
""",
        "doc_dsir_select": f"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
rb AS (
  SELECT doc_id, lang,
         CAST(({_dh('bg', 9)} % 1024) AS INTEGER) AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
    FROM toks WHERE len(t) >= 2
  )
),
tbb AS (SELECT b FROM rb WHERE lang = 'en'),
rc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
tc AS (SELECT b, count(*) AS ct FROM tbb GROUP BY b),
nr AS (SELECT count(*) AS n FROM rb),
nt AS (SELECT count(*) AS n FROM tbb),
lp AS (
  SELECT rb.doc_id,
    (ln(coalesce(tc.ct, 0) + 1) - ln(nt.n + 1024))
    - (ln(coalesce(rc.cr, 0) + 1) - ln(nr.n + 1024)) AS l
  FROM rb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b), nr, nt
),
sc AS (
  SELECT doc_id,
    floor(avg(l) * 1000000 + 0.5) / 1000000 AS dsir_logratio
  FROM lp GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, dsir_logratio,
    floor((dsir_logratio / 1.0
           - ln(-ln((CAST({_dh('CAST(doc_id AS VARCHAR)', 17)} AS DOUBLE) + 0.5)
                    / 1152921504606846976.0)))
          * 1000000 + 0.5) / 1000000 AS sel_key
  FROM sc
)
SELECT doc_id, dsir_logratio, sel_key
FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 100
""",
        "doc_top_bigrams": r"""
WITH toks AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
g AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS ngram
  FROM toks WHERE len(t) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM g GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50
""",
        "doc_exact_dedup": exact_dedup,
        "doc_text_stats": text_stats,
        "doc_bm25_topk": _bm25_oracle(),
        "doc_quality_filter": "WITH " + _gopher_body(),
        "doc_subword_tokens": """
WITH t AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')) AS n_subword,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws
  FROM documents
)
SELECT doc_id, CAST(n_subword AS INTEGER) AS n_subword,
  CASE WHEN n_ws = 0 THEN 0.0
       ELSE floor((n_subword * 1.0 / n_ws) * 1000000 + 0.5) / 1000000 END AS fertility
FROM t
""",
        "emb_cosine_topk": cosine_topk,
        "emb_knn_join": knn_join,
        "doc_minhash_pairs": _minhash_oracle(),
        "doc_ngram_jaccard": _ngram_jaccard_oracle(),
        "doc_span_dedup": _span_dedup_oracle(),
        "doc_index_dedup": _index_dedup_oracle(),
        "doc_decontaminate": _decontaminate_oracle(),
        "doc_corpus_recipe": _corpus_recipe_oracle(),
        "doc_dup_clusters": _dup_clusters_oracle(),
        "doc_dedup_keep_best": _dedup_keep_best_oracle(),
        "doc_simhash_candidates": _simhash_oracle(),
        "emb_sketch_topk": _sketch_topk_oracle(),
        "emb_near_dup": _near_dup_oracle(),
        "emb_semantic_dedup": _semantic_dedup_oracle(),
        "emb_ivf_forest": _ivf_forest_oracle(),
        "emb_pq_topk": _pq_topk_oracle(),
        "emb_ivfpq_topk": _ivfpq_oracle(),
        # incremental maintenance must converge to the one-shot build:
        # the SAME oracle, verbatim
        "emb_forest_index_inc": _ivf_forest_oracle(),
        "media_features": _media_features_oracle(),
        "media_real_decode": _media_real_decode_oracle(),
        "cdc_routing_groups": oracle(
            """
loc AS (
  SELECT list_sort(list_distinct([i % 5, (i * 2 + 1) % 5])) AS groups
  FROM generate_series(0, 9) t(i)
  WHERE printf('loc-%04d', i) = 'loc-0003'
)
SELECT c.lsn, c.conv_id, c.turn_idx, c.op, c.cluster_id, c.location_group
FROM changes c, loc
WHERE c.cluster_id IN (1,2,3,4,5)
  AND (c.location_group IS NULL OR list_contains(loc.groups, c.location_group))
"""
        ),
        "cdc_cluster_lookup": oracle(
            """
dim AS (
  SELECT i AS cluster_id FROM generate_series(0, 7) t(i)
  WHERE printf('uuid-%04d', i) IN ('uuid-0002','uuid-0005','uuid-0007')
)
SELECT c.lsn, c.conv_id, c.turn_idx, c.op, c.cluster_id
FROM changes c JOIN dim USING (cluster_id)
"""
        ),
        "cdc_max_offset_for_types": oracle(
            "SELECT max(lsn) AS max_offset_consumers FROM changes WHERE op IN ('I','D')"
        ),
        "cdc_ttl_marked": oracle(
            """
thr AS (SELECT max(ts) - INTERVAL 10 DAY AS t FROM changes),
ld AS (
  SELECT conv_id, coalesce(turn_idx, -1) AS k, max(lsn) AS dl
  FROM changes, thr WHERE ts <= thr.t AND op = 'D'
  GROUP BY 1, 2
),
cd AS (SELECT conv_id, dl AS cdl FROM ld WHERE k = -1)
SELECT c.lsn, c.conv_id, c.turn_idx, c.op
FROM changes c
LEFT JOIN ld ON c.conv_id = ld.conv_id AND coalesce(c.turn_idx, -1) = ld.k
LEFT JOIN cd ON c.conv_id = cd.conv_id
WHERE (ld.dl IS NOT NULL AND c.lsn <= ld.dl)
   OR (cd.cdl IS NOT NULL AND c.lsn <= cd.cdl)
"""
        ),
        "cdc_hourly_throughput": oracle(
            """
SELECT date_trunc('hour', ts) AS hour, op,
       CAST(count(*) AS BIGINT) AS events, max(lsn) AS max_lsn
FROM changes GROUP BY 1, 2
"""
        ),
        "cdc_log_audit": oracle(
            """
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT lsn) AS BIGINT) AS n_lsns,
       CAST(count(lsn) - count(DISTINCT lsn) AS BIGINT) AS dup_lsns,
       CAST(count(*) - count(lsn) AS BIGINT) AS null_lsns,
       CAST(min(lsn) AS BIGINT) AS min_lsn,
       CAST(max(lsn) AS BIGINT) AS max_lsn,
       CAST(max(lsn) - min(lsn) + 1 - count(DISTINCT lsn) AS BIGINT)
         AS missing_lsns
FROM changes
"""
        ),
        "cdc_epoch_audit": _epoch_audit_oracle(),
        # NFC + control-strip + whitespace-collapse + trim rebuilt with
        # DuckDB's own Unicode/RE2 stack over the identical dirtied
        # input (chr(10)/chr(9) runs, bell chr(7), decomposed chr(769))
        "cdc_normalize_payload": oracle(
            r"""
SELECT lsn,
  trim(regexp_replace(regexp_replace(
    nfc_normalize('  ' || text || ' ' || chr(10) || chr(9)
                  || ' cafe' || chr(769) || ' ' || chr(7) || ' end'),
    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
    '\s+', ' ', 'g')) AS text_norm
FROM changes WHERE text IS NOT NULL
"""
        ),
        "cdc_op_transitions": oracle(
            """
turns AS (SELECT * FROM changes WHERE turn_idx IS NOT NULL),
t AS (
  SELECT coalesce(
           lag(op) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn),
           'START') AS prev_op,
         op
  FROM turns
)
SELECT prev_op, op, CAST(count(*) AS BIGINT) AS n_events,
  CASE WHEN prev_op = 'START' AND op = 'I' THEN TRUE
       WHEN prev_op = 'I' AND op IN ('U','D') THEN TRUE
       WHEN prev_op = 'U' AND op IN ('U','D') THEN TRUE
       WHEN prev_op = 'D' AND op = 'I' THEN TRUE
       ELSE FALSE END AS protocol_ok
FROM t GROUP BY prev_op, op
ORDER BY prev_op, op
"""
        ),
        "cdc_turn_latency": oracle(
            _STATE_BODY
            + """
, g AS (
  SELECT conv_id,
    epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS gap
  FROM state
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_gaps,
  floor(avg(gap) * 1000000 + 0.5) / 1000000 AS mean_gap_s,
  floor(min(gap) * 1000000 + 0.5) / 1000000 AS min_gap_s,
  floor(max(gap) * 1000000 + 0.5) / 1000000 AS max_gap_s
FROM g WHERE gap IS NOT NULL GROUP BY conv_id
"""
        ),
        "cdc_turn_loops": oracle(
            _STATE_BODY
            + """
, n AS (
  SELECT conv_id, turn_idx,
         regexp_replace(text, '[0-9]+', '', 'g') AS k
  FROM state
),
o AS (
  SELECT conv_id, turn_idx, k,
    CASE WHEN row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) = 1
           THEN 1
         WHEN lag(k) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              IS NOT DISTINCT FROM k THEN 0
         ELSE 1 END AS chg
  FROM n
),
r AS (
  SELECT conv_id, turn_idx, k,
    sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS UNBOUNDED PRECEDING) AS run
  FROM o
)
SELECT conv_id, k AS key,
       min(turn_idx) AS from_turn, max(turn_idx) AS to_turn,
       CAST(count(*) AS BIGINT) AS run_len
FROM r GROUP BY conv_id, run, k
HAVING count(*) >= 2
ORDER BY conv_id, from_turn
"""
        ),
        "cdc_turn_integrity": oracle(
            _STATE_BODY
            + """
SELECT conv_id,
       CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_turns,
       min(turn_idx) AS min_turn,
       max(turn_idx) AS max_turn,
       CAST(max(turn_idx) - min(turn_idx) + 1
            - count(DISTINCT turn_idx) AS BIGINT) AS missing_turns
FROM state GROUP BY conv_id
HAVING missing_turns > 0 OR min_turn > 0
ORDER BY conv_id
"""
        ),
        "emb_decontaminate": """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 <> 0
),
bench AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
scored AS (
  SELECT c.vec_id AS vec_id, b.vec_id AS bench_id,
    floor((list_inner_product(c.v, b.v)
           / (sqrt(list_inner_product(c.v, c.v))
              * sqrt(list_inner_product(b.v, b.v))))
          * 1000000 + 0.5) / 1000000 AS sim
  FROM corpus c CROSS JOIN bench b
),
best AS (
  SELECT vec_id, bench_id, sim,
    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id ASC)
      AS rn
  FROM scored
)
SELECT vec_id, sim AS max_sim, bench_id, sim >= 0.35 AS contaminated
FROM best WHERE rn = 1
""",
    }
    # the incremental view must equal the batch operator bit-for-bit —
    # same oracle, different engine path (dirty-bucket refresh)
    out["cdc_pref_pairs_inc"] = out["cdc_preference_pairs"]
    return out
