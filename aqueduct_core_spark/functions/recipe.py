"""The end-to-end training-corpus recipe: dedup → quality →
decontaminate → sample, composed into ONE wide plan with per-document
drop attribution.

A training-data pipeline is not four separate jobs over the corpus —
at 100 TB each extra pass re-reads everything.  :func:`prepare_corpus`
computes every gate as a column and attributes each dropped document to
the FIRST failing stage (fixed precedence), so one scan produces both
the kept corpus and the attrition report auditors ask for.

Shuffle budget (the whole recipe): ONE wide shuffle — the document rows
partition by fingerprint for the dedup-representative window; the
quality gates and the sample bucket compute inline in the same stage
(pure projections), and the contaminated-id set arrives as a broadcast
(itself built from a broadcast benchmark shingle-hash probe plus one
narrow (doc_id, hits) aggregation).  Document text moves at most once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from aqueduct_core_spark.functions.dedup import decontaminate
from aqueduct_core_spark.functions.sampling import sample_bucket
from aqueduct_core_spark.functions.text import fingerprint, gopher_quality_filter

#: drop-stage labels in precedence order (first failing stage wins)
STAGE_DUPLICATE = "duplicate"
STAGE_LOW_QUALITY = "low_quality"
STAGE_CONTAMINATED = "contaminated"
STAGE_SAMPLED_OUT = "sampled_out"


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    sample_rate_pct: int = 100,
    decon_k: int = 8,
    decon_min_hits: int = 1,
    quality_kwargs: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "xxhash64",
    seed: int = 42,
) -> DataFrame:
    """Annotate every document with ``drop_stage`` (NULL = kept in the
    final corpus) under the standard recipe precedence:

    1. ``duplicate`` — not the min-id representative of its exact
       canonical fingerprint (:func:`~.text.fingerprint`);
    2. ``low_quality`` — fails the Gopher-style repetition/length gates
       (:func:`~.text.gopher_quality_filter`, ``quality_kwargs``
       forwarded);
    3. ``contaminated`` — shares ≥ ``decon_min_hits`` distinct
       ``decon_k``-word shingles with the ``benchmark`` set
       (:func:`~.dedup.decontaminate`; stage skipped when ``benchmark``
       is None);
    4. ``sampled_out`` — outside the deterministic ``sample_rate_pct``%
       hash-bucket sample (stage skipped at 100).

    Returns the input columns + ``drop_stage``; filter
    ``drop_stage IS NULL`` for the corpus, aggregate
    :func:`corpus_attrition` for the report.  Precedence means the
    attrition counts are disjoint (each doc counted once) and stable
    under stage-parameter changes downstream of its drop.
    """
    out = docs

    # 1. exact dedup: min-id per fingerprint via one narrow shuffle of
    # (fp, id) — window avoids the join-back a groupBy would need
    w = Window.partitionBy(fingerprint(F.col(text_col)))
    out = out.withColumn("_keep_id", F.min(id_col).over(w))

    # 2. quality flags inline: the quality filter is a pure
    # projection that preserves input columns, so the gates compute in
    # the SAME stage as the window output — no join, no shuffle (a
    # doc_id join here would be a big-big sort-merge join at corpus
    # scale, since the flag set is corpus-sized)
    out = gopher_quality_filter(out, col=text_col, **(quality_kwargs or {}))
    out = out.withColumnRenamed("keep", "_q_keep").drop(
        "n_words", "mean_word_len", "dup_word_frac", "top_bigram_frac"
    )

    # 3. contaminated ids (broadcast-probe + tiny agg), anti-flag join.
    # The flag set is explicitly broadcast: it is bounded by documents
    # actually sharing shingles with the (small) benchmark — orders of
    # magnitude under the corpus — and an implicit plan would fall back
    # to a sort-merge join that re-shuffles the full corpus by doc_id.
    if benchmark is not None:
        bad = decontaminate(
            docs, benchmark, k=decon_k, min_hits=decon_min_hits,
            text_col=text_col, id_col=id_col, hash_method=hash_method,
        ).select(F.col(id_col), F.lit(True).alias("_contam"))
        out = out.join(F.broadcast(bad), on=id_col, how="left")
    else:
        out = out.withColumn("_contam", F.lit(None).cast("boolean"))

    # 4. deterministic hash sample (projection)
    b = sample_bucket(F.col(id_col).cast("string"), seed=seed, method=hash_method)

    drop = (
        F.when(F.col(id_col) != F.col("_keep_id"), F.lit(STAGE_DUPLICATE))
        .when(~F.coalesce(F.col("_q_keep"), F.lit(False)), F.lit(STAGE_LOW_QUALITY))
        .when(F.coalesce(F.col("_contam"), F.lit(False)), F.lit(STAGE_CONTAMINATED))
        .when(b >= int(sample_rate_pct), F.lit(STAGE_SAMPLED_OUT))
    )
    return out.withColumn("drop_stage", drop).drop("_keep_id", "_q_keep", "_contam")


def corpus_attrition(annotated: DataFrame) -> DataFrame:
    """The per-stage attrition report over :func:`prepare_corpus`
    output: ``(stage, n_docs)`` with kept documents labeled ``kept`` —
    disjoint counts summing to the corpus size."""
    return (
        annotated.groupBy(
            F.coalesce(F.col("drop_stage"), F.lit("kept")).alias("stage")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
