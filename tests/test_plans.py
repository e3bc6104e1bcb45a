"""Physical-plan assertions: the optimizer behaviors the engine's
scale story depends on, pinned as tests.

Each claim in BENCH.md/README maps to a check here: filters reach the
parquet scan (Catalyst pushdown), projections prune the read schema,
dim lookups broadcast instead of shuffling the log, the LWW argmax is
ONE shuffle with map-side partial aggregation, and exact dedup
partial-aggregates before its exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.generator import generate_changes_pdf
from tests.test_merge import to_spark


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    # plan strings must not elide the pushed-filter list
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    p = str(tmp_path_factory.mktemp("plans") / "changes")
    to_spark(spark, generate_changes_pdf(30, seed=42)).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_page_filters_push_to_scan(spark, log_path):
    from aqueduct_core_spark.sources import changes as src

    df = src.page(
        spark.read.parquet(log_path), start_lsn=1000, limit=50,
        ops=["I"], cluster_ids=[1, 2], end_lsn=90000,
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    for frag in (
        "GreaterThanOrEqual(lsn,1000",
        "LessThanOrEqual(lsn,90000",
        "EqualTo(op,I",
        "In(cluster_id",
    ):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_projection_prunes_read_schema(spark, log_path):
    df = spark.read.parquet(log_path).select("lsn", "conv_id")
    plan = _plan(df)
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lsn" in schema and "conv_id" in schema
    assert "text" not in schema and "event_size" not in schema


def test_dim_lookup_broadcasts(spark, log_path):
    from aqueduct_core_spark.sources.dims import (
        cluster_dim,
        location_groups_dim,
        resolve_cluster_ids,
        route_for_location,
    )

    log = spark.read.parquet(log_path)
    p1 = _plan(resolve_cluster_ids(log, cluster_dim(spark), ["uuid-0001"]))
    p2 = _plan(route_for_location(log, location_groups_dim(spark), "loc-0003"))
    for p in (p1, p2):
        assert "Broadcast" in p, "dim lookup must broadcast"
        # the big side must NOT be exchanged for the join
        assert p.count("Exchange hashpartitioning") == 0, p


def test_unified_argmax_single_shuffle_with_partial_agg(spark, log_path):
    from aqueduct_core_spark.operators import lww

    df = lww.unified_argmax(
        spark.read.parquet(log_path), ["role", "text", "tool", "ts"]
    )
    plan = _plan(df)
    # exactly one exchange: the aggregation's own shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial (map-side) combine before it: two aggregate operators
    # (SortAggregate for the struct-max buffer), partial + final
    n_aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert n_aggs >= 2, plan


def test_exact_dedup_partial_aggregates(spark):
    from aqueduct_core_spark.functions.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, f"doc text {i % 3}") for i in range(30)], ["doc_id", "text"]
    )
    plan = _plan(exact_dedup(docs))
    # map-side partial agg on the md5 fingerprint before one exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2
    # shuffle key is the fingerprint, never the document text
    ex = plan.split("Exchange hashpartitioning(")[1].split(")")[0]
    assert "fp" in ex and "text" not in ex


def test_cosine_topk_is_take_ordered(spark):
    from aqueduct_core_spark.functions.similarity import cosine_topk

    embs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(20)], ["vec_id", "embedding"]
    )
    plan = _plan(cosine_topk(embs, [1.0, 0.0, 0.0], k=5))
    # per-partition heap + driver merge, not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_replay_scan_pushes_trigger_range(spark, log_path):
    """Each replay micro-batch re-reads only its lsn slice — the range
    predicate must reach the scan."""
    log = spark.read.parquet(log_path)
    batch = log.where((F.col("lsn") >= 16384) & (F.col("lsn") <= 32768))
    plan = _plan(batch)
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThanOrEqual(lsn,16384" in pushed
    assert "LessThanOrEqual(lsn,32768" in pushed


def test_asof_join_single_shuffle(spark, log_path):
    """asof_join_log must plan ONE hash shuffle + one window — never a
    range join / nested-loop candidate explosion."""
    from aqueduct_core_spark.operators.temporal import asof_join_log

    changes = spark.read.parquet(log_path)
    turns = changes.where(F.col("turn_idx").isNotNull()).select(
        "lsn", "conv_id", "turn_idx", "op"
    )
    cd = changes.where(F.col("turn_idx").isNull()).select(
        "conv_id", "lsn", F.col("lsn").alias("conv_del_lsn")
    )
    plan = _plan(
        asof_join_log(turns, cd, keys=["conv_id"], ord_col="lsn",
                      right_payload=["conv_del_lsn"], suffix="")
    )
    assert plan.count("Exchange") == 1, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_net_changes_single_shuffle_no_join(spark, log_path):
    """The in-window argmax + pre-window existence ride in one
    conditional aggregation: one Exchange, zero joins."""
    from aqueduct_core_spark.sources.changes import net_changes

    plan = _plan(net_changes(spark.read.parquet(log_path), 100, 5000))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_top_ngrams_partial_agg_and_take_ordered(spark):
    """Counts collapse map-side before the shuffle; top-k is
    TakeOrderedAndProject (per-partition heap), not a global sort."""
    from aqueduct_core_spark.functions.text import top_ngrams

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], "doc_id long, text string"
    )
    plan = _plan(top_ngrams(docs, n=2, k=5))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 1, plan


def test_sessionize_single_shuffle(spark, log_path):
    """Both windows share one sort, and the per-session aggregation
    reuses the window's conv_id partitioning — one Exchange total."""
    from aqueduct_core_spark.operators.temporal import sessionize

    plan = _plan(sessionize(spark.read.parquet(log_path), gap_minutes=30))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort") == 1, plan


def test_hash_sample_is_shuffle_free(spark):
    from aqueduct_core_spark.functions.sampling import hash_sample

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    plan = _plan(hash_sample(df, rate_pct=10))
    assert "Exchange" not in plan, plan


def test_prepare_corpus_one_wide_shuffle_no_smj(spark):
    """The whole recipe moves document text through exactly ONE wide
    shuffle (the fingerprint window); quality gates compute inline in
    the same stage and the contamination flags arrive broadcast — no
    sort-merge join anywhere (a doc_id SMJ here would re-shuffle the
    corpus at scale)."""
    from aqueduct_core_spark.functions.recipe import prepare_corpus

    docs = spark.createDataFrame(
        [(i, f"text number {i} with several words present") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "held out benchmark words only")], "doc_id long, text string"
    )
    plan = _plan(prepare_corpus(docs, benchmark=bench, sample_rate_pct=50))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2  # contam flags + shingle probe
    # wide exchanges: the fp window + the narrow contam-id aggregation +
    # the narrow benchmark shingle distinct — never more
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_key_diff_shuffles_hashes_not_text(spark, log_path):
    """Anti-entropy per-key diff: the full-outer join's inputs are
    (key, lsn, xxhash64) projections — the transcript text column is
    consumed by the hash BELOW the exchange and never shuffles."""
    from aqueduct_core_spark.operators.antientropy import key_diff

    log = spark.read.parquet(log_path)
    p = log.select("conv_id", "turn_idx", "text", "role", "ts", F.col("lsn").alias("_lsn"))
    r = p.where(F.col("_lsn") % 7 != 0)
    plan = _plan(key_diff(p, r, payload_cols=["text", "role", "ts"]))
    assert "FullOuter" in plan
    assert "xxhash64" in plan
    # every exchange below the join carries only key/lsn/hash columns
    for frag in plan.split("Exchange hashpartitioning"):
        header = frag.splitlines()[0]
        assert "text" not in header, f"text in shuffle key list: {header}"


def test_bucket_digests_single_partial_agg(spark, tmp_path):
    """Per-bucket digest = ONE hash aggregation with map-side combine
    over the resolved state: digesting a 100 TB table is a scan, not a
    shuffle of its contents."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.antientropy import bucket_digests
    from aqueduct_core_spark.streaming.pipeline import replay

    cfg = EngineConfig(num_buckets=4, max_events_per_trigger=10**9)
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=4)
    log = to_spark(spark, generate_changes_pdf(20, seed=44))
    replay(t, log, cfg, start_epoch=0, start_lsn=0)
    plan = _plan(bucket_digests(t))
    base = _plan(t.read_internal())
    added = plan.count("Exchange hashpartitioning") - base.count(
        "Exchange hashpartitioning"
    )
    assert added == 1, f"digest must add exactly one exchange, added {added}"
    assert "partial_sum" in plan, "map-side combine missing from digest agg"


def test_index_check_join_carries_no_text(spark, tmp_path):
    """DedupIndex.check: the candidate join moves (band, bucket, id)
    rows only — the incoming batch's text is reduced to shingle hashes
    below the exchange."""
    from aqueduct_core_spark.functions.dedup_index import DedupIndex

    ix = DedupIndex.create(spark, str(tmp_path / "ix"), num_parts=4)
    docs = spark.createDataFrame(
        [("a", "one two three four five"), ("b", "six seven eight nine ten")],
        "doc_id string, text string",
    )
    ix.add(docs)
    plan = _plan(ix.check(docs))
    for frag in plan.split("Exchange hashpartitioning"):
        header = frag.splitlines()[0]
        assert "text" not in header, f"text in shuffle key list: {header}"


def test_partial_merged_state_one_wide_shuffle_broadcast_watermark(spark, log_path):
    """Patch-semantics merge: ONE wide hash aggregation (per-key) with
    map-side partial combine; the conversation-delete watermark joins
    broadcast (never a shuffled join against per-key state); and no
    per-key tombstone join exists at all — the reset rides the same
    aggregate."""
    from aqueduct_core_spark.operators import lww

    df = lww.partial_merged_state(spark.read.parquet(log_path))
    plan = _plan(df)
    # wide exchanges: the per-key agg + the tiny conv_del agg — no more
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    n_aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert n_aggs >= 2, plan


def test_scd2_two_shuffles_no_join(spark, log_path):
    """SCD2 history = two hash exchanges (key window + conv union-window),
    zero joins: the conv-tombstone closure must NOT plan as a range/SMJ
    join or a nested-loop candidate explosion."""
    from aqueduct_core_spark.operators.temporal import scd2_history

    plan = _plan(scd2_history(spark.read.parquet(log_path)))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoop", "CartesianProduct",
                "BroadcastHashJoin"):
        assert bad not in plan, f"unexpected {bad} in scd2 plan"


def test_pack_token_stream_one_shuffle_broadcast_bases(spark):
    """Sequence packing = ONE hash shuffle (the per-shard window); the
    shard stream bases join as a broadcast, never a sort-merge join,
    and sequence ids are generated arithmetically (no join against a
    sequence table)."""
    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(pack_token_stream(docs, budget=8, n_shards=4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan


def test_sft_examples_single_shuffle(spark):
    from aqueduct_core_spark.functions.examples import sft_examples

    state = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", "yo")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(sft_examples(state, target_role="assistant"))
    # one window exchange on conv_id renders every prefix; no join
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_preference_pairs_no_self_join(spark, log_path):
    from aqueduct_core_spark.functions.examples import preference_pairs

    plan = _plan(preference_pairs(spark.read.parquet(log_path)))
    # chosen side attaches via first() over the ranking window, so the
    # only join is scd2's broadcast of the conv-tombstone stream
    assert "SortMergeJoin" not in plan


def test_token_budget_selection_is_projection_only(spark):
    from aqueduct_core_spark.functions.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(f"d{i}", "en", 3) for i in range(50)],
        "doc_id string, lang string, n_tokens int",
    )
    kept, _ = token_budget_mix(df, {"en": 60}, "lang", "n_tokens")
    plan = _plan(kept)
    # the histogram job is separate; the SELECTION plan itself never
    # shuffles or joins — pure projection + filter
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_dsir_scoring_broadcasts_models(spark):
    from aqueduct_core_spark.functions.importance import dsir_scores

    docs = spark.createDataFrame(
        [(f"d{i}", "a b c d e") for i in range(20)], "doc_id string, text string"
    )
    plan = _plan(dsir_scores(docs, docs.limit(5), n_buckets=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gumbel_select_is_take_ordered(spark):
    from aqueduct_core_spark.functions.importance import gumbel_topk_select

    scores = spark.createDataFrame(
        [(f"d{i}", 0.1 * i) for i in range(30)], "doc_id string, dsir_logratio double"
    )
    plan = _plan(gumbel_topk_select(scores, k=5))
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_joins_within_cell_only(spark):
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(
        df, dim=2, centroids=[[1.0, 0.0], [0.0, 1.0]], persist_assign=False
    )
    plan = _plan(out)
    # the pair join keys on the cell column — bounded fan-out, never a
    # cartesian over the corpus
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_decontaminate_broadcasts_and_partial_aggs(spark):
    """The benchmark side must broadcast (never shuffle the corpus for
    the join) and the per-id argmax must partially aggregate map-side
    before its exchange."""
    import pyspark.sql.types as T

    from aqueduct_core_spark.functions.similarity import (
        decontaminate_embeddings,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    vecs = [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(20)]
    corpus = spark.createDataFrame(vecs[2:], schema)
    bench = spark.createDataFrame(vecs[:2], schema)
    plan = _plan(decontaminate_embeddings(corpus, bench, dim=4))
    assert "Broadcast" in plan, plan
    # printed top-down as final-agg → exchange → partial-agg: the
    # partial max below the exchange is the map-side combine
    partial, exchange = plan.find("partial_max"), plan.find("Exchange hashpartitioning")
    assert partial != -1 and exchange != -1
    assert partial > exchange, plan


def test_log_audit_is_one_aggregation(spark, log_path):
    """One scan, no joins, no windows: the audit is a pure aggregate
    with Spark's two-stage distinct expansion."""
    from aqueduct_core_spark.verify import log_audit

    plan = _plan(log_audit(spark.read.parquet(log_path)))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("FileScan") == 1


def test_turn_runs_single_conv_shuffle(spark, log_path):
    """The islands pass shuffles ONCE on the conversation key; both
    window functions and the run aggregation reuse that partitioning
    (no second exchange on a different key)."""
    from aqueduct_core_spark.operators.temporal import turn_runs

    state = spark.read.parquet(log_path).where(F.col("turn_idx").isNotNull())
    plan = _plan(turn_runs(state, F.col("role"), min_run=2))
    # exactly one hashpartitioning exchange keyed on conv_id for the
    # window; the groupBy(conv_id, _run) agg reuses it (partial+final
    # without a new exchange on other keys); the final orderBy adds one
    # rangepartitioning
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan
    assert "Window" in plan


def test_bm25_no_text_shuffle_and_take_ordered(spark):
    """bm25_topk's only shuffle is the 1-row global stats aggregation
    (broadcast back); document text never rides an Exchange, scoring is
    a projection, and the top-k is TakeOrderedAndProject."""
    from aqueduct_core_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma"), (2, "alpha alpha")],
        "doc_id long, text string",
    )
    plan = _plan(bm25_topk(docs, ["alpha", "beta"], k=5))
    assert "TakeOrderedAndProject" in plan, plan
    # one single-partition exchange for the stats row; no hash shuffle
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def _written_plans(monkeypatch):
    """Executed plans of every frame written through
    ``DataFrameWriter.parquet`` while the caller runs."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    real = DataFrameWriter.parquet

    def capture(self, *args, **kwargs):
        plans.append(_plan(self._df))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    return plans


def _hash_exchanges(plan: str) -> list[str]:
    return [
        seg.split(")")[0]
        for seg in plan.split("Exchange hashpartitioning(")[1:]
    ]


@pytest.fixture()
def epoch_plans(spark, log_path, tmp_path, monkeypatch):
    """(table, delta-write plans of two epochs, fold write plan)."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.operators.compact import fold_deltas
    from aqueduct_core_spark.operators.merge import apply_batch

    table = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=8)
    cfg = EngineConfig(num_buckets=8, mor_fold_every=0)
    log = spark.read.parquet(log_path)
    hi = log.agg(F.max("lsn")).collect()[0][0]
    plans = _written_plans(monkeypatch)
    for e, (lo, up) in enumerate([(0, hi // 2), (hi // 2 + 1, hi)]):
        batch = log.where((F.col("lsn") >= lo) & (F.col("lsn") <= up))
        apply_batch(table, batch, epoch=e, cfg=cfg, batch_max_lsn=up)
    epochs = list(plans)
    fold_deltas(table)
    return table, epochs, plans[len(epochs):]


def test_epoch_write_plan_one_bucket_exchange(epoch_plans):
    """The epoch's delta write shuffles once: the bucket exchange on
    conv_id into the table's bucket count, which the argmax groups on
    and the writer's repartition reuses."""
    _, epochs, _ = epoch_plans
    assert len(epochs) == 2
    for plan in epochs:
        ex = _hash_exchanges(plan)
        assert len(ex) == 1, plan
        keys, n = ex[0].rsplit(",", 1)
        assert keys.startswith("conv_id#") and "," not in keys, plan
        assert n.strip() == "8", plan


def test_fold_write_plan_one_bucket_exchange(epoch_plans):
    """The fold's resolve (argmax + delete watermark) and its bucket
    write share one exchange — never a (conv_id, turn_idx) shuffle."""
    _, _, fold = epoch_plans
    assert len(fold) == 1
    ex = _hash_exchanges(fold[0])
    assert len(ex) == 1, fold[0]
    assert "turn_idx" not in ex[0] and "_tkey" not in ex[0], fold[0]
    assert ex[0].startswith("conv_id#") and ex[0].rsplit(",", 1)[1].strip() == "8"
