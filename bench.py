#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and a CDC replay
throughput benchmark on a deterministic synthetic change log, then
prints ONE JSON line::

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>,
     "replay": {"events": N, "events_per_sec": X, "sec": T}}

Flags:
  --replay-only      only the replay benchmark (used by bench/scaling.py)
  --convs N          conversations for the replay log (default 200000,
                     ~5.7M events — sized for sustained-throughput
                     measurement; pass a smaller N for a smoke run)

Timing notes: queries are materialized with a noop-format write so
every output column is computed (a bare .count() would let Catalyst
prune the plan); replay timing excludes change-log generation, per the
measurement plan in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cdc_merged_state",
    "cdc_apply_full",
    "cdc_lww_latest",
    "cdc_partial_upserts",
    "cdc_compact_log",
    "cdc_consistency_sum",
    "cdc_byte_page",
    "doc_exact_dedup",
    "doc_bm25_topk",
    "doc_text_stats",
    "doc_quality_filter",
    "doc_minhash_pairs",
    "doc_simhash_candidates",
    "doc_decontaminate",
    "doc_span_dedup",
    "doc_dsir_scores",
    "emb_cosine_topk",
    "emb_knn_join",
    "emb_sketch_topk",
    "emb_near_dup",
    "emb_semantic_dedup",
    "cdc_preference_pairs",
    "cdc_turn_loops",
    "emb_decontaminate",
    "emb_ivf_forest",
    "emb_pq_topk",
    "cdc_scd2_incremental",
    "cdc_sessionize",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_queries(spark, sf_dir: str, best_of: int = 3) -> dict[str, float]:
    """Best-of-K per query (K ≥ 2): the host is multi-tenant with a
    measured ±20% wall-clock noise — and occasional multi-minute tenant
    bursts that can inflate a whole section 5× (observed twice in round
    3) — so single-shot timings conflate drift with regressions
    (VERDICT r2 'noisy-floor regressions').  K = 3 rides out bursts
    that span both of two back-to-back reps."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for _ in range(best_of):
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def bench_replay(
    spark,
    n_convs: int,
    work: str,
    input_path: str | None = None,
    point_lookups: bool = True,
) -> dict:
    """Replay throughput: ordered micro-batch apply of a synthetic log
    into a fresh transcript table; verified by consistency checksum."""
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.config import EngineConfig
    from aqueduct_core_spark.generator import generate_changes
    from aqueduct_core_spark.streaming.pipeline import replay
    from aqueduct_core_spark.verify import consistency_sum, table_consistency_sum

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    if input_path and os.path.exists(os.path.join(input_path, "_SUCCESS")):
        log_path = input_path
    else:
        log_path = input_path or f"{work}/changes"
        # fixed partition count → byte-identical input layout regardless
        # of the session's parallelism (required for N-vs-4N scaling)
        generate_changes(spark, n_convs=n_convs, seed=42, partitions=64).write.mode(
            "overwrite"
        ).parquet(log_path)
    log = spark.read.parquet(log_path)
    n_events = log.count()

    # Trigger budgets sized so one micro-batch carries O(10^6) events —
    # the local-scale stand-in for the 10^8-row triggers a 1000-executor
    # cluster would run: per-epoch driver fixed costs (stage listing,
    # commit fsync, bookkeeping jobs) must be amortized by the batch,
    # or local scaling numbers measure py4j overhead instead of the
    # engine.
    cfg = EngineConfig(
        num_buckets=32,
        max_events_per_trigger=16_000_000,
        max_bytes_per_trigger=8 * 1024 * 1024 * 1024,
    )
    from pyspark.sql import functions as F

    b = log.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    split = lo + (hi - lo) // 10
    timed_events = n_events - log.where(F.col("lsn") <= split).count()

    def _gc_ms() -> int:
        """Cumulative JVM GC wall-ms (all collectors) — lets the scaling
        harness see whether a level is GC-throttled rather than
        engine-limited (a real 4N cluster has 4× the aggregate heap)."""
        beans = spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    # Best-of-2 timed replay into fresh tables (tenant bursts can cover
    # a single measurement — observed inflating a whole bench section
    # 5×).  Each rep runs the warmup epoch (~10% of the log) first: it
    # pays the one-time serial costs — Catalyst analysis + Janino
    # codegen of each plan shape — like the reference's JMH warmup
    # iterations (ReadEventsQueryBenchmark: 10 warmup iterations); only
    # rep 0's warmup actually compiles, rep 1 reuses the session's
    # compiled plans.  lsn_bounds are known here for free (snapshot
    # metadata in a real deployment) → the trigger planner skips its
    # bounds job; the BARE log + start/end bounds (not a pre-filtered
    # DataFrame) keeps replay's driver-side file pruning available.
    # An explicit System.gc() before each timed window resets the aged
    # heap (a post-query-suite replay measured a 13 s GC storm without
    # it — JMH-style hygiene, which the reference gets from forked
    # warmed iterations).
    table = metrics = dt = gc_ms = None
    for rep in range(2):
        t_rep = ParquetTranscriptTable.create(
            spark, f"{work}/transcripts-{rep}", num_buckets=32
        )
        replay(t_rep, log, cfg, start_epoch=0,
               start_lsn=0, end_lsn=split, lsn_bounds=(lo, split))
        spark._jvm.System.gc()
        gc0 = _gc_ms()
        t0 = time.time()
        m = replay(t_rep, log, cfg, lsn_bounds=(split + 1, hi))
        rep_dt = time.time() - t0
        if dt is None or rep_dt < dt:
            table, metrics, dt, gc_ms = t_rep, m, rep_dt, _gc_ms() - gc0

    # MOR read amplification: resolving base ∪ deltas costs extra
    # between folds — measure a full-state read before and after the
    # fold so the trade-off is evidenced, not assumed
    t2 = time.time()
    table.read_internal().write.format("noop").mode("overwrite").save()
    read_with_deltas_sec = time.time() - t2

    # Serving-path point lookup while MOR deltas are LIVE — the worst
    # case the bloom filters exist for (delta row groups are batch-
    # ordered; min/max can't prune them).  Median wall of 8 present-key
    # + 8 absent-key single-conversation reads, driver-collected like a
    # serving call.
    point_lookup_ms = None
    point_lookup_direct_ms = None
    if point_lookups:  # skipped under --replay-only (scaling harness)
        ids = [
            r["conv_id"]
            for r in table.read_internal().select("conv_id").limit(8).collect()
        ]
        lat = []
        for cid in ids + [f"absent-{i}" for i in range(8)]:
            t_pl = time.time()
            table.read_conversation(cid).collect()
            lat.append(time.time() - t_pl)
        lat.sort()
        point_lookup_ms = round(1000 * lat[len(lat) // 2], 1)

        # The DIRECT (zero-Spark-job) serving hatch on the same keys:
        # manifest + bucket math + footer-cached, row-group-pruned
        # pyarrow reads + MOR resolve in plain Python
        # (read_conversation_direct).  One warmup
        # call first so the pyarrow import doesn't land in the median.
        table.read_conversation_direct(ids[0])
        lat_d = []
        for cid in ids + [f"absent-{i}" for i in range(8)]:
            t_pl = time.time()
            table.read_conversation_direct(cid)
            lat_d.append(time.time() - t_pl)
        lat_d.sort()
        point_lookup_direct_ms = round(1000 * lat_d[len(lat_d) // 2], 2)

    # MOR fold (periodic compaction) timed separately — sustained
    # ingest must account for it, amortized over mor_fold_every epochs
    from aqueduct_core_spark.operators.compact import fold_deltas

    t1 = time.time()
    folded = fold_deltas(table)
    fold_sec = time.time() - t1

    t3 = time.time()
    table.read_internal().write.format("noop").mode("overwrite").save()
    read_after_fold_sec = time.time() - t3

    ok = consistency_sum(log) == table_consistency_sum(table.read_internal())

    # Structured Streaming drain of the same log — the foreachBatch
    # production path (readStream file source → apply_batch), timed
    # end-to-end including checkpoint bookkeeping.  64 input files /
    # maxFilesPerTrigger=16 → 4 micro-batches; sequential by contract
    # (Structured Streaming owns the trigger loop), so this bounds the
    # batch-replay number from below.
    from aqueduct_core_spark.streaming.pipeline import run_available_now

    stream_table = ParquetTranscriptTable.create(
        spark, f"{work}/transcripts-stream", num_buckets=32
    )
    spark._jvm.System.gc()
    t4 = time.time()
    run_available_now(
        spark, stream_table, log_path, f"{work}/ckpt-stream", cfg,
        max_files_per_trigger=16,
    )
    stream_sec = time.time() - t4
    stream_ok = consistency_sum(log) == table_consistency_sum(
        stream_table.read_internal()
    )

    # Routed fan-out: the same log demuxed to 2 replica tables in ONE
    # loop (replay_demux) — each epoch's slice is cached once and
    # applied per route, so maintaining N replicas costs ~(scan +
    # N·resolve/write), not N independent replays.  state check:
    # consistency_sum is additive over the disjoint routes.
    from aqueduct_core_spark.streaming.pipeline import replay_demux

    demux_tables = {
        r: ParquetTranscriptTable.create(
            spark, f"{work}/transcripts-demux-{r}", num_buckets=32
        )
        for r in (0, 1)
    }
    demux_routes = {r: F.col("cluster_id") % 2 == r for r in (0, 1)}
    spark._jvm.System.gc()
    t6 = time.time()
    replay_demux(demux_tables, log, demux_routes, cfg)
    demux_sec = time.time() - t6
    demux_ok = consistency_sum(log) == sum(
        table_consistency_sum(t.read_internal()) for t in demux_tables.values()
    )

    # Wire-path throughput: Debezium-envelope JSON parse rate (the
    # shape a Kafka / wal2json tail actually delivers).  Serialization
    # happens OUTSIDE the timed window; the timed job is newline-
    # delimited JSON → from_json → canonical change columns (pure JVM,
    # no shuffle).
    from aqueduct_core_spark.sources.envelope import (
        split_envelopes,
        to_envelope_json,
    )

    wire_path = f"{work}/wire"
    to_envelope_json(log).select("value").write.mode("overwrite").text(wire_path)
    spark._jvm.System.gc()
    t5 = time.time()
    ok_rows, _ = split_envelopes(spark.read.text(wire_path))
    ok_rows.write.format("noop").mode("overwrite").save()
    wire_sec = time.time() - t5

    return {
        "wire_parse_sec": round(wire_sec, 3),
        "wire_parse_events_per_sec": round(n_events / wire_sec, 1),
        "stream_sec": round(stream_sec, 3),
        "stream_events_per_sec": round(n_events / stream_sec, 1),
        "stream_state_ok": bool(stream_ok),
        "demux_sec": round(demux_sec, 3),
        "demux_events_per_sec": round(n_events / demux_sec, 1),
        "demux_routes": 2,
        "demux_state_ok": bool(demux_ok),
        "events": n_events,
        "timed_events": timed_events,
        "sec": round(dt, 3),
        "events_per_sec": round(timed_events / dt, 1),
        "point_lookup_ms_median": point_lookup_ms,
        "point_lookup_direct_ms_median": point_lookup_direct_ms,
        "fold_sec": round(fold_sec, 3) if folded.get("folded") else 0.0,
        "read_with_deltas_sec": round(read_with_deltas_sec, 3),
        "read_after_fold_sec": round(read_after_fold_sec, 3),
        "epochs": len(metrics),
        # flat steady-state epoch times = the plan-stable-filter
        # evidence (no per-epoch codegen recompile); see BENCH.md
        "epoch_secs": [m.get("epoch_sec") for m in metrics],
        "gc_ms": int(gc_ms),
        "state_ok": bool(ok),
    }


def bench_dedup_index(
    spark, batch_sizes: tuple[int, ...] = (50_000, 200_000, 1_000_000)
) -> dict:
    """Ingest-with-admission-control throughput of the incremental
    DedupIndex at a CURVE of batch sizes (r4 verdict task 3: the 50k
    point is job-floor-dominated — per-epoch driver fixed costs, not
    signature work — so "batch size is the lever" must be a measured
    curve, not prose).  Per batch size: a FRESH index ingests two
    batches — ONE signature pass feeds both the candidate check
    against history and the part-partitioned add (``ingest``), with a
    retraction leg on the smallest size — the cadence a streaming
    corpus maintainer runs.  Docs are deterministic ~20-word texts;
    ~1% of second-batch docs are planted duplicates of a first-batch
    doc at the same offset (``id % 97 == 0 → text of id % batch``), so
    the second batch's admission check does real candidate work
    against the INDEXED history — same-batch pairs would never match,
    the check runs against the pre-add index — without a quadratic
    clique.  Reported docs/s times BOTH batches of a size (history
    check included); the headline ``dedup_index_events_per_sec`` is
    the largest size — the steady-state operating point a 100 TB
    maintainer would run (10⁶-doc triggers)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aqueduct_core_spark.functions.dedup_index import DedupIndex

    curve: dict[str, float] = {}
    cands_total = 0
    for per in batch_sizes:
        root = tempfile.mkdtemp(prefix="aq-bench-dedupix-")
        try:
            ix = DedupIndex.create(spark, f"{root}/ix", num_parts=32)
            dup = (F.col("id") % 97 == 0) & (F.col("id") >= per)
            base = F.when(dup, F.col("id") % per).otherwise(F.col("id"))
            words = [
                F.substring(
                    F.md5(F.concat(base.cast("string"), F.lit(f"-{w}"))), 1, 6
                )
                for w in range(20)
            ]
            t0 = time.time()
            for b in range(2):
                batch = spark.range(b * per, (b + 1) * per).select(
                    F.col("id").alias("doc_id"),
                    F.concat_ws(" ", *words).alias("text"),
                )
                pairs, _ = ix.ingest(batch)
                cands_total += pairs.count()
                if b == 1 and per == min(batch_sizes):  # retraction leg
                    ix.remove(
                        spark.range(b * per, b * per + per // 20).select(
                            F.col("id").alias("doc_id")
                        )
                    )
            dt = time.time() - t0
            curve[str(per)] = round(2 * per / dt, 1)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return {
        "dedup_index_events_per_sec": curve[str(max(batch_sizes))],
        "dedup_index_events_per_sec_by_batch": curve,
        "dedup_index_candidates": int(cands_total),
    }


def bench_ann_recall(spark, sf_dir: str, k: int = 20) -> dict:
    """recall@k of the ANN paths against the exact cosine top-k.

    ``lsh_recall`` is the recall of the Hamming-sketch path
    (emb_sketch_topk: 256-bit SimHash scan + 15% exact rerank — the one
    that meets recall ≥ 0.8 at ≤ 25% scored); ``lsh_scanned_fraction``
    is the fraction of vectors exactly scored by that path.  The key
    names predate the sketch and are kept so runs stay comparable with
    BENCH_r01–r05."""
    import __spark_entry__ as entry

    qs = entry.queries()
    exact = {r["vec_id"] for r in qs["emb_cosine_topk"](spark, sf_dir).collect()}
    if not exact:
        return {}
    sketch = {r["vec_id"] for r in qs["emb_sketch_topk"](spark, sf_dir).collect()}
    out = {
        "lsh_recall": round(len(exact & sketch) / len(exact), 3),
        "lsh_scanned_fraction": 0.15,
    }
    out.update(bench_forest_recall(spark, sf_dir, k=k))
    out.update(bench_pq_recall(spark, sf_dir, k=k))
    out.update(bench_ivfpq_recall(spark, sf_dir, k=k))
    return out


def bench_ivfpq_recall(spark, sf_dir: str, k: int = 20, n_queries: int = 100,
                       rerank: int = 64) -> dict:
    """recall@k of the COMPOSED IVF-PQ path (r5): forest candidates →
    integer-ADC cut to top-``rerank`` → exact rerank, over the same
    100-query suite, batched exactly like the single-stage benches.
    The number that prices the full 100 TB plan: ~22% of rows read as
    16-int codes, `rerank` rows read as full vectors."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aqueduct_core_spark.functions.similarity import (
        _quant_int,
        forest_index,
        forest_probe_cells,
        forest_train,
        pq_encode,
        pq_train,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = embs.count()
    if n == 0:
        return {}
    qrows = embs.where(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    dim = len(qrows[0]["embedding"])
    qdf = F.broadcast(
        spark.createDataFrame(
            [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
            "qid long, qvec array<double>",
        )
    )

    def _sim():
        dot = F.aggregate(
            F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.transform(F.col(c), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return F.try_divide(dot, nrm("vec") * nrm("qvec"))

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    corpus = embs.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    exact = (
        corpus.join(qdf, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _sim().alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    ex_sets: dict[int, set] = {}
    for r in exact:
        ex_sets.setdefault(r["qid"], set()).add(r["vec_id"])

    fcbs = forest_train(embs, dim)
    idx = forest_index(embs, fcbs).persist()
    idx.count()
    pcbs = pq_train(embs, dim)
    d = len(pcbs[0][0])
    codes = pq_encode(embs, pcbs).persist()
    codes.count()
    probe_rows = [
        (int(r["vec_id"]), t, int(c))
        for r in qrows
        for t, c in forest_probe_cells(list(r["embedding"]), fcbs)
    ]
    pdf = F.broadcast(
        spark.createDataFrame(probe_rows, "qid long, tbl int, cell int")
    )
    cand_ids = idx.join(pdf, on=["tbl", "cell"]).select("qid", "id").distinct()
    lut_rows = []
    for r in qrows:
        qq = [_quant_int(x) for x in r["embedding"]]
        for m, cb in enumerate(pcbs):
            for ci, c in enumerate(cb):
                s = 0
                for a, b in zip(qq[m * d:(m + 1) * d], c):
                    s += a * b
                lut_rows.append((int(r["vec_id"]), m, ci + 1, s))
    lut = F.broadcast(
        spark.createDataFrame(lut_rows, "qid long, m int, code int, wgt long")
    )
    adc = (
        codes.join(cand_ids, on="id")
        .select("qid", "id", F.posexplode("codes").alias("m", "code"))
        .join(lut, on=["qid", "m", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("wgt").alias("adc"))
    )
    wa = Window.partitionBy("qid").orderBy(F.desc("adc"), F.col("id"))
    cand = (
        adc.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") <= rerank)
        .select("qid", "id")
    )
    got = (
        cand.join(corpus, cand["id"] == corpus["vec_id"])
        .join(qdf, on="qid")
        .select("qid", "vec_id", _sim().alias("sim"))
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    got_sets: dict[int, set] = {}
    for r in got:
        got_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    idx.unpersist()
    codes.unpersist()
    recs = sorted(
        len(ex_sets[q] & got_sets.get(q, set())) / len(ex_sets[q]) for q in ex_sets
    )
    m_ = len(recs)

    # persisted-index serving latency: the PQ sidecar cuts the direct
    # probe's vector-store read from the full ~22% candidate set to
    # `rerank` rows — measure both paths on the same persisted index
    import tempfile

    from aqueduct_core_spark.functions.ann_index import ForestIndex

    root = tempfile.mkdtemp(prefix="aq-bench-ivfpq-")
    direct_ms = direct_pq_ms = None
    try:
        ixp = ForestIndex.create(
            spark, f"{root}/ix", fcbs, pq_codebooks=pcbs
        )
        ixp.add(embs)
        ixp.topk_direct(list(qrows[0]["embedding"]), k=k)  # warm imports
        lat, lat_pq = [], []
        for r in qrows[:7]:
            qv = list(r["embedding"])
            t0 = time.time()
            ixp.topk_direct(qv, k=k)
            lat.append(time.time() - t0)
            t0 = time.time()
            ixp.topk_direct(qv, k=k, rerank=rerank)
            lat_pq.append(time.time() - t0)
        lat.sort()
        lat_pq.sort()
        direct_ms = round(1000 * lat[len(lat) // 2], 2)
        direct_pq_ms = round(1000 * lat_pq[len(lat_pq) // 2], 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return {
        "ivfpq_recall": round(sum(recs) / m_, 3),
        "ivfpq_recall_p10": round(recs[max(0, m_ // 10 - 1)], 3),
        "ivfpq_recall_min": round(recs[0], 3),
        "ivfpq_rerank_fraction": round(rerank / n, 3),
        "ivfpq_direct_ms_median": direct_pq_ms,
        "forest_direct_ms_median_same_index": direct_ms,
    }


def bench_pq_recall(spark, sf_dir: str, k: int = 20, n_queries: int = 100,
                    rerank: int = 64) -> dict:
    """recall@k of the PQ compressed-scan path (r5) over the same
    100-query suite as the forest: train once, encode once, score ALL
    queries in one batched pass (the per-query ×10⁶-integer lookup
    tables become one broadcast (qid, m, code, w) frame joined to the
    M-exploded codes — identical integer sums as the per-query inlined
    expression), take top-``rerank`` ADC candidates per query, exact
    rerank.  Reports mean/p10/min recall for ADC+rerank AND ADC-only
    (the compression-only curve), plus the measured parquet bytes of
    the codes table vs the raw embeddings — the scan-compression factor
    a 100 TB deployment banks."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aqueduct_core_spark.functions.similarity import (
        _quant_int,
        pq_encode,
        pq_train,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = embs.count()
    if n == 0:
        return {}
    qrows = embs.where(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    dim = len(qrows[0]["embedding"])
    qdf = F.broadcast(
        spark.createDataFrame(
            [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
            "qid long, qvec array<double>",
        )
    )

    def _sim():
        dot = F.aggregate(
            F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.transform(F.col(c), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return F.try_divide(dot, nrm("vec") * nrm("qvec"))

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    corpus = embs.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    exact = (
        corpus.join(qdf, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _sim().alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    ex_sets: dict[int, set] = {}
    for r in exact:
        ex_sets.setdefault(r["qid"], set()).add(r["vec_id"])

    cbs = pq_train(embs, dim)
    d = len(cbs[0][0])
    codes = pq_encode(embs, cbs).persist()
    codes.count()
    # batched ADC: one broadcast LUT frame for all queries
    lut_rows = []
    for r in qrows:
        qq = [_quant_int(x) for x in r["embedding"]]
        for m, cb in enumerate(cbs):
            for ci, c in enumerate(cb):
                s = 0
                for a, b in zip(qq[m * d:(m + 1) * d], c):
                    s += a * b
                lut_rows.append((int(r["vec_id"]), m, ci + 1, s))
    lut = F.broadcast(
        spark.createDataFrame(lut_rows, "qid long, m int, code int, wgt long")
    )
    adc = (
        codes.select("id", F.posexplode("codes").alias("m", "code"))
        .join(lut, on=["m", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("wgt").alias("adc"))
    )
    wa = Window.partitionBy("qid").orderBy(F.desc("adc"), F.col("id"))
    cand = (
        adc.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") <= rerank)
        .select("qid", "id", "rn")
        .persist()
    )
    cand.count()
    got = (
        cand.join(corpus, cand["id"] == corpus["vec_id"])
        .join(qdf, on="qid")
        .select("qid", "vec_id", _sim().alias("sim"))
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    got_sets: dict[int, set] = {}
    for r in got:
        got_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    adc_sets: dict[int, set] = {}
    for r in (
        cand.where(F.col("rn") <= k + 1).orderBy("qid", "rn").collect()
    ):
        if r["id"] != r["qid"] and len(adc_sets.setdefault(r["qid"], set())) < k:
            adc_sets[r["qid"]].add(r["id"])
    cand.unpersist()

    # measured parquet bytes: codes table vs raw embeddings — and the
    # AMORTIZED probe price: ADC+rerank against the persisted codes
    # (the steady-state cost; the emb_pq_topk headline entry also pays
    # train+encode per call by design)
    from aqueduct_core_spark.functions.similarity import pq_topk

    root = tempfile.mkdtemp(prefix="aq-bench-pq-")
    probe_ms = None
    try:
        codes.coalesce(4).write.mode("overwrite").parquet(f"{root}/codes")
        code_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(f"{root}/codes")
            for f in fs
            if f.endswith(".parquet")
        )
        saved = spark.read.parquet(f"{root}/codes")
        pq_topk(saved, [float(x) for x in qrows[0]["embedding"]],
                cbs, embs, k=k, rerank=rerank).collect()  # warm plans
        lat = []
        for r in qrows[:7]:
            t0 = time.time()
            pq_topk(saved, [float(x) for x in r["embedding"]],
                    cbs, embs, k=k, rerank=rerank).collect()
            lat.append(time.time() - t0)
        lat.sort()
        probe_ms = round(1000 * lat[len(lat) // 2], 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    codes.unpersist()
    raw_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(f"{sf_dir}/embeddings.parquet")
        for f in fs
    ) or os.path.getsize(f"{sf_dir}/embeddings.parquet")

    recs = sorted(
        len(ex_sets[q] & got_sets.get(q, set())) / len(ex_sets[q]) for q in ex_sets
    )
    recs_adc = sorted(
        len(ex_sets[q] & adc_sets.get(q, set())) / len(ex_sets[q]) for q in ex_sets
    )
    m_ = len(recs)
    return {
        "pq_recall": round(sum(recs) / m_, 3),
        "pq_recall_p10": round(recs[max(0, m_ // 10 - 1)], 3),
        "pq_recall_min": round(recs[0], 3),
        "pq_adc_only_recall": round(sum(recs_adc) / m_, 3),
        "pq_rerank_fraction": round(rerank / n, 3),
        "pq_code_bytes_ratio": round(code_bytes / raw_bytes, 3),
        "pq_probe_only_ms_median": probe_ms,
    }


def bench_forest_recall(spark, sf_dir: str, k: int = 20, n_queries: int = 100) -> dict:
    """recall@k of the PRUNED IVF-forest path over ``n_queries`` query
    vectors (r4 verdict task 8: 10 → 100, so the published minimum has
    a confidence story — mean/p10/min reported), with the index built
    ONCE and probed for ALL queries in a handful of batched jobs: the
    exact ground truth is one broadcast-queries × corpus scoring pass,
    the forest answers one broadcast-(qid,tbl,cell) probe-table join →
    distinct (qid, id) → rerank-join — not 100 sequential driver loops.
    Also measures the realized scanned fraction (distinct candidates /
    corpus, per query) and the index-bytes ratio of the narrow
    membership + single vector-store layout vs the raw vectors (the r4
    18×-amplification fix), plus the amortized probe-only latency
    against the persisted ForestIndex (the steady-state price of
    ``emb_ivf_forest`` — the headline entry also pays train+index)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aqueduct_core_spark.functions.ann_index import ForestIndex
    from aqueduct_core_spark.functions.similarity import (
        forest_index,
        forest_probe_cells,
        forest_train,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = embs.count()
    if n == 0:
        return {}
    qrows = embs.where(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    dim = len(qrows[0]["embedding"])
    qdf = F.broadcast(
        spark.createDataFrame(
            [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
            "qid long, qvec array<double>",
        )
    )

    def _sim():
        dot = F.aggregate(
            F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.transform(F.col(c), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return F.try_divide(dot, nrm("vec") * nrm("qvec"))

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    corpus = embs.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    # exact ground truth: ONE broadcast-NLJ scoring job for all queries
    exact = (
        corpus.join(qdf, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _sim().alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    ex_sets: dict[int, set] = {}
    for r in exact:
        ex_sets.setdefault(r["qid"], set()).add(r["vec_id"])

    cbs = forest_train(embs, dim)
    idx = forest_index(embs, cbs).persist()
    idx.count()
    probe_rows = [
        (int(r["vec_id"]), t, int(c))
        for r in qrows
        for t, c in forest_probe_cells(list(r["embedding"]), cbs)
    ]
    pdf = F.broadcast(
        spark.createDataFrame(probe_rows, "qid long, tbl int, cell int")
    )
    cand = (
        idx.join(pdf, on=["tbl", "cell"]).select("qid", "id").distinct().persist()
    )
    scans = {
        r["qid"]: r["cnt"] / n
        for r in cand.groupBy("qid").agg(F.count("*").alias("cnt")).collect()
    }
    got = (
        cand.join(corpus, cand["id"] == corpus["vec_id"])
        .join(qdf, on="qid")
        .select("qid", "vec_id", _sim().alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= k + 1) & (F.col("qid") != F.col("vec_id")))
        .withColumn("rn2", F.row_number().over(w))
        .where(F.col("rn2") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    got_sets: dict[int, set] = {}
    for r in got:
        got_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    cand.unpersist()
    idx.unpersist()
    recs = sorted(
        len(ex_sets[q] & got_sets.get(q, set())) / len(ex_sets[q]) for q in ex_sets
    )
    scan_vals = sorted(scans.values())

    # amortized probe-only latency + on-disk bytes of the persisted
    # narrow index (membership parts + vector store) vs raw vectors
    import tempfile

    root = tempfile.mkdtemp(prefix="aq-bench-forest-ix-")
    probe_ms = probe_direct_ms = index_ratio = membership_ratio = None
    try:
        ix = ForestIndex.create(spark, f"{root}/ix", cbs)
        ix.add(embs)
        ix.topk(list(qrows[0]["embedding"]), k=k).collect()  # warm plans
        lat = []
        for r in qrows[:7]:
            t0 = time.time()
            ix.topk(list(r["embedding"]), k=k).collect()
            lat.append(time.time() - t0)
        lat.sort()
        probe_ms = round(1000 * lat[len(lat) // 2], 1)
        # the zero-Spark-job serving probe on the same queries
        ix.topk_direct(list(qrows[0]["embedding"]), k=k)  # warm imports
        lat_d = []
        for r in qrows[:7]:
            t0 = time.time()
            ix.topk_direct(list(r["embedding"]), k=k)
            lat_d.append(time.time() - t0)
        lat_d.sort()
        probe_direct_ms = round(1000 * lat_d[len(lat_d) // 2], 2)
        vec_bytes = mem_bytes = 0
        for dp, _, fs in os.walk(f"{root}/ix"):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                sz = os.path.getsize(os.path.join(dp, f))
                if "-vecs" in dp:
                    vec_bytes += sz
                else:
                    mem_bytes += sz
        raw_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(f"{sf_dir}/embeddings.parquet")
            for f in fs
        ) or os.path.getsize(f"{sf_dir}/embeddings.parquet")
        index_ratio = round((mem_bytes + vec_bytes) / raw_bytes, 2)
        membership_ratio = round(mem_bytes / raw_bytes, 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    m = len(recs)
    return {
        "ivf_forest_recall": round(sum(recs) / m, 3),
        "ivf_forest_recall_p10": round(recs[max(0, m // 10 - 1)], 3),
        "ivf_forest_recall_min": round(recs[0], 3),
        "ivf_forest_queries": m,
        "ivf_forest_scanned_fraction": round(sum(scan_vals) / len(scan_vals), 3),
        "ivf_forest_scanned_max": round(scan_vals[-1], 3),
        "ivf_forest_probe_only_ms_median": probe_ms,
        "ivf_forest_probe_direct_ms_median": probe_direct_ms,
        "ivf_forest_index_bytes_ratio": index_ratio,
        "ivf_forest_membership_bytes_ratio": membership_ratio,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replay-only", action="store_true")
    ap.add_argument("--generate-only", action="store_true",
                    help="only write the change log to --input, then exit "
                         "(lets bench/scaling.py generate once at full "
                         "parallelism before the measured levels)")
    # big enough that the timed epochs measure sustained apply
    # throughput (per-epoch driver floors amortized), small enough that
    # generation + verification keep the whole bench run in minutes
    ap.add_argument("--convs", type=int, default=200_000)
    ap.add_argument("--work", default="/tmp/aq-bench")
    ap.add_argument("--input", default=None,
                    help="pre-generated change-log dir to reuse (skips generation; "
                         "default: a deterministic per-size path, so repeated "
                         "bench runs generate once)")
    args = ap.parse_args()
    if args.input is None:
        args.input = f"/tmp/aq-bench-input-{args.convs}"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:  # cosmetic metadata — never gate the run on a path spelling
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1

    from aqueduct_core_spark.session import get_spark

    extra = {
        # local bench data is tens of MB; size scan splits so both
        # parallelism levels get enough tasks (at 100 TB the 128 MB
        # default is correct — this is per-deployment tuning, not logic)
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(512 * 1024),
    }
    # Shuffle spill + scratch on tmpfs when available: the sandbox has
    # ONE ~500 MB/s disk shared by every core — a fixed resource that
    # cannot scale with parallelism, where a real cluster adds disks
    # with executors.  (Production: executor-local NVMe / remote
    # shuffle service.)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        extra["spark.local.dir"] = local_dir

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )

    if args.generate_only:
        from aqueduct_core_spark.generator import generate_changes

        assert args.input, "--generate-only requires --input"
        generate_changes(spark, n_convs=args.convs, seed=42, partitions=64).write.mode(
            "overwrite"
        ).parquet(args.input)
        print(json.dumps({"generated": args.input, "convs": args.convs}))
        return

    # warmup: JVM/codegen + OS page cache for the scanned tables, so the
    # first timed query doesn't pay session-init costs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    queries: dict[str, float] = {}
    recall = {}
    dedupix = {}
    if not args.replay_only:
        queries = bench_queries(spark, sf_dir)
        recall = bench_ann_recall(spark, sf_dir)
        dedupix = bench_dedup_index(spark)

    replay_stats = bench_replay(
        spark, args.convs, args.work, args.input,
        point_lookups=not args.replay_only,
    )
    queries["cdc_replay"] = replay_stats["sec"]

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "replay": replay_stats,
    }
    out.update(recall)
    out.update(dedupix)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
