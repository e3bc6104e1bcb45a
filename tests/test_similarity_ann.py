"""ANN recall engineering: Hamming-sketch rerank, semantic dedup,
product quantization (PQ) and the composed IVF-PQ path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.functions.similarity import (
    cosine_topk,
    sketch_index,
    sketch_signature_py,
    sketch_topk,
)


@pytest.fixture(scope="module")
def embs(spark):
    rng = np.random.RandomState(11)
    base = rng.standard_normal((400, 32))
    # plant a genuine neighborhood around vector 0 so recall is testable
    base[1:40] = base[0] * 0.6 + base[1:40] * 0.8
    vecs = [(i, base[i].astype(float).tolist()) for i in range(400)]
    return spark.createDataFrame(vecs, ["vec_id", "embedding"])


def test_sketch_signature_spark_matches_driver(spark, embs):
    """The Arrow-batched numpy signature kernel and the driver-side
    single-vector kernel agree bit-for-bit."""
    idx = sketch_index(embs, dim=32).orderBy("id").limit(20).collect()
    for r in idx:
        assert r["sig"] == sketch_signature_py(r["vec"], dim=32), r["id"]


def test_sketch_topk_recall_and_budget(spark, embs):
    q = embs.where("vec_id = 0").first()["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(embs, list(q), k=20).collect()]
    approx = sketch_topk(embs, list(q), k=20, rerank_fraction=0.15).collect()
    assert len(approx) == 20
    rec = len(set(exact) & {r["vec_id"] for r in approx}) / 20
    assert rec >= 0.8, f"sketch recall {rec} below target"
    # rerank_limit variant: candidate stage bounded by the explicit m
    lim = sketch_topk(embs, list(q), k=20, rerank_limit=60).collect()
    assert len(lim) == 20


def test_sketch_topk_deterministic_across_parallelism(spark, embs):
    """The (ham, id) tie-break makes the candidate cut — and therefore
    the result — independent of partitioning."""
    q = list(embs.where("vec_id = 0").first()["embedding"])
    a = sketch_topk(embs.repartition(1), q, k=20, rerank_fraction=0.15).collect()
    b = sketch_topk(embs.repartition(13), q, k=20, rerank_fraction=0.15).collect()
    assert [(r.vec_id, r.sim) for r in a] == [(r.vec_id, r.sim) for r in b]


def test_sketch_accepts_prebuilt_index(spark, embs):
    q = list(embs.where("vec_id = 0").first()["embedding"])
    idx = sketch_index(embs, dim=32)
    a = sketch_topk(idx, q, k=10)
    b = sketch_topk(embs, q, k=10)
    assert [(r.vec_id, r.sim) for r in a.collect()] == [
        (r.vec_id, r.sim) for r in b.collect()
    ]


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup-style cluster-then-prune)
# ---------------------------------------------------------------------------

def test_semantic_dedup_drops_within_cell(spark):
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [10.0, 0.1]),    # cell 1
        (2, [5.0, 0.05]),    # cell 1, same direction as 1 -> dup_of 1
        (3, [1.0, 1.2]),     # cell 2
        (4, [0.1, 9.0]),     # cell 2, cos(3,4) ~ 0.78 < 0.95 -> kept
        (5, [0.1, 9.05]),    # cell 2, cos(4,5) ~ 1 -> dup_of 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cell, r.dup_of, r.keep)
        for r in semantic_dedup(
            df, dim=2, threshold=0.95, centroids=cents, persist_assign=False
        ).collect()
    }
    assert out[1] == (1, None, True)
    assert out[2] == (1, 1, False)
    assert out[3] == (2, None, True)
    assert out[4] == (2, None, True)
    assert out[5] == (2, 4, False)


def test_semantic_dedup_cell_blocking_is_the_approximation(spark):
    """Near-identical vectors straddling a Voronoi boundary are NOT
    compared — the published SemDeDup trade: quadratic cost is bounded
    by clustering, at the price of missing cross-cell duplicates."""
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(1, [1.0, 0.99]), (2, [0.99, 1.0])]  # cos ~ 0.99995
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, dim=2, threshold=0.9, centroids=cents, persist_assign=False
    ).collect()
    assert all(r.keep for r in out)
    assert {r.cell for r in out} == {1, 2}


def test_semantic_dedup_dup_of_is_smallest_neighbor(spark):
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    # three copies of one direction: 7 pairs with both 1 and 3
    rows = [(1, [4.0, 0.0]), (3, [5.0, 0.0]), (7, [6.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.dup_of for r in semantic_dedup(
        df, dim=2, threshold=0.99, centroids=[[1.0, 0.0], [0.0, 1.0]],
        persist_assign=False,
    ).collect()}
    assert out == {1: None, 3: 1, 7: 1}


def test_semantic_dedup_giant_cell_cap_star_pairing(spark):
    """A degenerate pileup (many identical vectors in one cell) with
    max_cell set completes via star pairing: every copy drops with
    dup_of = the cell's min id, and work is O(|cell|), not |cell|²."""
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [7.0, 0.0]) for i in range(1, 2001)]      # degenerate cell 1
    rows += [(9001, [0.0, 3.0]), (9002, [0.0, 3.0])]       # small cell 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, dim=2, threshold=0.99, centroids=cents,
        persist_assign=False, max_cell=100,
    )
    got = {r.vec_id: (r.dup_of, r.keep) for r in out.collect()}
    assert got[1] == (None, True)
    assert all(got[i] == (1, False) for i in range(2, 2001))
    # the under-cap cell still runs the full pairwise check
    assert got[9001] == (None, True) and got[9002] == (9001, False)


def test_semantic_dedup_cap_matches_uncapped_on_small_cells(spark):
    from aqueduct_core_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(1, [10.0, 0.1]), (2, [5.0, 0.05]), (3, [1.0, 1.2]),
            (4, [0.1, 9.0]), (5, [0.1, 9.05])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = semantic_dedup(df, dim=2, threshold=0.95, centroids=cents,
                       persist_assign=False).collect()
    b = semantic_dedup(df, dim=2, threshold=0.95, centroids=cents,
                       persist_assign=False, max_cell=100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --------------------------------------------------------------------------
# Trained IVF forest (the pruned recall-target path)
# --------------------------------------------------------------------------


def test_forest_assign_matches_driver_probe_ranking(spark, embs):
    """The Arrow-batched assignment kernel and the driver-side integer
    probe ranking share one arithmetic: for any vector, the cell the
    kernel assigns in table t must be the #1 probe forest_probes ranks
    for that same vector in table t (both are argmax of the identical
    exact integer dot)."""
    from aqueduct_core_spark.functions.similarity import (
        forest_index,
        forest_probes,
        forest_train,
    )

    cbs = forest_train(embs, 32, n_tables=3, n_cells=8)
    idx = forest_index(embs, cbs)
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in embs.where(F.col("vec_id") < 5).collect()
    }
    rows = idx.where(F.col("id") < 5).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["id"], {})[r["tbl"]] = r["cell"]
    for vid, tbls in by_vec.items():
        assert len(tbls) == 3  # one cell per table, every table
        for t, cell in tbls.items():
            top = forest_probes(vecs[vid], cbs, n_probes=1)[t][0]
            assert cell == top, (vid, t)


def test_forest_topk_beats_single_table_and_meets_floor(spark, embs):
    """On the planted-neighborhood corpus the forest must recover the
    exact top-k nearly perfectly (the neighborhood is dense, every
    table sees it) — and must include the planted neighbors."""
    from aqueduct_core_spark.functions.similarity import (
        forest_index,
        forest_topk,
        forest_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    exact = [r["vec_id"] for r in cosine_topk(embs, q, k=20).collect()]
    cbs = forest_train(embs, 32, n_tables=6, n_cells=16)
    idx = forest_index(embs, cbs)
    got = {
        r["vec_id"]
        for r in forest_topk(idx, q, cbs, k=20, n_probes=2, vectors=embs).collect()
    }
    rec = len(set(exact) & got) / 20
    assert rec >= 0.8, f"forest recall {rec}"


def test_forest_deterministic_across_parallelism(spark, embs):
    """Quantized integer arithmetic end-to-end: training sums, cell
    assignment and probe ranking are exact in any partial-aggregation
    order, so repartitioning cannot change the result."""
    from aqueduct_core_spark.functions.similarity import (
        forest_index,
        forest_topk,
        forest_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    outs = []
    for parts in (1, 13):
        df = embs.repartition(parts)
        cbs = forest_train(df, 32, n_tables=4, n_cells=8)
        idx = forest_index(df, cbs)
        outs.append(
            [
                (r.vec_id, r.sim)
                for r in forest_topk(idx, q, cbs, k=15, vectors=df).collect()
            ]
        )
    assert outs[0] == outs[1]


def test_forest_train_empty_cell_keeps_normalized_init(spark):
    """A cell no vector lands in falls back to its NORMALIZED init
    centroid (the COALESCE rule the SQL oracle applies)."""
    from aqueduct_core_spark.functions.similarity import (
        _unit_quant,
        forest_init_codebooks,
        forest_train,
    )

    # 3 identical vectors -> every table has exactly one occupied cell
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)], ["vec_id", "embedding"]
    )
    cbs = forest_train(df, 4, n_tables=2, n_cells=4)
    init = forest_init_codebooks(4, n_tables=2, n_cells=4)
    for t in range(2):
        unchanged = sum(
            1
            for ci in range(4)
            if cbs[t][ci] == _unit_quant(init[t][ci])
        )
        assert unchanged == 3  # the 1 occupied cell trained; 3 fell back


def test_dedup_blocking_cache_is_not_session_lifetime(spark):
    """r3 demerit: near_dup_pairs/semantic_dedup persisted their
    blocking projections for the session, so a long-lived driver
    running many dedup jobs accumulated cache without bound.  With
    localCheckpoint the ContextCleaner releases blocks once the result
    frame is GC'd: across repeated calls the persistent-RDD count must
    stay bounded, not grow ~2 per call."""
    import gc

    import numpy as np

    from aqueduct_core_spark.functions.similarity import (
        near_dup_pairs,
        semantic_dedup,
    )

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(16).tolist()) for i in range(200)],
        ["vec_id", "embedding"],
    )
    import time

    counts = []
    for _ in range(8):
        near_dup_pairs(df, dim=16).count()
        semantic_dedup(df, dim=16).count()
        # the ContextCleaner frees checkpoint blocks when the JVM-side
        # RDD is garbage collected; drop the Python proxies, then ask
        # the JVM to GC so the weak references actually enqueue (a big
        # mostly-idle test heap may otherwise not GC for minutes)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    # GROWTH-relative: other tests in the session may hold their own
    # caches; what must not happen is +2 per call (un-fixed persist()
    # behavior adds 14 over 7 iterations; the cleaner keeps it ~0-2)
    assert counts[-1] - counts[0] <= 4, counts


def test_forest_index_persisted_layout_prunes_partitions(spark, embs, tmp_path):
    """The 100 TB claim in the forest docstrings: persist the index
    clustered by (tbl, cell) and a probe becomes PARTITION PRUNING —
    the probed query's scan must list only files under the probed
    (tbl, cell) directories, not the whole index."""
    from aqueduct_core_spark.functions.similarity import (
        forest_probe_cells,
        forest_index,
        forest_topk,
        forest_train,
    )

    cbs = forest_train(embs, 32, n_tables=3, n_cells=8)
    root = str(tmp_path / "fidx")
    forest_index(embs, cbs).write.partitionBy("tbl", "cell").parquet(root)
    idx = spark.read.parquet(root)

    q = list(embs.where("vec_id = 0").first()["embedding"])
    top = forest_topk(idx, q, cbs, k=10, n_probes=2, vectors=embs)
    # the probe predicate is entirely over partition columns, so it
    # must land in the scan's PartitionFilters (directory pruning —
    # inputFiles() lists pre-pruning files, so inspect the plan)
    plan = top._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan
    assert "PartitionFilters: []" not in scan[0], scan[0]
    assert "tbl" in scan[0] and "cell" in scan[0], scan[0]
    # and the pruned row count equals the probed cells' membership
    probed = set(forest_probe_cells(q, cbs, 2 * len(cbs)))
    mem_idx = forest_index(embs, cbs)
    expect_rows = sum(
        mem_idx.where((F.col("tbl") == t) & (F.col("cell") == c)).count()
        for t, c in probed
    )
    pred = None
    for t, c in probed:
        h = (F.col("tbl") == t) & (F.col("cell") == c)
        pred = h if pred is None else pred | h
    assert idx.where(pred).count() == expect_rows
    # and the pruned scan still returns the same rows as the in-memory
    # index (partition columns come back as strings/ints — results equal)
    mem = forest_topk(
        forest_index(embs, cbs), q, cbs, k=10, n_probes=2, vectors=embs
    )
    assert [(r.vec_id, r.sim) for r in top.collect()] == [
        (r.vec_id, r.sim) for r in mem.collect()
    ]


# --- product quantization (ADC compressed scan + exact rerank) ---


def test_pq_encode_matches_driver_argmin(spark, embs):
    """The Arrow einsum assignment equals a pure-Python exact-integer
    argmin of the L2 surrogate per subspace (first-min = smaller code,
    the oracle's tie rule)."""
    from aqueduct_core_spark.functions.similarity import (
        _quant_int, pq_encode, pq_train,
    )

    cbs = pq_train(embs, dim=32)
    got = {r["id"]: list(r["codes"])
           for r in pq_encode(embs, cbs).limit(50).collect()}
    rows = {r["vec_id"]: list(r["embedding"])
            for r in embs.where(F.col("vec_id") < 50).collect()}
    d = len(cbs[0][0])
    for vid, vec in rows.items():
        vq = [_quant_int(x) for x in vec]
        want = []
        for m, cb in enumerate(cbs):
            sub = vq[m * d:(m + 1) * d]
            best, best_s = None, None
            for ci, c in enumerate(cb):
                s = sum(ci_ * ci_ for ci_ in c) - 2 * sum(
                    a * b for a, b in zip(sub, c))
                if best_s is None or s < best_s:
                    best, best_s = ci + 1, s
            want.append(best)
        assert got[vid] == want, vid


def test_pq_topk_recall_meets_floor(spark, embs):
    """ADC + rerank-64 recall@20 vs exact cosine on the planted
    neighborhood; ADC-only (rerank=k) must be strictly worse or equal —
    the rerank is what buys the recall back."""
    from aqueduct_core_spark.functions.similarity import pq_search

    q = list(embs.where("vec_id = 0").first()["embedding"])
    exact = {r["vec_id"] for r in cosine_topk(embs, q, k=20).collect()}
    got = pq_search(embs, q, k=20, rerank=64).collect()
    assert len(got) == 20
    rec = len({r["vec_id"] for r in got} & exact) / 20
    assert rec >= 0.8, rec
    adc_only = pq_search(embs, q, k=20, rerank=20).collect()
    rec_adc = len({r["vec_id"] for r in adc_only} & exact) / 20
    assert rec_adc <= rec


def test_pq_deterministic_across_parallelism(spark, embs):
    from aqueduct_core_spark.functions.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    outs = []
    for parts in (1, 13):
        df = embs.repartition(parts)
        cbs = pq_train(df, dim=32)
        cd = pq_encode(df, cbs)
        outs.append([
            (r["vec_id"], r["adc"], r["sim"])
            for r in pq_topk(cd, q, cbs, df, k=20, rerank=64).collect()
        ])
    assert outs[0] == outs[1]


def test_pq_train_empty_code_keeps_init(spark):
    """A code that attracts no members survives training verbatim (the
    oracle's COALESCE rule; PQ never normalizes centroids).  The corpus
    opens with duplicates, so the sample init seeds several identical
    codes; ``argmin``'s first-index tie rule always prefers an earlier
    copy, so the last copies never get a member."""
    from aqueduct_core_spark.functions.similarity import (
        pq_sample_init, pq_train,
    )

    # ids 0-3 share one vector, so init codes 0-3 are identical; ids
    # 8-11 sit next to it and pull code 0 away during training
    rows = [(i, [1.0] * 8) for i in range(4)]
    rows += [(4 + j, [10.0 * (j + 1)] * 8) for j in range(4)]
    rows += [(i, [2.0] * 8) for i in range(8, 12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    smp = pq_sample_init(df, dim=8, n_sub=2, n_codes=8)
    cbs = pq_train(df, dim=8, n_sub=2, n_codes=8)
    for m in range(2):
        assert smp[m][0] == smp[m][1] == smp[m][2] == smp[m][3]
        # training did move the first copy ...
        assert cbs[m][0] != smp[m][0], m
        # ... while codes 2 and 3 lose every tie to an earlier copy,
        # never get a member and come out verbatim
        for k in (2, 3):
            assert cbs[m][k] == smp[m][k], (m, k)


def test_pq_sample_init_rejects_corpus_smaller_than_n_codes(spark):
    """Fewer vectors than codes cannot seed every code from data; the
    oracle's ``row_number() <= K`` seeding has no fallback either."""
    from aqueduct_core_spark.functions.similarity import pq_sample_init, pq_train

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(3)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="n_codes=8"):
        pq_sample_init(tiny, dim=8, n_sub=2, n_codes=8)
    with pytest.raises(ValueError, match="n_codes=8"):
        pq_train(tiny, dim=8, n_sub=2, n_codes=8)


def test_pq_adc_scan_plan_has_no_exchange(spark, embs):
    """The ADC candidate pass is a pure projection over the codes table
    + TakeOrderedAndProject — no shuffle, no UDF; vectors are only
    touched by the rerank broadcast join."""
    from aqueduct_core_spark.functions.similarity import (
        pq_adc_score, pq_encode, pq_topk, pq_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    cbs = pq_train(embs, dim=32)
    cd = pq_encode(embs, cbs).localCheckpoint()
    cand_plan = (
        cd.select("id", pq_adc_score(q, cbs).alias("adc"))
        .orderBy(F.col("adc").desc(), "id").limit(64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in cand_plan, cand_plan
    assert "TakeOrderedAndProject" in cand_plan
    full_plan = (
        pq_topk(cd, q, cbs, embs, k=20, rerank=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in full_plan or "BroadcastNestedLoopJoin" in full_plan


def test_ivfpq_equals_forest_when_rerank_covers_candidates(spark, embs):
    """With a rerank budget >= the candidate count, IVF-PQ exact-reranks
    the forest's ENTIRE candidate set — the result must equal
    forest_topk tuple-for-tuple (the ADC cut is the only approximation
    IVF-PQ adds on top of the forest)."""
    from aqueduct_core_spark.functions.similarity import (
        forest_index, forest_topk, forest_train, ivfpq_topk, pq_encode,
        pq_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    fcbs = forest_train(embs, dim=32)
    idx = forest_index(embs, fcbs).localCheckpoint()
    pcbs = pq_train(embs, dim=32)
    codes = pq_encode(embs, pcbs).localCheckpoint()
    want = [
        (r["vec_id"], r["sim"])
        for r in forest_topk(idx, q, fcbs, k=20, vectors=embs).collect()
    ]
    got = [
        (r["vec_id"], r["sim"])
        for r in ivfpq_topk(
            idx, codes, q, fcbs, pcbs, embs, k=20, rerank=10**6
        ).collect()
    ]
    assert got == want


def _ops_above_leaf(plan, column):
    """Operator names from the first leaf whose output has ``column`` up
    to the plan root (leaf first); None when no leaf has it."""
    kids = plan.children()
    if kids.size() == 0:
        out = plan.output()
        names = {out.apply(i).name() for i in range(out.size())}
        return [plan.nodeName()] if column in names else None
    for i in range(kids.size()):
        path = _ops_above_leaf(kids.apply(i), column)
        if path is not None:
            return path + [plan.nodeName()]
    return None


def _initial_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    return plan.initialPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _assert_membership_broadcast_unshuffled(df):
    """The membership scan (the leaf with ``cell``) reaches its first
    join through no shuffle ``Exchange`` (a ``BroadcastExchange`` is the
    broadcast itself), and that join is a broadcast hash join."""
    plan = _initial_plan(df)
    path = _ops_above_leaf(plan, "cell")
    assert path is not None, plan.toString()
    join = next(i for i, op in enumerate(path) if op.endswith("Join"))
    assert path[join] == "BroadcastHashJoin", path
    assert "Exchange" not in path[:join], path


def test_ivfpq_codes_scan_is_not_shuffled(spark, embs, tmp_path):
    """The candidate join broadcasts the candidate ids, so nothing
    between the codes scan and the ADC cut moves the codes table: in
    the plan before execution no Exchange sits above the codes scan
    below the TakeOrderedAndProject, and the join is a broadcast hash
    join.  (Without the hint the initial plan is a sort-merge join that
    hash-shuffles the whole codes scan on id.)  The membership scans of
    all three probes (``forest_topk``, ``ivfpq_topk``,
    ``ForestIndex.topk``) reach their candidate join unshuffled too:
    the matched ids are broadcast as they are, not deduplicated first."""
    from aqueduct_core_spark.functions.ann_index import ForestIndex
    from aqueduct_core_spark.functions.similarity import (
        forest_index, forest_topk, forest_train, ivfpq_topk, pq_encode, pq_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    fcbs = forest_train(embs, dim=32)
    idx = forest_index(embs, fcbs).localCheckpoint()
    pcbs = pq_train(embs, dim=32)
    codes = pq_encode(embs, pcbs).localCheckpoint()
    df = ivfpq_topk(idx, codes, q, fcbs, pcbs, embs, k=20, rerank=64)
    plan = _initial_plan(df)
    path = _ops_above_leaf(plan, "codes")
    assert path is not None, plan.toString()
    cut = path.index("TakeOrderedAndProject")
    below_cut = path[:cut]
    assert not [op for op in below_cut if "Exchange" in op], path
    assert "BroadcastHashJoin" in below_cut, path

    ix = ForestIndex.create(spark, str(tmp_path / "ix"), fcbs, num_parts=8)
    ix.add(embs)
    for probe in (df, forest_topk(idx, q, fcbs, k=20, vectors=embs), ix.topk(q, k=20)):
        _assert_membership_broadcast_unshuffled(probe)


def test_ivfpq_tight_rerank_recall_and_determinism(spark, embs):
    """A tight rerank budget keeps recall near the forest's (ADC ranks
    the candidates well enough that the true neighbors survive the
    cut), and the result is deterministic across parallelism."""
    from aqueduct_core_spark.functions.similarity import (
        forest_index, forest_train, ivfpq_topk, pq_encode, pq_train,
    )

    q = list(embs.where("vec_id = 0").first()["embedding"])
    exact = {r["vec_id"] for r in cosine_topk(embs, q, k=20).collect()}
    outs = []
    for parts in (1, 13):
        df = embs.repartition(parts)
        fcbs = forest_train(df, dim=32)
        idx = forest_index(df, fcbs)
        pcbs = pq_train(df, dim=32)
        codes = pq_encode(df, pcbs)
        outs.append([
            (r["vec_id"], r["adc"], r["sim"])
            for r in ivfpq_topk(
                idx, codes, q, fcbs, pcbs, df, k=20, rerank=64
            ).collect()
        ])
    assert outs[0] == outs[1]
    rec = len({v for v, _, _ in outs[0]} & exact) / 20
    assert rec >= 0.7, rec
