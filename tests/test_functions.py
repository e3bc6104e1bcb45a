"""Tests for the training-data pipeline operators (text stats, dedup,
similarity, multimodal plumbing) and the events→changes mapping."""

import math

import pytest
from pyspark.sql import Row, functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and it was happy to be there"),
        (1, "the cat sat on the mat and it was happy to be here"),  # near-dup of 0
        (2, "completely different words entirely unrelated content stream"),
        (3, "the cat sat on the mat and it was happy to be there"),  # exact dup of 0
        (4, "zzz qqq www eee rrr ttt yyy uuu iii ooo"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_text_stats(spark, docs):
    from aqueduct_core_spark.functions import text as tx

    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            tx.token_count(F.col("text")).alias("n"),
            tx.stopword_ratio(F.col("text")).alias("sw"),
            tx.detect_lang(F.col("text")).alias("lang"),
            tx.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[0]["n"] == 13
    assert out[5]["n"] == 0
    # "the"×2, "and","it","to" stopwords out of 13 tokens
    assert math.isclose(out[0]["sw"], 5 / 13, abs_tol=1e-6)
    assert out[0]["lang"] == "en"
    assert out[4]["lang"] == "other"
    assert out[0]["fp"] == out[3]["fp"]
    assert out[0]["fp"] != out[1]["fp"]


def test_subword_token_count(spark, docs):
    from aqueduct_core_spark.functions import text as tx

    out = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", tx.subword_token_count(F.col("text")).alias("n")
        ).collect()
    }
    # doc 0: 13 words, all ≤4 letters except happy(5)/there(5) → 2 each
    assert out[0] == 15
    assert out[5] == 0
    # "completely different words entirely unrelated content stream":
    # ceil(10/4)+ceil(9/4)+ceil(5/4)+ceil(8/4)+ceil(9/4)+ceil(7/4)+ceil(6/4)
    assert out[2] == 3 + 3 + 2 + 2 + 3 + 2 + 2
    row = spark.createDataFrame(
        [("ab3 x-y, 12",)], ["text"]
    ).select(tx.subword_token_count(F.col("text")).alias("n")).first()
    # ab|3  x|-|y|,  1|2  → 8 pieces (digits and symbols one token each)
    assert row["n"] == 8


def test_gopher_quality_filter(spark):
    from aqueduct_core_spark.functions.text import gopher_quality_filter

    base = "alpha bravo charlie delta echo " * 8  # 40 distinct-position words
    df = spark.createDataFrame(
        [
            (1, " ".join(f"word{i:02d}" for i in range(40))),  # diverse → keep
            (2, "spam " * 40),                            # dup_word_frac 0.975
            (3, "hi"),                                    # too short
            (4, ""),                                      # empty
            (5, base),                                    # repeated phrase → high bigram
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_filter(df).collect()}
    assert out[1]["keep"] is True and out[1]["dup_word_frac"] == 0.0
    assert out[2]["keep"] is False and out[2]["dup_word_frac"] > 0.9
    assert out[3]["keep"] is False and out[3]["n_words"] == 1
    assert out[4]["keep"] is False and out[4]["n_words"] == 0
    # "echo alpha" (etc.) repeats 7x of 39 bigrams → ~0.18 > 0.05
    assert out[5]["keep"] is False and out[5]["top_bigram_frac"] > 0.05
    # doc 1: every bigram unique → top fraction = 1/39
    assert abs(out[1]["top_bigram_frac"] - round(1 / 39, 6)) < 1e-6

    # the whole filter is one projection pass: no shuffle in the plan
    plan = gopher_quality_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_exact_dedup(spark, docs):
    from aqueduct_core_spark.functions.dedup import exact_dedup

    res = exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["dup_cnt"] for r in res}
    assert by_keep[0] == 2  # docs 0 and 3
    assert 3 not in by_keep
    assert len(res) == 5


def test_dup_clusters(spark):
    from aqueduct_core_spark.functions.dedup import dup_clusters

    # two components: a chain 1-2-3-4 (given in mixed orientation, with
    # a duplicate and a self-pair) and a triangle 10-11-12
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 3), (7, 7),
         (10, 11), (11, 12), (12, 10)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["rep"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    # empty input → empty output with the right columns
    empty = dup_clusters(pairs.where(F.lit(False)))
    assert empty.columns == ["id", "rep"] and empty.count() == 0

    # long path (worst case for star rounds): 0-1-2-...-19
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], ["id_a", "id_b"]
    )
    out = dup_clusters(chain).collect()
    assert {r["id"] for r in out} == set(range(20))
    assert all(r["rep"] == 0 for r in out)


def test_dup_clusters_large_chain_bounded_plan(spark):
    """10⁴-edge chain (deep component → many star rounds): must
    converge correctly AND with a bounded physical plan — the per-round
    eager localCheckpoint truncates lineage, so the final plan's depth
    reflects ONE round, not the whole iteration history (r3 verdict
    task: label-propagation rounds on a big pair set must not grow the
    plan without bound)."""
    from aqueduct_core_spark.functions.dedup import dup_clusters

    n = 10_000
    chain = spark.range(n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = dup_clusters(chain)
    plan = out._jdf.queryExecution().executedPlan().toString()
    depth = max(
        (len(line) - len(line.lstrip())) for line in plan.splitlines() if line
    )
    assert depth < 60, f"plan depth {depth} — lineage not truncated"
    assert plan.count("\n") < 80, "plan node count grew with iterations"
    rows = out.collect()
    assert len(rows) == n + 1
    assert all(r["rep"] == 0 for r in rows)


def test_minhash_near_dup(spark, docs):
    from aqueduct_core_spark.functions.dedup import minhash_dedup

    pairs = minhash_dedup(docs.where(F.col("doc_id") != 5), threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got  # exact dup: jaccard 1.0
    assert (0, 1) in got or (1, 3) in got  # near-dup detected
    assert all({a, b} != {0, 2} for a, b in got)  # unrelated not paired


def test_simhash_candidates(spark, docs):
    from aqueduct_core_spark.functions.dedup import simhash64_df, simhash_candidates

    h = {r["id"]: r["sh"] for r in simhash64_df(docs.where(F.col("doc_id") != 5)).collect()}
    assert h[0] == h[3]
    cands = simhash_candidates(docs.where(F.col("doc_id") != 5))
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in cands.collect()}
    assert ham.get((0, 3)) == 0


def test_cosine_topk_and_knn(spark):
    from aqueduct_core_spark.functions.similarity import (
        cosine_topk,
        knn_join_bruteforce,
    )

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top = cosine_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    assert top[0]["sim"] == 1.0

    knn = knn_join_bruteforce(df, df.where(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in knn.collect()]
    assert got == [(1, 1), (4, 2)]


def test_near_dup_pairs(spark):
    """LSH-blocked embedding near-dup: exact/near duplicates must be
    found (they collide in every table); output ⊆ brute-force pairs at
    the same threshold; no self- or reversed pairs."""
    import numpy as np

    from aqueduct_core_spark.functions.similarity import near_dup_pairs

    rng = np.random.RandomState(3)
    base = rng.standard_normal((12, 8)).astype("float64")
    vecs = [(i, base[i].tolist()) for i in range(12)]
    vecs.append((12, base[0].tolist()))  # exact dup of 0
    jig = base[5] + 0.01 * rng.standard_normal(8)  # near dup of 5
    vecs.append((13, jig.tolist()))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    got = near_dup_pairs(df, threshold=0.9, dim=8, n_planes=4, n_tables=6).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 12) in pairs
    assert (5, 13) in pairs
    for a, b in pairs:
        assert a < b

    # subset of brute force at the same threshold
    def cos(x, y):
        return float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))

    brute = {
        (a, b)
        for a in range(14)
        for b in range(a + 1, 14)
        if cos(dict(vecs)[a], dict(vecs)[b]) >= 0.9 - 1e-9
    }
    assert pairs <= brute
    sims = {(r["id_a"], r["id_b"]): r["sim"] for r in got}
    assert sims[(0, 12)] == 1.0


def test_media_features(spark):
    from aqueduct_core_spark.functions.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=12)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 12
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[0]["feature"]) == 8
    # payload = ascii hexdigest (64 chars) repeated 1+i%4 times
    assert by_id[0]["n_bytes"] == 64
    # deterministic: same payload hash → same fake feature
    feats2 = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    assert feats2[3] == by_id[3]["feature"]


def test_events_cdc_mapping_matches_duckdb(spark):
    """The Spark mapping and the SQL CTE must produce identical rows."""
    import duckdb

    from aqueduct_core_spark.sources.events_cdc import load_changes, oracle

    sf = "/root/testdata/sf0.001"
    sp = (
        load_changes(spark, sf)
        .orderBy("lsn")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    du = con.execute(oracle("SELECT * FROM changes ORDER BY lsn")).fetchdf()
    assert len(sp) == len(du)
    for c in ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "event_size", "cluster_id"]:
        a = sp[c].astype(object).where(sp[c].notna(), None).tolist()
        b = du[c].astype(object).where(du[c].notna(), None).tolist()
        assert a == b, c


def test_seeded_fork_pairs_make_conv_near_dup_non_vacuous(spark):
    """The events→changes mapping seeds fork PAIRS (user 25g+7 with
    25g+8) whose transcripts are near-identical: the conversation
    near-dup query must return >0 rows (r3 verdict: it was green on
    0-vs-0), every match must be an adjacent same-group fork pair (no
    cross-group clique — the recurring g<g> token kills those), and
    jaccard must sit in the NEAR-dup band, not at exact 1.0."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    rows = e.queries()["cdc_conv_near_dup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        a, b = int(r.id_a.split("-")[1]), int(r.id_b.split("-")[1])
        assert {a % 25, b % 25} == {7, 8} and a // 25 == b // 25, (a, b)
        assert 0.5 <= r.jaccard <= 1.0


def test_lsh_giant_bucket_cap(spark):
    """A degenerate bucket (10^4 identical docs) must not explode into
    ~5·10^7 all-pairs rows: over-cap buckets switch to star pairing
    (linear in membership, cluster stays connected via the rep)."""
    from aqueduct_core_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n = 10_000
    docs = spark.range(n).selectExpr(
        "id AS doc_id", "'identical text for every single document here' AS text"
    )
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, bands=2, rows_per_band=4, max_bucket=100)
    cnt = pairs.count()
    # star topology: exactly n-1 pairs (id 0 x everyone), not n(n-1)/2
    assert cnt == n - 1, cnt
    assert pairs.agg({"id_a": "max"}).collect()[0][0] == 0
    # under the cap the result is the classic all-pairs within buckets
    small = spark.range(5).selectExpr("id AS doc_id", "'same text again and again' AS text")
    ssigs = minhash_signatures(small, num_hashes=8, shingle_k=3)
    allp = lsh_candidate_pairs(ssigs, bands=2, rows_per_band=4, max_bucket=100)
    assert allp.count() == 10  # 5*4/2
    uncapped = lsh_candidate_pairs(ssigs, bands=2, rows_per_band=4, max_bucket=0)
    assert {(r.id_a, r.id_b) for r in allp.collect()} == {
        (r.id_a, r.id_b) for r in uncapped.collect()
    }


def test_ngram_jaccard_dedup(spark, docs):
    from aqueduct_core_spark.functions.dedup import ngram_jaccard_dedup

    pairs = ngram_jaccard_dedup(
        docs.where(F.col("doc_id") != 5), threshold=0.3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in got and (1, 3) in got  # deterministic: BOTH near-dup edges
    assert all({a, b} != {0, 2} for a, b in got)  # unrelated not paired


def test_ngram_jaccard_df_cap_bounds_fanout(spark):
    from aqueduct_core_spark.functions.dedup import ngram_jaccard_dedup

    # 100 docs all sharing one degenerate common shingle ("aaa bbb ccc")
    # plus a per-doc unique tail: every pair shares ONLY the common
    # shingle, whose df (100) exceeds max_df — so the inverted index
    # drops the bucket and NO candidate (hence no 100·99/2 fan-out) is
    # generated.  Two genuine near-dups sharing a rare shingle survive.
    rows = [(i, f"aaa bbb ccc unique{i} tail{i} word{i}") for i in range(100)]
    rows += [(1000, "rare shared shingle here exactly once more"),
             (1001, "rare shared shingle here exactly once again")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ngram_jaccard_dedup(df, threshold=0.3, max_df=16).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1000, 1001) in got
    assert all(a >= 1000 for a, _ in got), "common-shingle bucket leaked pairs"


def test_chunk_docs(spark, docs):
    from aqueduct_core_spark.functions.text import chunk_docs

    out = chunk_docs(docs, size=5, overlap=2, text_col="text").toPandas()
    # empty doc produces no chunks
    assert (out["doc_id"] != 5).all()

    d0 = out[out["doc_id"] == 0].sort_values("chunk_idx")
    words = "the cat sat on the mat and it was happy to be there".split()
    # stride 3 over 13 tokens: starts 0,3,6,9 — NOT 12, whose window
    # (token 13 alone) sits entirely inside chunk 3's overlap region
    # and would duplicate already-emitted text
    assert list(d0["chunk_idx"]) == [0, 1, 2, 3]
    for i, start in enumerate(range(0, len(words) - 2, 3)):
        assert d0.iloc[i]["chunk_text"] == " ".join(words[start:start + 5])
        assert d0.iloc[i]["chunk_tokens"] == min(5, len(words) - start)
    # consecutive chunks share exactly `overlap` tokens (full windows)
    assert d0.iloc[0]["chunk_text"].split()[-2:] == d0.iloc[1]["chunk_text"].split()[:2]
    # every token is covered: concatenating de-overlapped chunks restores the doc
    rebuilt = d0.iloc[0]["chunk_text"].split()
    for _, r in d0.iloc[1:].iterrows():
        rebuilt += r["chunk_text"].split()[2:]
    assert rebuilt == words

    with pytest.raises(ValueError):
        chunk_docs(docs, size=4, overlap=4)


def test_redact_pii(spark):
    from aqueduct_core_spark.functions.text import redact_pii

    rows = [
        (0, "mail me at a.b-c_1@sub.example.org thanks"),
        (1, "call 555-123-4567 or 020-7946-0958"),
        (2, "nothing sensitive here"),
        (3, "x@y.io and 111-222-3333 both"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[0]["text"] == "mail me at <EMAIL> thanks"
    assert (out[0]["n_emails"], out[0]["n_phones"]) == (1, 0)
    assert out[1]["text"] == "call <PHONE> or <PHONE>"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (0, 2)
    assert out[2]["text"] == "nothing sensitive here"
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert out[3]["text"] == "<EMAIL> and <PHONE> both"
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 1)

    # a phone-shaped substring INSIDE an email is redacted as part of
    # the email — it must not also count as a phone redaction
    df2 = spark.createDataFrame(
        [(9, "contact 555-123-4567@example.com now")], ["doc_id", "text"]
    )
    r9 = redact_pii(df2).collect()[0]
    assert r9["text"] == "contact <EMAIL> now"
    assert (r9["n_emails"], r9["n_phones"]) == (1, 0)


def test_decontaminate_flags_ngram_overlap(spark):
    from aqueduct_core_spark.functions.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # shares ONLY the 5-gram "quick brown fox jumps over"
            # (preceded by "a", not "the") -> flagged with hits=1
            (1, "she saw a quick brown fox jumps over a fence"),
            # no shared 5-gram -> clean
            (2, "completely unrelated text about spark query planning"),
            # shares two distinct overlapping 5-grams -> hits >= 2
            (3, "quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["hits"] for r in
           decontaminate(train, bench, k=5, min_hits=1).collect()}
    assert set(got) == {1, 3}
    assert got[3] > got[1] >= 1

    # min_hits raises the bar: only the heavy overlapper survives
    strict = decontaminate(train, bench, k=5, min_hits=2).collect()
    assert {r["doc_id"] for r in strict} == {3}

    # md5 oracle variant flags the same docs with the same counts
    md5 = {r["doc_id"]: r["hits"] for r in
           decontaminate(train, bench, k=5, min_hits=1,
                         hash_method="md5").collect()}
    assert md5 == got

    # benchmark side is broadcast (no shuffle of the training scan for
    # the probe): the join must be a BroadcastHashJoin
    plan = decontaminate(train, bench, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_prepare_corpus_precedence_and_attrition(spark):
    from aqueduct_core_spark.functions.recipe import corpus_attrition, prepare_corpus

    good = ("the neural network converges smoothly when gradients remain "
            "well conditioned and every layer keeps activations bounded "
            "through normalization so training proceeds without surprises "
            "or instability anywhere")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, good),                       # kept (bucket permitting)
            (2, good),                       # exact dup of 1 -> duplicate
            (3, "short text"),               # fails min_words -> low_quality
            # duplicate AND low-quality: precedence says duplicate
            (4, "short text"),
            # contains a benchmark 5-gram but padded to pass quality
            (5, good + " alpha beta gamma delta epsilon zeta"),
        ],
        ["doc_id", "text"],
    )
    ann = prepare_corpus(docs, benchmark=bench, sample_rate_pct=100,
                         decon_k=5, hash_method="md5")
    got = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    assert got[1] is None
    assert got[2] == "duplicate"
    assert got[4] == "low_quality" or got[3] == "low_quality"
    # 3 vs 4: the min-id doc of the "short text" pair is the quality
    # drop; the other is attributed to dedup first
    assert {got[3], got[4]} == {"low_quality", "duplicate"}
    assert got[3] == "low_quality" and got[4] == "duplicate"
    assert got[5] == "contaminated"

    att = {r["stage"]: r["n_docs"] for r in corpus_attrition(ann).collect()}
    # docs 2 and 4 are the non-representative halves of the two dup pairs
    assert att == {"kept": 1, "duplicate": 2, "low_quality": 1, "contaminated": 1}

    # counts are disjoint and total: every doc appears exactly once
    assert sum(att.values()) == docs.count()

    # sampling stage: rate 0 sends every survivor to sampled_out
    ann0 = prepare_corpus(docs, benchmark=bench, sample_rate_pct=0,
                          decon_k=5, hash_method="md5")
    got0 = {r["doc_id"]: r["drop_stage"] for r in ann0.collect()}
    assert got0[1] == "sampled_out"          # kept doc now sampled away
    assert got0[2] == "duplicate"            # earlier stages unchanged


# ---------------------------------------------------------------------------
# pack_token_stream
# ---------------------------------------------------------------------------


def test_pack_token_stream_invariants(spark):
    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(3 + (i * 7) % 11))) for i in range(40)]
        + [(99, ""), (100, "   ")],  # zero-token docs pack nothing
        "doc_id long, text string",
    )
    out = pack_token_stream(docs, budget=16, n_shards=4).toPandas()

    assert set(out["doc_id"]) == set(range(40))  # empties dropped
    # per-doc spans sum to the doc's token count
    per_doc = out.groupby("doc_id").agg(n=("span_tokens", "sum"),
                                        nt=("n_tokens", "first"))
    assert (per_doc["n"] == per_doc["nt"]).all()
    # every sequence except the last is exactly full
    per_seq = out.groupby("seq_id")["span_tokens"].sum().sort_index()
    total = int(out.drop_duplicates("doc_id")["n_tokens"].sum())
    assert (per_seq.iloc[:-1] == 16).all()
    assert per_seq.iloc[-1] == total - 16 * (len(per_seq) - 1)
    # spans inside a sequence tile it without gaps or overlap
    for sid, grp in out.groupby("seq_id"):
        spans = sorted(zip(grp["seq_off"], grp["span_tokens"]))
        pos = 0
        for off, n in spans:
            assert off == pos
            pos += n
    assert out["seq_off"].min() == 0 and (out["seq_off"] + out["span_tokens"]).max() <= 16


def test_pack_token_stream_partitioning_invariant(spark):
    """The packing layout is a pure function of (ids, texts, budget,
    n_shards) — independent of the input's physical partitioning."""
    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range((i * 13) % 9 + 1))) for i in range(60)],
        "doc_id long, text string",
    )
    a = pack_token_stream(docs.coalesce(1), budget=32, n_shards=8)
    b = pack_token_stream(docs.repartition(16), budget=32, n_shards=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_token_stream_rejects_bad_params(spark):
    import pytest as _pytest

    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        pack_token_stream(docs, budget=0)
    with _pytest.raises(ValueError):
        pack_token_stream(docs, budget=8, n_shards=0)


def test_unigram_logprob_orders_typical_above_gibberish(spark):
    from aqueduct_core_spark.functions.text import unigram_logprob_scores

    common = "the cat sat on the mat and the dog sat too"
    docs = spark.createDataFrame(
        [(i, common) for i in range(20)]
        + [(100, "zxqv jkwp qqzz vvkk wwyy"), (101, ""), (102, "the cat sat")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lm_score for r in unigram_logprob_scores(docs, top_k=50).collect()}
    assert 101 not in out  # zero-token doc dropped
    assert out[102] > out[100]  # in-vocab text beats OOV gibberish
    assert out[0] > out[100]
    # identical docs → identical scores
    assert out[0] == out[19]


def test_pack_token_stream_with_text_emits_exact_spans(spark):
    from aqueduct_core_spark.functions.text import pack_token_stream

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (4, "f g h")],  # shards 0 and 4 at n_shards=8
        "doc_id long, text string",
    )
    out = pack_token_stream(docs, budget=4, n_shards=8, with_text=True).toPandas()
    # stream order (shard, doc_id): doc 0 (5 toks) then doc 4 (3 toks)
    rows = {
        (int(r.doc_id), int(r.seq_id)): (int(r.seq_off), int(r.span_tokens), r.span_text)
        for r in out.itertuples()
    }
    assert rows[(0, 0)] == (0, 4, "a b c d")
    assert rows[(0, 1)] == (0, 1, "e")       # doc 0 straddles into seq 1
    assert rows[(4, 1)] == (1, 3, "f g h")   # doc 4 fills the rest of seq 1
    # reassembling each sequence's spans in offset order gives the stream
    seq1 = " ".join(
        t for _, t in sorted(
            (rows[k][0], rows[k][2]) for k in rows if k[1] == 1
        )
    )
    assert seq1 == "e f g h"


def test_dedup_keep_best(spark):
    """Keep-best resolution: the highest-quality member of each cluster
    wins (not the smallest id); ties break to the smallest id;
    transitive clusters resolve to one keeper."""
    from aqueduct_core_spark.functions.dedup import dedup_keep_best

    from aqueduct_core_spark.functions.text import quality_score

    docs = spark.createDataFrame(
        [
            (0, "!!!! ???? ....,,,, 1234 5678"),  # alpha 0 → bottom quality
            (1, "the cat sat on the mat and it was happy to be there today"),
            (2, "the cat sat on the mat and it was happy to be there"),
            (3, "xxx"),
            (4, "xxx"),  # exact twin of 3: equal quality, tie -> 3
        ],
        ["doc_id", "text"],
    )
    # cluster A = {0,1,2} (transitive via 1), cluster B = {3,4}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], ["id_a", "id_b"]
    )
    q = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    # the formula's own argmax over cluster A (ties → smallest id)
    expect_a = min((i for i in (0, 1, 2)), key=lambda i: (-q[i], i))
    assert q[0] < q[1]  # the junk doc really is the worst

    out = {r["id"]: r for r in dedup_keep_best(docs, pairs).collect()}
    assert len(out) == 5
    assert {out[i]["rep"] for i in (0, 1, 2)} == {0}
    assert all(out[i]["keep_id"] == expect_a for i in (0, 1, 2))
    assert [out[i]["keep"] for i in (0, 1, 2)].count(True) == 1
    assert out[expect_a]["keep"] and not out[0]["keep"]
    # equal-quality twins: smallest id kept
    assert all(out[i]["keep_id"] == 3 for i in (3, 4))
    assert out[3]["keep"] and not out[4]["keep"]


def test_duplicate_spans_cross_doc_and_strip(spark):
    """Span-level exact-substring dedup: the shared paragraph is kept
    at its first-(doc_id,pos) occurrence and marked everywhere else;
    merged intervals are maximal; non-dup docs carry no span."""
    from aqueduct_core_spark.functions.dedup import duplicate_spans

    para = "the quick brown fox jumps over the lazy dog again and again tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {para} delta epsilon zeta eta theta iota"),
            (2, f"one two three four five six {para} seven eight nine ten"),
            (3, "totally unique content with no repeats whatsoever in this doc"),
            (4, f"{para} first copy then filler words and then {para} once more"),
        ],
        ["doc_id", "text"],
    )
    for method in ("xxhash64", "md5"):
        sp = {
            r["doc_id"]: r
            for r in duplicate_spans(docs, k=5, hash_method=method).collect()
        }
        # doc 1 owns the canonical copy (smallest (doc_id, pos)) — clean
        assert set(sp) == {2, 4}
        # para = 13 tokens at positions 6..18 of doc 2
        assert [(s["s"], s["e"]) for s in sp[2]["spans"]] == [(6, 19)]
        assert sp[2]["dup_tokens"] == 13
        # doc 4: BOTH copies are duplicates of doc 1's canonical
        assert sp[4]["n_spans"] == 2 and sp[4]["dup_tokens"] == 26


def test_duplicate_spans_within_doc_keeps_first(spark):
    """A within-doc repeat keeps the FIRST occurrence as canonical."""
    from aqueduct_core_spark.functions.dedup import duplicate_spans

    rep = "lorem ipsum dolor sit amet consectetur"
    docs = spark.createDataFrame(
        [(7, f"{rep} middle filler words go here {rep}")], ["doc_id", "text"]
    )
    sp = duplicate_spans(docs, k=6).collect()
    assert len(sp) == 1
    # second copy starts at token 11 (6 rep + 5 filler), 6 tokens long
    assert [(s["s"], s["e"]) for s in sp[0]["spans"]] == [(11, 17)]


def test_duplicate_spans_max_occ_skew_valve(spark):
    """Degenerate boilerplate occurring everywhere is excluded by the
    occurrence cap (the window-skew valve), while rare dups survive."""
    from aqueduct_core_spark.functions.dedup import duplicate_spans

    boiler = "all rights reserved by the site owner"
    rare = "genuinely rare duplicated sentence appears twice only"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} tail{i}") for i in range(10)]
        + [(100, f"{rare} uniqueA tailA"), (101, f"{rare} uniqueB tailB")],
        ["doc_id", "text"],
    )
    capped = duplicate_spans(docs, k=7, max_occ=5).collect()
    assert {r["doc_id"] for r in capped} == {101}
    uncapped = duplicate_spans(docs, k=7).collect()
    assert {r["doc_id"] for r in uncapped} == set(range(1, 10)) | {101}


def test_lsh_candidate_pairs_rejects_short_signatures(spark):
    """Banding past the signature end used to bucket every doc together
    per excess band (NULL slices -> one shared hash) — now a loud
    row-level error."""
    from pyspark.sql.utils import AnalysisException
    from py4j.protocol import Py4JJavaError

    from aqueduct_core_spark.functions.dedup import (
        lsh_candidate_pairs, minhash_dedup, minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", f"document body number {i} with several words") for i in range(6)],
        "doc_id string, text string",
    )
    sigs = minhash_signatures(docs, num_hashes=8)
    with pytest.raises(Exception, match="exceeds signature length"):
        lsh_candidate_pairs(sigs, bands=8, rows_per_band=4).collect()
    with pytest.raises(ValueError, match="must divide"):
        minhash_dedup(docs, num_hashes=64, bands=24)


# --------------------------------------------------------------------------
# BM25 lexical retrieval (functions/retrieval.py)
# --------------------------------------------------------------------------


def test_bm25_ranks_term_rich_docs_first(spark):
    from aqueduct_core_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha alpha alpha beta"),
            (3, "gamma delta epsilon"),
            (4, "zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["alpha", "beta"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids  # matches no term → excluded
    assert ids[0] == 2  # highest combined tf wins
    assert set(ids) == {1, 2}
    assert all(out[i]["score"] >= out[i + 1]["score"] for i in range(len(out) - 1))


def test_bm25_deterministic_across_parallelism(spark):
    from aqueduct_core_spark.functions.retrieval import bm25_topk

    rows = [
        (i, " ".join(["hash" if (i + j) % 3 == 0 else f"w{j}" for j in range(12)]))
        for i in range(60)
    ]
    outs = []
    for parts in (1, 7):
        docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(parts)
        outs.append(
            [(r["doc_id"], r["score"]) for r in bm25_topk(docs, ["hash", "w3"], k=15).collect()]
        )
    assert outs[0] == outs[1]


def test_bm25_rejects_empty_query(spark):
    import pytest as _pytest

    from aqueduct_core_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        bm25_topk(docs, [])
