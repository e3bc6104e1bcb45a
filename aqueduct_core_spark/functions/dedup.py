"""Deduplication operators for training-data pipelines.

Four tiers, cheapest → most recall, all shuffle-conscious:

- :func:`exact_dedup` — hash-groupBy on a canonical fingerprint; one
  shuffle on the 16-byte hash, never on the document text.
- :func:`minhash_signatures` / :func:`lsh_candidate_pairs` —
  MinHash + banded LSH: shingle → K minhashes → B band-buckets →
  self-join *within buckets only*.  The self-join is on the tiny
  (band, bucket-hash) key, so candidate generation is linear-ish in
  corpus size instead of O(n²).
- :func:`simhash64` — 64-bit SimHash per document (near-dup candidates
  = equal 16-bit bands, same banding trick).
- :func:`ngram_jaccard` — exact Jaccard verification on candidate
  pairs (the expensive step, run only on LSH survivors).
- :func:`ngram_jaccard_dedup` — the non-probabilistic member of the
  family: inverted shingle index with a document-frequency cap as the
  blocking key, then exact-Jaccard verify.

Everything is built-in Spark SQL expressions (xxhash64, transform,
aggregate, explode) — zero Python in the data plane.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from aqueduct_core_spark.functions.text import fingerprint, round6


def hash64(col: Column, seed: int | None = None, method: str = "xxhash64") -> Column:
    """Seeded 64-bit-ish hash of a string column, JVM-side either way.

    - ``xxhash64`` (default): full-range 64-bit, the fast production
      primitive.
    - ``md5``: the first 60 bits of md5 as a non-negative long —
      exactly reproducible in DuckDB as
      ``('0x' || substr(md5(x), 1, 15))::BIGINT``, which is what makes
      the minhash/simhash correctness oracles expressible.  Seeding is
      by suffixing ``\\x1f<seed>`` (a byte that never appears in
      normalized text).
    """
    if method == "xxhash64":
        return F.xxhash64(col, F.lit(seed)) if seed is not None else F.xxhash64(col)
    if method == "md5":
        inp = col if seed is None else F.concat(col, F.lit(f"\x1f{seed}"))
        return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash method {method!r}")


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per canonical text fingerprint.

    Map-side partial agg collapses duplicates before the shuffle; the
    shuffle key is the md5, so payload bytes move at most once.
    Returns (fp, keep_id, dup_cnt).
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# shingles / minhash / LSH
# ---------------------------------------------------------------------------

def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of normalized text (array<string>).

    Built from ``split`` + ``transform`` over index offsets —
    vectorized, no UDF.
    """
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    # short docs (< k tokens): single shingle = whole text
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(sh)
    )


#: Mersenne prime 2^31−1: the universal-hash modulus.  a·h+b stays
#: below 2^62, so the arithmetic is overflow-free ANSI BIGINT math in
#: both Spark and DuckDB.
MINHASH_P = (1 << 31) - 1


def minhash_mixers(num_hashes: int, p: int = MINHASH_P) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) pairs for the universal hash family
    hᵢ(x) = (aᵢ·x + bᵢ) mod p.  Knuth multiplicative constants keep the
    aᵢ well-spread; aᵢ ≠ 0 guaranteed.  Shared by the Spark pipeline
    and the DuckDB oracle generator so both compute identical
    signatures."""
    out = []
    for i in range(num_hashes):
        a = ((2 * i + 1) * 2654435761) % p
        b = (i * 40503 + 2147483647) % p
        out.append((a or 1, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — sig[i] = min over shingles
    of hᵢ(base(shingle)) where base is ONE string hash per shingle and
    hᵢ is the universal family (aᵢ·x + bᵢ) mod (2³¹−1).

    Two scale decisions: (1) the string bytes are hashed once, not
    ``num_hashes`` times — the per-seed work is a multiply-add in
    whole-stage codegen (measured 3× faster than 64 seeded string
    hashes); (2) explode(shingles) → hash-aggregate with ``num_hashes``
    ``min`` columns: partial (map-side) combine collapses each
    document's shingles before the shuffle, the shuffle key is the doc
    id, and codegen stays small — this scales to billions of documents
    where a nested 64-pass array expression would blow up compile time.
    """
    base = F.pmod(hash64(F.col("s"), method=hash_method), F.lit(MINHASH_P))
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"),
    ).select("id", base.alias("h"))
    mins = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_mixers(num_hashes))
    ]
    agged = shingled.groupBy("id").agg(*mins)
    return agged.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_method: str = "xxhash64",
    max_bucket: int = 1024,
) -> DataFrame:
    """Banded LSH: equal band-hash ⇒ candidate pair.

    explode to (band, bucket=hash(band slice), id) → self-join on
    (band, bucket) with id<id — the join key is 12 bytes, so the
    shuffle is tiny regardless of document size; distinct pairs out.

    **Giant-bucket cap** (``max_bucket``, 0 = unlimited): a degenerate
    corpus can put 10⁶ near-identical documents into one (band, bucket)
    — all-pairs there is 10¹² rows on a single reducer.  Buckets whose
    membership exceeds the cap switch to STAR pairing: every member is
    paired with the bucket's min-id representative only, so the pair
    count is linear in membership and the duplicate cluster stays
    connected through the representative (each member is still
    exact-Jaccard-verified against it downstream).  The trade-off,
    documented: inside an over-cap bucket, two documents that are
    near-dups of each other but NOT of the representative are no longer
    candidates from that bucket (they usually re-collide in another
    band).  Detection costs one extra aggregate + join on the same
    (band, bucket) key the self-join already shuffles on.
    """
    need = bands * rows_per_band
    # fail loud if the signatures are too short for the banding: sig
    # indices past the end yield NULL, concat_ws skips them, and every
    # document would share ONE bucket per excess band — a silent
    # all-pairs (or star-pairs) blowup.  The length lives in the data,
    # so the guard is a row-level raise inside the projection
    # (whole-stage codegen; no extra job).
    sigs = sigs.where(
        F.when(F.size(F.col("sig")) >= F.lit(need), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"lsh_candidate_pairs: bands*rows_per_band={need} "
                        "exceeds signature length "
                    ),
                    F.size(F.col("sig")).cast("string"),
                )
            )
        )
    )
    buckets = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        hash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            ),
                            method=hash_method,
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    if max_bucket:
        stats = buckets.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n"), F.min("id").alias("_rep")
        )
        tagged = buckets.join(stats, on=["band", "bucket"])
        small = tagged.where(F.col("_n") <= max_bucket).drop("_n", "_rep")
        giant_pairs = (
            tagged.where(F.col("_n") > max_bucket)
            .where(F.col("id") != F.col("_rep"))
            .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
        )
    else:
        small, giant_pairs = buckets, None

    a, b = small.alias("a"), small.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if giant_pairs is not None:
        pairs = pairs.unionByName(giant_pairs)
    return pairs.distinct()


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs ≥
    threshold.  Shingle sets are joined in (broadcast if small), and the
    set ops are ``array_intersect``/``array_union`` — JVM-side.
    """
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed("sh", "sh_a"), pairs.id_a == sh.id)
        .drop("id")
        .join(
            sh.select(F.col("id"), F.col("sh").alias("sh_b")),
            pairs.id_b == F.col("id"),
        )
        .drop("id")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        # round6 (floor(x·1e6+0.5)) rather than F.round: pure IEEE
        # arithmetic, bit-identical in DuckDB for the oracle compare
        j.withColumn("jaccard", round6(inter / union))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int = 64,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via an inverted shingle index.

    The blocking key is the shingle itself: a pair becomes a candidate
    iff it shares at least one RARE shingle (document frequency ≤
    ``max_df``).  The df cap is the scale guarantee — an inverted-index
    bucket fans out at most ``max_df²`` pairs, so a stopword-ish shingle
    appearing in 10⁶ docs never creates the 10¹²-pair reducer an
    uncapped self-join would (same skew story as
    :func:`lsh_candidate_pairs`' star cap, but preventive rather than
    corrective).  Recall loss is confined to pairs ALL of whose shared
    shingles are common; at k≥3 words a genuine near-duplicate
    essentially always shares a rare shingle.  Candidates are verified
    with exact set Jaccard (:func:`ngram_jaccard`).

    Versus :func:`minhash_dedup`: no probabilistic misses (every pair
    sharing a rare shingle is examined) at the cost of a wider candidate
    set — the right tool below ~10⁸ documents or when the near-dup
    policy must be exact.
    """
    df = spread_small_input(df, min_input_partitions)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"),
    )
    # document frequency per shingle: shingles are distinct per doc
    # (word_shingles array_distincts), so count(*) == countDistinct(id)
    # and the groupBy gets map-side partial aggregation for free.
    rare = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") <= max_df)
        .select("s")
    )
    exr = ex.join(rare, "s")
    pairs = (
        exr.alias("a")
        .join(exr.alias("b"), "s")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return ngram_jaccard(df, pairs, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# span-level exact-substring dedup (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr
# operator, expressed as a k-gram pipeline instead of a suffix array)
# ---------------------------------------------------------------------------

def _norm_tokens(col: Column) -> Column:
    """Whitespace-normalized lowercase token array — the shared
    tokenization of the shingle family (:func:`word_shingles`)."""
    return F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "xxhash64",
    max_occ: int | None = None,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Span-level exact-duplicate detection: token intervals of each
    document whose every k-token window also occurs EARLIER in the
    corpus (earlier = smaller ``(doc_id, pos)``), i.e. the repeated
    passages ExactSubstr dedup removes while keeping one canonical
    copy.  Doc-level dedup (minhash/simhash/Jaccard) misses these:
    two long documents sharing one boilerplate paragraph are nowhere
    near Jaccard-similar, yet the paragraph is verbatim training-data
    repetition.

    Mechanism (suffix-array-free, all JVM expressions):

    1. every position's k-token window hashes once
       (``posexplode`` + one string hash — n rows per n-token doc,
       same fan-out as the minhash explode);
    2. ONE window over the hash (``row_number`` by ``(doc_id, pos)``)
       marks every occurrence after the first — the canonical copy is
       the smallest ``(doc_id, pos)``, deterministic under replay;
    3. gaps-and-islands over each document's duplicate positions
       merges overlapping k-windows into maximal spans
       (``pos > lag(pos) + k - 1`` starts a new island).

    A span ``[s, e)`` is token-index based over the normalized
    tokenization; ``dup_tokens`` is the exact token count the spans
    cover.  Docs shorter than ``k`` tokens have no windows and never
    appear.  ``max_occ`` drops hashes occurring more than that many
    times — the skew valve for degenerate boilerplate (a gram in 10⁶
    docs lands its whole occurrence list in one window partition; the
    cap bounds it, mirroring ``ngram_jaccard_dedup``'s df cap).
    ``hash_method="md5"`` is the oracle-expressible variant
    (:func:`hash64`); xxhash64 is the production default.

    Returns one row per document that HAS duplicate spans:
    ``(id_col, spans: array<struct<s:int, e:int>>, n_spans,
    dup_tokens)``.
    """
    from pyspark.sql import Window

    df = spread_small_input(df, min_input_partitions)
    toks = _norm_tokens(F.col(text_col))
    n = F.size(toks)
    grams = (
        df.where(n >= k)
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
                )
            ).alias("pos", "gram"),
        )
        .select("_id", "pos", hash64(F.col("gram"), method=hash_method).alias("h"))
    )
    if max_occ is not None:
        # the skew valve must engage BEFORE the per-hash window: an
        # over-cap gram's full occurrence list in one window partition
        # is exactly the straggler the cap exists to prevent, and the
        # old post-window `_occ <= max_occ` filter paid it anyway.
        # Semantics are identical — `_occ` was the hash's TOTAL count
        # (constant per hash), so the filter always dropped over-cap
        # grams wholesale; the anti-join does the same with a hash agg
        # (map-side combine) on the key the window shuffles on anyway.
        hot = (
            grams.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .where(F.col("_occ") > max_occ)
            .select("h")
        )
        grams = grams.join(hot, on="h", how="left_anti")
    wh = Window.partitionBy("h").orderBy("_id", "pos")
    marked = grams.select(
        "_id",
        "pos",
        F.row_number().over(wh).alias("_rn"),
    ).where(F.col("_rn") > 1)

    wd = Window.partitionBy("_id").orderBy("pos")
    islands = (
        marked.withColumn(
            "_new",
            F.when(
                F.col("pos") > F.lag("pos").over(wd) + (k - 1), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("_island", F.sum("_new").over(wd))
        .groupBy("_id", "_island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
    )
    return (
        islands.groupBy("_id")
        .agg(
            F.sort_array(F.collect_list(F.struct(F.col("s"), F.col("e")))).alias("spans"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
        )
        .withColumnRenamed("_id", id_col)
    )


def spread_small_input(df: DataFrame, min_partitions: int | None) -> DataFrame:
    """Round-robin the input across ``min_partitions`` when its scan has
    fewer splits — the map side of shingle/hash pipelines is the
    dominant cost, and a small/single-row-group file would otherwise run
    it in one task while every other core idles (measured: 1.9× on the
    sf0.1 minhash, 3.4× on simhash).  At corpus scale the scan has
    thousands of natural splits and this is a no-op by the partition
    check — pass None (the default at the API level) to skip even the
    check.  The shuffle moves only the raw (id, text) rows ONCE, before
    they fan out into shingles, so it is strictly narrower than any
    downstream stage."""
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_method: str = "xxhash64",
    min_input_partitions: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: minhash → LSH candidates → exact
    Jaccard verify.  Returns verified near-duplicate pairs.
    ``min_input_partitions``: see :func:`spread_small_input`."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) — "
            "a remainder would silently ignore trailing hashes"
        )
    df = spread_small_input(df, min_input_partitions)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, hash_method)
    pairs = lsh_candidate_pairs(sigs, bands, num_hashes // bands, hash_method)
    return ngram_jaccard(df, pairs, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# duplicate clusters (connected components)
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components over near-duplicate pairs → one cluster
    representative per document: the step that turns pairwise dedup
    output into keep/drop decisions.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log² n) rounds, each round is two shuffle joins on the node id —
    no driver-side adjacency, no ``collect_list`` (a celebrity node
    with 10⁸ neighbors would OOM a grouped-list formulation; here its
    neighbors stay as rows).  Lineage is truncated with an eager
    ``localCheckpoint`` per round so the plan doesn't grow with
    iterations (on a multi-node cluster use a reliable checkpoint dir;
    the algorithm is unchanged).

    Input: (id_a, id_b) pairs (any orientation, self-pairs ignored).
    Output: (id, rep) for every node appearing in a pair, where rep is
    the minimum id of the node's component (rep rows included with
    id = rep).  Singleton documents never enter ``pairs`` and are
    implicitly their own representative.
    """
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("hi"),
            F.least("id_a", "id_b").alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    if not edges.take(1):
        return edges.select(F.col("hi").alias("id"), F.col("lo").alias("rep"))

    def _digest(e: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: order-insensitive and can't overflow under
        # ANSI arithmetic (sum of 2⁶³-range hashes overflows fast).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    prev = _digest(edges)
    for _ in range(max_rounds):
        # large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u})
        sym = edges.select("hi", "lo").unionByName(
            edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )
        mins = sym.groupBy("hi").agg(F.min("lo").alias("mn")).select(
            F.col("hi").alias("u"), F.least(F.col("mn"), F.col("hi")).alias("m")
        )
        edges = (
            sym.join(mins, sym.hi == mins.u)
            .where(F.col("lo") > F.col("hi"))  # neighbors larger than u
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: per node, all ≤-neighbors re-link to the min
        mins2 = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        star = edges.join(mins2, on="hi")
        edges = (
            star.where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(star.select("hi", F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        cur = _digest(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"dup_clusters did not converge in {max_rounds} rounds")

    reps = edges.select(F.col("lo").alias("id"), F.col("lo").alias("rep")).distinct()
    return (
        edges.select(F.col("hi").alias("id"), F.col("lo").alias("rep"))
        .unionByName(reps)
        .distinct()
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_bits(hash_method: str) -> int:
    """Usable hash bits per method (md5 variant carries 60 bits)."""
    return 60 if hash_method == "md5" else 64


def simhash64_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, sh) — 64-bit SimHash: per-bit majority vote over shingle
    hashes (60-bit under ``hash_method='md5'``).

    explode(shingles) → one hash-agg with one conditional-sum column per
    bit (bit i of each shingle hash) + a count; the bit is set iff
    ones·2 > total.  Map-side partial agg keeps the shuffle at one row
    per (doc, partition) — the same scale shape as minhash.
    """
    nbits = simhash_bits(hash_method)
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"),
    ).select("id", hash64(F.col("s"), method=hash_method).alias("h"))
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(nbits)
    ]
    agged = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *sums)
    acc = F.lit(0).cast("long")
    for i in range(nbits):
        bit = F.when(F.col(f"b{i}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc.bitwiseOR(F.shiftleft(bit, i))
    return agged.select("id", acc.alias("sh"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int | None = None,
    hash_method: str = "xxhash64",
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Near-dup candidates: documents sharing any ``band_bits``-wide
    simhash band.  ``band_bits`` defaults per hash method (16 for the
    64-bit xxhash variant, 15 for the 60-bit md5 variant) and must
    divide the hash width — a remainder would silently drop the top
    bits from banding and weaken recall.
    ``min_input_partitions``: see :func:`spread_small_input`."""
    df = spread_small_input(df, min_input_partitions)
    nbits = simhash_bits(hash_method)
    if band_bits is None:
        band_bits = 16 if nbits == 64 else 15
    if nbits % band_bits:
        raise ValueError(
            f"band_bits={band_bits} must divide the {nbits}-bit simhash"
        )
    h = simhash64_df(df, text_col, id_col, hash_method=hash_method)
    nb = nbits // band_bits
    mask = (1 << band_bits) - 1
    bands = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming"))


# ---------------------------------------------------------------------------
# test-set decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "xxhash64",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag training documents sharing at
    least ``min_hits`` distinct ``k``-word shingles with ANY benchmark
    document — the n-gram-overlap rule the published LLM training
    pipelines use for eval decontamination (word 8–13-grams are the
    customary window).

    Returns ``(doc_id, hits)`` for contaminated training docs only;
    ``hits`` = number of distinct shingles the doc shares with the
    benchmark union (per-doc shingles are distinct by construction —
    :func:`word_shingles` — so the count is exact up to hash
    collisions, and the md5-60-bit ``hash_method`` makes the whole
    operator reproducible in the DuckDB oracle).

    100 TB shape: both sides reduce to 8-byte shingle hashes before
    anything shuffles — document text never moves.  The benchmark side
    (typically a few thousand eval documents → at most a few million
    distinct shingle hashes) is explicitly broadcast by default, so the
    training scan is ONE pass with a map-side hash-set probe and the
    only shuffle is the per-doc count aggregation (map-side partial).
    For a benchmark too large to broadcast, pass
    ``broadcast_benchmark=False`` and the join hash-partitions on the
    8-byte key instead.
    """
    sh = word_shingles(F.col(text_col), k)
    bench = (
        benchmark.select(F.explode(sh).alias("s"))
        .select(hash64(F.col("s"), method=hash_method).alias("h"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    train = docs.select(F.col(id_col), F.explode(sh).alias("s")).select(
        id_col, hash64(F.col("s"), method=hash_method).alias("h")
    )
    return (
        train.join(bench, "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hits"))
        .where(F.col("hits") >= int(min_hits))
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware duplicate resolution: within each near-dup cluster
    keep the HIGHEST-quality member, not the smallest id — what a
    pretraining pipeline actually wants when near-duplicates differ
    (keep the clean copy, drop the boilerplate-wrapped one).

    Clusters come from :func:`dup_clusters` (connected components over
    the pairs); each member is scored with
    :func:`aqueduct_core_spark.functions.text.quality_score` and the
    winner is the struct-max of ``(quality, -id)`` per cluster —
    deterministic tie-break to the smallest id, one hash aggregation
    with map-side combine (never a per-cluster collect).  Returns
    ``(id, rep, keep_id, keep)`` for every clustered document;
    singletons never enter ``pairs`` and are implicitly kept.
    """
    from pyspark.sql import types as T

    from aqueduct_core_spark.functions.text import quality_score

    # the (quality, -id) struct-max tie-break needs a numeric id; fail
    # loud rather than mis-ordering (or NULLing) a string id's negation
    id_type = docs.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"dedup_keep_best requires a numeric {id_col!r} "
            f"(got {id_type.simpleString()}); map string ids to a "
            "numeric surrogate first"
        )

    clusters = dup_clusters(pairs)  # (id, rep)
    q = docs.select(
        F.col(id_col).alias("id"),
        quality_score(F.col(text_col)).alias("q"),
    )
    members = clusters.join(q, "id")
    best = (
        members.groupBy("rep")
        .agg(
            F.max(
                F.struct(
                    F.col("q"), (-F.col("id")).cast("long").alias("nid")
                )
            ).alias("b")
        )
        .select("rep", (-F.col("b.nid")).cast("long").alias("keep_id"))
    )
    return members.join(best, "rep").select(
        "id",
        "rep",
        "keep_id",
        (F.col("id") == F.col("keep_id")).alias("keep"),
    )
