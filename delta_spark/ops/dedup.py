"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale shapes:
  * exact — one hash-groupBy (map-side partial agg; no window, no skew)
  * jaccard_pairs — shingle-explode → equi-join on shingle → per-pair
    count; frequent-shingle skew is capped with a document-frequency
    cutoff (a shingle present in >df_cut docs carries no dedup signal
    but quadratic join cost). This is the *exact* algorithm; at 100 TB
    it's the verifier stage after LSH candidate generation.
  * minhash_lsh_pairs — k md5-derived min-hashes per doc (one groupBy),
    banded into b buckets → bucket equi-join → candidates → exact
    jaccard verification. The classic shingle→minhash→band→bucket-join
    pipeline; join keys are band hashes, so the shuffle is O(docs·b).
  * simhash — per-word md5-derived 32-bit hashes; bit-majority sign
    aggregation in one groupBy, hamming-close pairs via band join.
  * duplicate_spans — ExactSubstr (arXiv:2107.06499) as rolling k-gram
    hashes → duplicate-gram semi-join → per-doc island merge; shuffle
    ∝ corpus tokens, per-doc window state bounded.
  * remove_duplicate_spans — the paper's remediation step: cut the
    detected spans out of the text (JVM array ops, spans broadcast to
    their docs by join; idempotent — re-detection on cleaned text
    finds nothing).

All hashes derive from md5 (first 15 hex chars → bigint) so results
are engine-independent and DuckDB-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# md5-derived 60-bit hash, identical in Spark and DuckDB:
#   spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
#   duckdb: CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)


def md5_hash64(col: Column, salt: str = "") -> Column:
    s = F.concat(col, F.lit("#" + salt)) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# Input bytes per expansion slot for the size-aware spread ahead of
# the shingle/gram explodes. The expansion is CPU-DENSE per input byte
# (~0.3 s/MB serial: k zip_with passes + md5 per gram), so slots are
# small: a single-file 18 MB / 150k-doc corpus ran duplicate_spans
# cold in 55-62 s unspread vs 7-14 s spread to cluster width
# (interleaved A/B; an 8 MB/slot gate produced width 3 and did NOT
# rescue it), while a 584 KB corpus spread to all 32 cores paid ~0.5 s
# of per-task scheduling on every read — 512 KB/slot gives that
# tiny corpus width 2 (no tax) and anything past ~16 MB full width.
EXPANSION_BYTES_PER_SLOT = 512 * 1024


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative row per identical text: a
    single hash-groupBy with min_by (map-side partial agg, no window,
    no self-join — one shuffle keyed on the content hash)."""
    cols = df.columns
    h = F.md5(F.col(text_col))
    rep = (df.withColumn("__h", h)
             .groupBy("__h")
             .agg(F.expr(f"min_by(struct({', '.join(cols)}), {id_col})").alias("__r"))
             .select(*[F.col(f"__r.{c}").alias(c) for c in cols]))
    return rep


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle).

    Built by zipping the word array with its shifted selves (n-1
    zip_with passes, simple concat lambdas) — ~2.5× faster than
    per-index `slice()` inside transform(), which copies a subarray per
    shingle. Trailing partial n-grams become NULL (zip padding) and are
    filtered.

    The null filter on (id, shingle) is stated explicitly: a caller
    that joins on either column makes Spark infer the same `isnotnull`
    filters on its join sides only, and branches that differ by an
    inferred filter cannot share one exchange — with the filter written
    here every branch over the expansion has the same subtree, so the
    expansion runs once per query (exchange reuse)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    acc = w
    for j in range(1, n):
        shifted = F.slice(w, j + 1, F.size(w))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(acc, lambda x: x.isNotNull())
    return (df.select(F.col(id_col), F.explode(sh).alias("shingle"))
              .filter(F.col(id_col).isNotNull()
                      & F.col("shingle").isNotNull())
              .distinct())


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.5,
                  df_cut: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.
    Returns (id_a, id_b, jaccard) with id_a < id_b. The shingle
    expansion feeds the cardinality and both join sides; they share
    its exchange, so it runs once per query."""
    from delta_spark.ops.util import spread_to_width

    # same expansion spread as minhash_lsh_pairs (guide §2.6)
    sh = shingles(spread_to_width(df, EXPANSION_BYTES_PER_SLOT),
                  text_col, id_col, n)
    if df_cut is not None:
        freq = sh.groupBy("shingle").count().filter(F.col("count") <= df_cut)
        sh = sh.join(freq.select("shingle"), "shingle", "left_semi")
    card = sh.groupBy(id_col).agg(F.count("*").alias("card"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count("*").alias("common")))
    ca = card.select(F.col(id_col).alias("id_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col(id_col).alias("id_b"), F.col("card").alias("card_b"))
    return (common.join(ca, "id_a").join(cb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("common") / (F.col("card_a") + F.col("card_b") - F.col("common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    min_docs: int = 2,
                    keep_first: bool = False) -> DataFrame:
    """Exact duplicate substring spans — the ExactSubstr operator of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., arXiv:2107.06499), re-expressed for Spark: instead of a
    monolithic suffix array, emit a rolling window of k-token grams per
    document, find grams shared by ≥ `min_docs` distinct documents
    (one hash-keyed groupBy with map-side partial aggregation), and
    merge each document's overlapping/adjacent duplicated windows into
    maximal spans with window-function island detection.

    Returns (id, span_start, span_end, n_windows): 1-based token
    indices, inclusive; every token in [span_start, span_end] is part
    of some k-gram that also appears in another document. With the
    default `keep_first=False` every occurrence of duplicated text is
    spanned (so feeding all spans to remove_duplicate_spans deletes
    ALL copies); `keep_first=True` exempts the canonical occurrence of
    each duplicated gram — the minimum (id, position) — so exactly one
    copy survives remediation, the retention policy of the paper.

    Scale shape: the gram expansion is JVM-side (zip_with + posexplode,
    no Python), evaluated once by each of its two readers (the
    duplicate-gram count and the join back); the duplicate-gram filter
    joins on the gram hash (shuffle ∝ corpus token count,
    partial-agg'd), and the island merge windows by document id —
    per-partition state is bounded by one document's duplicated-window
    count. No driver materialization at any stage, so the plan holds
    at 100 TB with executors sized for ordinary shuffle traffic."""
    from delta_spark.ops.util import spread_to_width

    # a one-split corpus runs the gram expansion as a single serial
    # task (measured 2.8 s vs 1.4 s at sf0.1 cold; guide §2.6)
    df = spread_to_width(df, EXPANSION_BYTES_PER_SLOT)
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    # element j (0-based) of `acc` = the k-gram starting at token j+1;
    # trailing partials become NULL via zip padding (same trick as
    # shingles() above)
    acc = w
    for j in range(1, k):
        shifted = F.slice(w, j + 1, F.size(w))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = (df.select(F.col(id_col).alias("id"),
                       F.posexplode(acc).alias("pos0", "gram"))
               .filter(F.col("gram").isNotNull())
               .select("id", (F.col("pos0") + 1).alias("i"),
                       F.md5("gram").alias("h")))
    duph = (grams.groupBy("h")
            .agg(F.countDistinct("id").alias("nd"),
                 F.min(F.struct("id", "i")).alias("__keep"))
            .filter(F.col("nd") >= min_docs)
            .select("h", "__keep"))
    dupw = grams.join(duph, "h").select(
        "id", "i",
        ((F.col("id") == F.col("__keep.id"))
         & (F.col("i") == F.col("__keep.i"))).alias("__is_keep"))
    if keep_first:
        dupw = dupw.filter(~F.col("__is_keep"))
    # (id, i) is unique in `grams` and `h` is unique in `duph`, so the
    # inner join preserves uniqueness — no distinct needed
    dupw = dupw.select("id", "i")
    from pyspark.sql import Window
    byid = Window.partitionBy("id").orderBy("i")
    prev = F.lag("i").over(byid)
    islands = (dupw
               .withColumn("new_island",
                           F.when(prev.isNull() | (F.col("i") - prev > k),
                                  F.lit(1)).otherwise(F.lit(0)))
               .withColumn("island", F.sum("new_island").over(byid)))
    return (islands.groupBy("id", "island")
            .agg(F.min("i").alias("span_start"),
                 (F.max("i") + k - 1).alias("span_end"),
                 F.count("*").alias("n_windows"))
            .select("id", "span_start", "span_end", "n_windows"))


def remove_duplicate_spans(df: DataFrame, spans: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """The remediation half of ExactSubstr (arXiv:2107.06499): given
    `spans` from duplicate_spans() — (id, span_start, span_end) in
    1-based token indices — rebuild each document's text with the
    spanned tokens cut out. Documents without spans pass through
    untouched. This removes EVERY span it is given: to retain one
    copy of each duplicated substring (the paper's policy), build the
    spans with duplicate_spans(..., keep_first=True), which exempts
    the canonical occurrence per duplicated gram.

    All JVM-side: spans aggregate to one array per doc (bounded by the
    doc's own span count), a LEFT join brings them to the text, and a
    filter-over-token-positions + array_join rebuilds the string —
    O(tokens × spans) per row, no Python in the row path. Adds
    `n_tokens_removed`; other columns pass through."""
    agg = (spans.select(F.col("id").alias(id_col),
                        F.col("span_start").cast("long").alias("span_start"),
                        F.col("span_end").cast("long").alias("span_end"))
           .groupBy(id_col)
           .agg(F.collect_list(F.struct("span_start", "span_end"))
                .alias("__spans")))
    out = df.join(agg, id_col, "left")
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    keep = F.filter(
        F.zip_with(w,
                   F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1))),
                   lambda tok, i: F.struct(tok.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.coalesce(F.col("__spans"),
                       F.expr("CAST(array() AS array<struct<"
                              "span_start:long,span_end:long>>)")),
            lambda sp: (s["i"] >= sp["span_start"])
            & (s["i"] <= sp["span_end"])))
    return (out
            .withColumn("n_tokens_removed",
                        F.size(w) - F.size(keep))
            .withColumn(text_col,
                        F.array_join(F.transform(keep, lambda s: s["t"]),
                                     " "))
            .drop("__spans"))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3, k: int = 32, _shingles: DataFrame | None = None,
                       independent: bool = False) -> DataFrame:
    """k-permutation MinHash signature per document: one shingle
    explode, k min-aggregations in a single groupBy (map-side combine,
    all JVM-side).

    Default family: h_i = (a_i·h0 + b_i·h1 + c_i) mod 2^61-1 over TWO
    md5 base hashes — pairwise-independent, 2 md5 + k multiply-adds
    per shingle. Pairwise independence is cheap but its minima deviate
    slightly from the ideal s^r collision law (measured: ~1e-3–1e-4
    missed-pair rate near the threshold on 10⁴-doc corpora).
    `independent=True` uses k fully independent salted-md5 hashes
    instead (k md5s per shingle): the textbook recall bound holds, for
    ~k/2× the hashing cost — the right trade when downstream asserts
    exact parity with a brute-force oracle."""
    from delta_spark.ops.util import spread_to_width

    m31 = (1 << 31) - 1
    base = (_shingles if _shingles is not None
            else shingles(spread_to_width(df, EXPANSION_BYTES_PER_SLOT),
                        text_col, id_col, n))
    if independent:
        sh = base.select(
            F.col(id_col),
            *[md5_hash64(F.col("shingle"), f"mh{i}").alias(f"__p{i}") for i in range(k)])
        return sh.groupBy(id_col).agg(
            *[F.min(F.col(f"__p{i}")).alias(f"mh_{i}") for i in range(k)])
    sh = (base
          .withColumn("__h0", F.pmod(md5_hash64(F.col("shingle")), F.lit(m31)))
          .withColumn("__h1", F.pmod(md5_hash64(F.col("shingle"), "perm"), F.lit(m31))))
    p = (1 << 61) - 1
    rng_a = [((2 * i + 1) * 0x9E3779B9) % (1 << 29) | 1 for i in range(k)]
    rng_b = [((i + 7) * 0xC2B2AE3D) % (1 << 29) | 1 for i in range(k)]
    rng_c = [(i * 0x165667B1 + 0x27D4EB2F) % m31 for i in range(k)]
    aggs = [
        F.min(F.pmod(F.col("__h0") * F.lit(rng_a[i]) + F.col("__h1") * F.lit(rng_b[i])
                     + F.lit(rng_c[i]), F.lit(p))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, k: int = 32, bands: int = 16,
                      threshold: float = 0.5,
                      independent: bool = False) -> DataFrame:
    """MinHash→LSH candidate pairs, exactly verified: band the k-row
    signature into `bands` buckets, equi-join on (band, bucket-hash),
    then compute TRUE jaccard on the candidates only. Output matches
    jaccard_pairs wherever LSH recall reaches (r = k/bands rows/band →
    P(candidate) = 1-(1-s^r)^bands; the bound is exact only with
    `independent=True` hashing — see minhash_signatures). The three
    readers of the shingle expansion in the exact verification share
    its exchange; the signatures expand on their own (their min
    aggregates let Spark drop the shingle distinct, so that subtree
    differs)."""
    from delta_spark.ops.util import spread_to_width

    assert k % bands == 0
    r = k // bands
    # parallelize the shingle expansion of a one-split corpus (guide §2.6)
    sh = shingles(spread_to_width(df, EXPANSION_BYTES_PER_SLOT),
                  text_col, id_col, n)
    sig = minhash_signatures(df, text_col, id_col, n, k, _shingles=sh,
                             independent=independent)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * r + j}").cast("string") for j in range(r)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("_", *parts)).alias("bucket")))
    banded = (sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb"))
              .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")))
    l = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    rgt = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (l.join(rgt, ["band", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    # exact verification on candidate pairs ONLY: expand each pair by
    # the left doc's shingles, equi-join the right side on (id, shingle)
    # — cost is O(candidate_pairs · shingles/doc), independent of the
    # corpus-wide shingle co-occurrence volume (unlike a full self-join,
    # which would re-do the exact-jaccard work LSH exists to avoid)
    card = sh.groupBy(id_col).agg(F.count("*").alias("card"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b2 = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (cands.join(a, "id_a")
              .join(b2, ["id_b", "shingle"])
              .groupBy("id_a", "id_b").agg(F.count("*").alias("common")))
    ca = card.select(F.col(id_col).alias("id_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col(id_col).alias("id_b"), F.col("card").alias("card_b"))
    return (common.join(ca, "id_a").join(cb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("common") / (F.col("card_a") + F.col("card_b") - F.col("common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """Per-document SimHash over word unigrams: each distinct word
    contributes ±1 per bit position from its md5-derived hash; the
    signature takes the sign of each bit-sum. One explode + one groupBy
    with `bits` conditional sums."""
    words = (df.select(F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
             .distinct()
             .withColumn("h", md5_hash64(F.col("w"))))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = words.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.alias("simhash"))

def connected_components(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iterations: int = 50) -> DataFrame:
    """Connected components over an undirected pair graph →
    `(id, cluster_id)` with `cluster_id` = the minimum node id in the
    component. This is the stage between near-duplicate *pairs*
    (jaccard_pairs / minhash_lsh_pairs / similarity.near_duplicates)
    and per-cluster actions like "keep one document per duplicate
    cluster" — pairs alone under-delete when duplicates chain
    (a~b, b~c but not a~c).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).
    Each round is two groupBy-min + join passes over the edge set —
    fully distributed, no driver-side graph, no collect — and the
    edge count never grows past the input size. Convergence is
    O(log^2 n) rounds worst-case; near-dup graphs (tiny cluster
    diameter) converge in 2-3. Lineage is truncated per round with
    localCheckpoint so the iterated plan stays O(1) deep and the
    convergence-check anti-join reads materialized partitions.

    Returns one row per node that appears in `pairs` (singletons are
    simply absent — callers keep them, see dedup_by_cluster).
    """
    e = (pairs.selectExpr(f"CAST({src} AS BIGINT) AS a", f"CAST({dst} AS BIGINT) AS b")
              .filter("a IS NOT NULL AND b IS NOT NULL AND a <> b")
              .selectExpr("greatest(a, b) AS hi", "least(a, b) AS lo")
              .distinct()
              .localCheckpoint(eager=True))
    for _ in range(max_iterations):
        # large-star: connect every strictly-larger neighbor of u to
        # min(N(u) ∪ {u}). Smaller-neighbor edges re-emerge from the
        # other endpoint's group, so connectivity is preserved.
        both = (e.selectExpr("hi AS u", "lo AS v")
                 .unionAll(e.selectExpr("lo AS u", "hi AS v")))
        m_large = (both.groupBy("u").agg(F.min("v").alias("mn"))
                   .selectExpr("u", "least(u, mn) AS m"))
        large = (both.join(m_large, "u")
                     .where("v > u")
                     .selectExpr("v AS hi", "m AS lo")
                     .distinct())
        # small-star: connect u and all its (≤ u) neighbors to their min.
        m_small = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (large.join(m_small, "hi")
                      .where("lo <> m")
                      .selectExpr("lo AS hi", "m AS lo")
                      .unionAll(m_small.selectExpr("hi", "m AS lo"))
                      .distinct())
        new_e = small.localCheckpoint(eager=True)
        # fixed point ⇔ same distinct edge set: equal count + empty
        # one-sided difference (both sides are distinct already)
        if new_e.count() == e.count() and new_e.subtract(e).isEmpty():
            return (new_e.selectExpr("hi AS id", "lo AS cluster_id")
                    .unionByName(new_e.selectExpr("lo AS id", "lo AS cluster_id"))
                    .distinct())
        e = new_e
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds; "
        "the alternating algorithm needs O(log^2 n) — raise max_iterations")


def dedup_by_cluster(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                     src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Keep exactly one representative (the minimum-id member) per
    near-duplicate cluster: resolve `pairs` to components, then
    anti-join the non-representative members out of `df`. Documents in
    no pair are singletons and survive untouched. One extra shuffle on
    `id_col` beyond connected_components."""
    cc = connected_components(pairs, src=src, dst=dst)
    drop = cc.where("id <> cluster_id").selectExpr(f"id AS {id_col}")
    return df.join(drop, id_col, "left_anti")
