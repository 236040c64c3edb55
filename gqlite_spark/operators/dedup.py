"""Document deduplication operators for large-scale training-data pipelines.

Beyond-reference capability (driver north star): exact dedup, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup — all expressed with
built-in DataFrame ops (no Python row loops), deterministic (md5-derived
hashes, no RNG), and shuffle-disciplined:

- shingling/explode is a narrow map; the only wide ops are the groupBys on
  (doc, shingle) and the candidate-pair joins, all keyed well for AQE;
- MinHash+LSH bounds the candidate-pair join to same-band buckets (the
  classic band trick), so the O(n²) verify collapses to near-linear at 100 TB;
- exact verification joins only candidate pairs, never the full cross
  product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import dot_sql, sq_norm_sql

# MinHash configuration: 16 hash functions in 4 bands of 4 rows.
# P(candidate | jaccard=s) = 1-(1-s^4)^4 → ~0.97 at s=0.8, ~0.3 at s=0.4.
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


def _shingles_expr(text_col: str, n: int = 3):
    """Distinct character n-gram shingles of a string column (built-ins only:
    sequence + transform + array_distinct — JVM-side, codegen-friendly).
    A text shorter than ``n`` is one whole-text shingle."""
    # substr(text, i, n) for i in 1..max(len-n+1, 1), distinct
    return F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> substring({text_col}, i, {n}))"))


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3, unit: str = "char") -> DataFrame:
    """(id, shingle) exploded distinct shingle table; unit ∈ {char, word}.

    No DataFrame-level distinct: array_distinct inside the shingle
    expression already dedups per document, so (id, s) pairs are unique by
    construction — adding .distinct() would be a full extra shuffle.

    Word mode tokenizes in a separate projection first: referencing
    ``split(text)`` inside the transform lambda would re-split the document
    once per shingle index (O(words²) per doc)."""
    if unit == "char":
        return df.select(F.col(id_col).alias("id"),
                         F.explode(_shingles_expr(text_col, n)).alias("s"))
    toks = df.select(F.col(id_col).alias("id"),
                     F.split(F.col(text_col), " ").alias("_toks"))
    sh = F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))"))
    return toks.select("id", F.explode(sh).alias("s"))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one representative (min id) per distinct
    text + duplicate count.  Single hash-groupBy shuffle; at 100 TB the md5
    pre-hash keeps the shuffle key small (16 bytes vs full document)."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.min(F.col(id_col)).alias("representative"),
                 F.count("*").alias("n_copies")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5, unit: str = "char",
                        max_df: "int | None" = None) -> DataFrame:
    """n-gram Jaccard similarity pairs (a < b, jaccard ≥ threshold).

    Shingle-blocked join: only pairs sharing ≥1 (kept) shingle are
    compared; the Jaccard itself is always computed from the FULL shingle
    sets (array_intersect over per-doc sets), so emitted values are exact.
    Output: (doc_a, doc_b, jaccard) rounded to 4 decimals.

    ``max_df`` is the hot-shingle skew guard: a blocking shingle occurring
    in k documents yields k²/2 candidate pairs, so one stop-word 3-gram in
    10⁴ docs costs 5·10⁷ candidates.  Shingles with document frequency >
    ``max_df`` are excluded from CANDIDATE GENERATION only.  Precision
    stays exact; recall drops only for pairs whose every shared shingle is
    hot — a pair at threshold t shares ≥ t/(1+t) of its shingle union, so
    real near-dups virtually always share rarer shingles; corpora where
    they don't belong on :func:`minhash_lsh_pairs`.  Default None = fully
    exact blocking (the SQL-oracle configuration).
    """
    sh = shingles(df, id_col, text_col, n, unit).select(
        "id", F.xxhash64("s").alias("hs"))
    if _plan_bytes(df) > CACHE_INPUT_BYTES:
        sh = sh.cache()
    block = sh
    if max_df is not None:
        dfreq = sh.groupBy("hs").agg(F.count("*").alias("_df"))
        block = sh.join(dfreq.filter(F.col("_df") <= max_df), "hs")
    a, b = block.alias("a"), block.alias("b")
    cand = (a.join(b, (F.col("a.hs") == F.col("b.hs")) &
                   (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("doc_a"),
                    F.col("b.id").alias("doc_b")).distinct())
    dsets = sh.groupBy("id").agg(F.collect_list("hs").alias("S"))
    sa = dsets.select(F.col("id").alias("doc_a"), F.col("S").alias("Sa"))
    sb = dsets.select(F.col("id").alias("doc_b"), F.col("S").alias("Sb"))
    c = F.size(F.array_intersect("Sa", "Sb"))
    jac = c / (F.size("Sa") + F.size("Sb") - c)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (parquet scans give
    real file sizes).  Unknown → assume huge, so the caller takes the
    cache-conservative path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


# Below this input size the shingle cache costs more (job-barrier
# materialization + row serialization) than recomputing the subtree.
# Measured on local[32]: cache=False wins 5.4s→1.0s at 5k parquet docs,
# 7.4s→2.3s at 50k docs, 10.7s→3.9s at 200k docs — recompute is one extra
# in-memory scan + explode, while the cache barrier serializes the full
# multi-million-row shingle table before ANY downstream stage starts.  The
# crossover only arrives when the corpus scan itself is expensive (remote
# object-store I/O at cluster scale) — hence a high threshold; cluster
# deployments reading 100 TB should pass cache=True explicitly.
CACHE_INPUT_BYTES = 256 << 20


def hashed_shingles(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    unit: str = "word") -> DataFrame:
    """(id, hs) shingle table with each shingle pre-hashed to a LONG
    (xxhash64).  Every downstream stage — signature build, band keys,
    intersection counts — operates on fixed 8-byte keys instead of shingle
    strings: smaller cache, cheaper shuffles, faster joins.  Collisions
    (~2⁻⁶⁴ per in-document pair) are negligible for jaccard counting."""
    return shingles(df, id_col, text_col, n, unit).select(
        "id", F.xxhash64("s").alias("hs"))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = NUM_HASHES,
                       unit: str = "word",
                       shingle_df: "DataFrame | None" = None) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature per document.

    Hash family: the shingle string is xxhashed ONCE; family member i is
    xxhash64(hs, i) over the resulting 8-byte value — k fixed-width hashes
    instead of k string hashes.  One groupBy with k partial-aggregating
    mins (map-side combine keeps the shuffle at one row per (doc,
    partition)).  Pass a cached ``shingle_df`` from
    :func:`hashed_shingles` to share the explode with other stages."""
    sh = shingle_df if shingle_df is not None else hashed_shingles(
        df, id_col, text_col, n, unit)
    hashed = sh.select("id", *[F.xxhash64("hs", F.lit(i)).alias(f"h{i}")
                               for i in range(num_hashes)])
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.7,
                      num_hashes: int = NUM_HASHES,
                      num_bands: int = NUM_BANDS,
                      unit: str = "word",
                      max_bucket: int = 2000,
                      cache: "bool | None" = None) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    The LSH banding prunes the candidate space (near-linear in corpus
    size); every surviving candidate is verified with its TRUE n-gram
    Jaccard, so precision is exact and only recall depends on the banding.
    Output: (doc_a, doc_b, jaccard).

    Plan shape: ONE groupBy on (band, band_key) collects each bucket's ids
    and generates in-bucket pairs by a bounded double-explode — this fuses
    the r1 window-count bucket guard and band self-join (two shuffles of
    the banded table + a join) into a single shuffle.  Band keys are
    xxhash64 of the band's signature slice (no md5 string build).

    ``max_bucket`` guards the quadratic candidate blowup from degenerate
    buckets (e.g. clusters of byte-identical documents): buckets larger
    than the cap are skipped here — byte-identical clusters are exactly
    what ``exact_duplicates`` reports at hash-groupBy cost, so the split
    keeps the whole pipeline near-linear.  Set max_bucket=None to disable.
    """
    rows = num_hashes // num_bands
    # cost-based caching: the shingle table feeds two subtrees (signature
    # build, verify) and the candidate pipeline feeds two (candidate docs,
    # intersection).  For big corpora cache both — recomputation means a
    # second full corpus scan and signature shuffle; for small inputs the
    # cache materialization barriers cost more than recompute (~2x bench).
    big = cache if cache is not None else _plan_bytes(df) > CACHE_INPUT_BYTES
    sh = hashed_shingles(df, id_col, text_col, n, unit)
    if big:
        sh = sh.cache()
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, unit,
                             shingle_df=sh)
    bkeys = sig.select("id", *[
        F.xxhash64(*[f"h{j}" for j in range(bi * rows, (bi + 1) * rows)])
        .alias(f"bk{bi}") for bi in range(num_bands)])
    stack_args = ", ".join(f"{bi}, bk{bi}" for bi in range(num_bands))
    allbands = bkeys.selectExpr(
        "id", f"stack({num_bands}, {stack_args}) AS (band, bkey)")
    buckets = (allbands.groupBy("band", "bkey")
               .agg(F.collect_list("id").alias("ids"))
               .filter(F.size("ids") >= 2))
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # materialize the candidate-bucket table on BIG inputs (r15): it
    # feeds BOTH the pair generation and the candidate-doc restriction
    # below, and the executed plan showed NO runtime exchange reuse
    # between the copies (AQE final plan: 0 ReusedExchange, corpus
    # scanned 5x per invocation) — every consumer re-ran the full
    # shingle → signature → banding pipeline.  The bucket table is the
    # SPARSE output (only 2..max_bucket-sized buckets — near-dup-
    # cluster-sized at any corpus scale), so the checkpoint is tiny
    # while each avoided re-evaluation is a full corpus scan + explode.
    # Gated by the same cost switch as the shingle cache: on small
    # inputs the two checkpoint barriers serialize work that idle cores
    # absorb for free (A/B at sf0.1: warm 1.79 → 2.59 s materialized),
    # while at scan-bound scale 5 corpus passes → 2 dominates.
    from .ckpt import materialize
    if big:
        buckets = materialize(buckets, eager=True, coalesce=True)
    cand = (buckets
            .select(F.explode("ids").alias("doc_a"), F.col("ids"))
            .select("doc_a", F.explode("ids").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
            .distinct())
    # exact verify on candidates only: restrict the shingle table to
    # documents appearing in some (2..max_bucket)-sized bucket — exactly
    # the docs that occur in candidate pairs.
    cand_docs = buckets.select(F.explode("ids").alias("id"))
    shc = sh.join(cand_docs, "id", "left_semi")
    # per-candidate-doc shingle sets (bounded by shingles/doc), then the
    # exact intersection is a JVM array_intersect per pair — no wide
    # (doc, shingle)-keyed join, no intersection groupBy; the candidate
    # side is typically tiny → both joins broadcast under AQE.
    # Materialized once on BIG inputs (r15): the a/b aliases below are
    # two consumers, and without the checkpoint each re-ran the corpus-
    # scan semi-join (runtime plan evidence as above).  Candidate-docs-
    # sized state; same cost gate as the bucket checkpoint.
    dsets = shc.groupBy("id").agg(F.collect_list("hs").alias("S"))
    if big:
        dsets = materialize(dsets, eager=True, coalesce=True)
    a = dsets.select(F.col("id").alias("doc_a"), F.col("S").alias("Sa"))
    b = dsets.select(F.col("id").alias("doc_b"), F.col("S").alias("Sb"))
    c = F.size(F.array_intersect("Sa", "Sb"))
    jac = c / (F.size("Sa") + F.size("Sb") - c)
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def cross_jaccard_pairs(train: DataFrame, bench: DataFrame,
                        threshold: float = 0.5, n: int = 3,
                        unit: str = "word", id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_id_col: str = "bench_id") -> DataFrame:
    """Cross-corpus near-duplicate decontamination pairs: every
    (train doc, benchmark doc) pair whose exact n-gram Jaccard meets
    ``threshold`` — the lexical near-dup leg of the decontamination
    family, between the exact-containment check
    (:func:`gqlite_spark.operators.sampling.benchmark_contamination`:
    one shared 8-gram flags the doc) and the embedding-space check
    (:func:`gqlite_spark.operators.sampling.semantic_contamination`:
    paraphrases with no lexical overlap).  A rephrased benchmark
    question that dodges exact 8-gram matching but keeps most of its
    wording lands exactly here.

    Same exactness contract as :func:`ngram_jaccard_pairs`: candidates
    come from a shingle-block equi-join (pairs sharing ≥ 1 shingle
    only — never train×bench all-pairs), the emitted Jaccard is
    computed from the FULL shingle sets.  Scale shape: the benchmark
    side is eval-set-sized, so its shingle table and per-doc sets ride
    broadcast joins — the train corpus streams map-side, is never
    self-joined, and only candidate train docs' shingle sets are
    collected (semi-join).  Word-unit shingles by default: on real
    corpora (and the synthetic one) char 3-grams of a shared
    vocabulary collide across most documents; word n-grams are the
    discriminative choice.

    Output: (``id_col``, ``bench_id_col``, jaccard round 4)."""
    sht = shingles(train, id_col, text_col, n, unit).select(
        "id", F.xxhash64("s").alias("hs"))
    shb = shingles(bench, id_col, text_col, n, unit).select(
        F.col("id").alias("bid"), F.xxhash64("s").alias("hs"))
    cand = (sht.join(F.broadcast(shb.select("hs", "bid")), "hs")
            .select("id", "bid").distinct())
    tsets = (sht.join(cand.select("id").distinct(), "id", "left_semi")
             .groupBy("id").agg(F.collect_list("hs").alias("Sa")))
    bsets = shb.groupBy("bid").agg(F.collect_list("hs").alias("Sb"))
    c = F.size(F.array_intersect("Sa", "Sb"))
    jac = c / (F.size("Sa") + F.size("Sb") - c)
    return (cand.join(tsets, "id").join(F.broadcast(bsets), "bid")
            .filter(jac >= threshold)
            .select(F.col("id").alias(id_col),
                    F.col("bid").alias(bench_id_col),
                    F.round(jac, 4).alias("jaccard")))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", delim: str = "\n",
               min_doc_frequency: int = 2,
               min_line_chars: int = 1) -> DataFrame:
    """Corpus-wide duplicate-line removal (the CCNet/RefinedWeb boilerplate
    scrub): split every document into lines, hash each normalized line,
    count the number of DISTINCT documents containing it, and drop lines
    appearing in ≥ ``min_doc_frequency`` documents (navigation chrome,
    cookie banners, licence footers).  Documents are reassembled in
    original line order.  Returns (doc_id, text, n_lines, n_removed).

    Scale shape (the 100 TB path): three shuffles, all well-keyed —
    (1) groupBy(line_hash) with partial aggregation for document
    frequencies (hot boilerplate lines combine map-side, so skew is
    absorbed before the exchange); (2) the kept-lines anti-join keyed on
    the 16-byte hash — the duplicate-line table is bounded by the number
    of distinct lines with df ≥ threshold, typically small enough that AQE
    broadcasts it; (3) the per-document reassembly groupBy keyed on doc id
    (bounded by document size).  No UDFs, no driver collect.

    ``min_line_chars`` exempts ultra-short lines (e.g. empty separators)
    from removal — they are structure, not boilerplate, and their hash is
    the one genuinely hot anti-join key.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim, -1))
        .alias("_pos", "_line"))
    norm = F.md5(F.trim(F.lower(F.col("_line"))))
    lines = lines.withColumn("_lh", norm)
    # df counts only lines long enough to be removable; countDistinct via
    # (hash, doc) pre-dedup keeps the per-line count exact when a doc
    # repeats its own boilerplate
    eligible = lines.filter(F.length(F.trim(F.col("_line")))
                            >= min_line_chars)
    dup = (eligible.select("_lh", F.col(id_col)).distinct()
           .groupBy("_lh").agg(F.count("*").alias("_df"))
           .filter(F.col("_df") >= min_doc_frequency)
           .select("_lh", F.lit(True).alias("_dup")))
    flagged = (lines.join(dup, "_lh", "left")
               .withColumn("_rm", F.col("_dup").isNotNull() &
                           (F.length(F.trim(F.col("_line")))
                            >= min_line_chars)))
    out = (flagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("_rm").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(~F.col("_rm"),
                           F.struct(F.col("_pos"), F.col("_line"))))),
                lambda s: s["_line"]),
            delim).alias(text_col)))
    return out.select(id_col, text_col, "n_lines", "n_removed")


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens (deterministic md5 bit mixing).

    For each token, a 64-bit hash; per bit position, +1 if set else −1,
    summed over tokens; fingerprint bit = sign.  Expressed with explode +
    groupBy + bit ops — no UDF.  Returns (id, simhash) as the unsigned
    value in a decimal(20,0) plus the raw signed bigint.
    """
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(F.col(text_col), " ")).alias("t"))
            .filter(F.col("t") != ""))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("bigint")
    toks = toks.select("id", h.alias("h"))
    bit_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{b}")
        for b in range(60)
    ]
    agg = toks.groupBy("id").agg(*bit_cols)
    fp = None
    for b in range(60):
        term = F.when(F.col(f"b{b}") > 0,
                      F.lit(2 ** b).cast("decimal(38,0)")).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("id", fp.cast("decimal(20,0)").alias("simhash"))


def _chunk_layout(n_chunks: int, bits: int = 60) -> list[tuple[int, int]]:
    """(offset, size) per chunk, sizes as even as possible over ``bits``."""
    sizes = [bits // n_chunks + (1 if i < bits % n_chunks else 0)
             for i in range(n_chunks)]
    offs, acc = [], 0
    for s in sizes:
        offs.append(acc)
        acc += s
    return list(zip(offs, sizes))


def simhash_pairs_from_sig(sig: DataFrame, max_hamming: int = 6,
                           n_chunks: "int | None" = None) -> DataFrame:
    """Near-pairs from a (id, simhash) signature table.

    Blocking: split the 60-bit fingerprint into ``n_chunks`` (default
    ``max_hamming + 1``) chunks; by pigeonhole, a pair at hamming distance
    d < n_chunks must agree on ≥1 whole chunk, so candidate recall is
    EXACT for d ≤ n_chunks − 1 — the output equals the all-pairs
    ``hamming ≤ max_hamming`` result at bucketed (near-linear) cost.
    (The r1 implementation blocked on 4 chunks with max_hamming=6,
    silently missing pairs at distance 4-6 spread across all chunks.)
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    sig = sig.select("id", F.col("simhash").cast("bigint").alias("shl"))
    parts = []
    for ci, (off, size) in enumerate(_chunk_layout(n_chunks)):
        ck = F.shiftright(F.col("shl"), off).bitwiseAND(F.lit((1 << size) - 1))
        parts.append(sig.select("id", F.lit(ci).alias("chunk"),
                                ck.alias("ckey"), "shl"))
    allc = parts[0]
    for c in parts[1:]:
        allc = allc.unionByName(c)
    x, y = allc.alias("x"), allc.alias("y")
    cand = (x.join(y, (F.col("x.chunk") == F.col("y.chunk")) &
                   (F.col("x.ckey") == F.col("y.ckey")) &
                   (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("doc_a"), F.col("y.id").alias("doc_b"),
                    F.col("x.shl").alias("sa"), F.col("y.shl").alias("sb"))
            .distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 6,
                       n_chunks: "int | None" = None) -> DataFrame:
    """SimHash near-dup pairs (a < b, hamming ≤ max_hamming) with exact
    recall — see :func:`simhash_pairs_from_sig` for the chunk-blocking
    guarantee.  SQL-oracle-expressible: the fingerprint is pure md5 + bit
    arithmetic (no engine-specific hashing)."""
    return simhash_pairs_from_sig(simhash64(df, id_col, text_col),
                                  max_hamming, n_chunks)


# Below this corpus size the exact all-pairs join (n²/2 cosine evals, no
# candidate-generation passes) is cheaper than LSH bucketing; above it the
# all-pairs join is a cartesian scale-killer and the bucketed path takes
# over.  Mirrors knn_auto's access-path switch (reference cost-ordered
# candidate selection, GScanPlan::evaluate, ScanPlan.cpp:564-573).
NEAR_DUP_BRUTE_LIMIT = 100_000


def embedding_near_dups(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.99,
                        brute_force_limit: int = NEAR_DUP_BRUTE_LIMIT,
                        approx_count: "int | None" = None,
                        n_planes: "int | None" = None,
                        n_tables: int = 4,
                        seed: str = "gqlite-dedup") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    Cost-based access path:

    - ≤ ``brute_force_limit`` rows: exact all-pairs verify (small corpora —
      exactness is what the SQL oracle checks);
    - above it: sign-random-projection LSH buckets
      (similarity.random_projection_buckets) generate candidates — only
      same-bucket pairs in any table are compared — then the TRUE cosine is
      computed on candidates only.  Precision stays exact; recall is
      probabilistic but high for near-dup thresholds (θ = arccos(0.99) ≈ 8°
      → per-table collision ≈ 0.96^planes; 4 tables at 8 planes ≈ 0.99 —
      but rows that land in OVERFLOWED coarse buckets are re-bucketed on
      planes+8 bits, where per-table collision drops to 0.96^(planes+8);
      on heavily skewed corpora where many rows sit in hot buckets,
      budget recall with the refined exponent, not the coarse one).
      The candidate join is keyed on (table, bucket) — near-linear at
      100 TB, never a cartesian product.

    ``n_planes=None`` auto-sizes so expected bucket ≈ 16 rows
    (candidates ≈ 8·n·tables — linear in corpus size).  Projections are
    CENTERED on the corpus mean direction (similarity.projection_offsets):
    uncentered SRP collapses anisotropic corpora (e.g. all-positive
    embeddings) into a few giant buckets and the candidate join goes
    quadratic again.  ``max_bucket``-style degenerate clusters (> 4·expected
    rows in one bucket, e.g. thousands of byte-identical vectors) are
    handled by the guard below — those are exact-dup territory
    (hash-groupBy on the vector bytes), not near-dup.
    """
    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
    norm = F.expr(f"sqrt({sq_norm_sql('v')})")
    v = v.withColumn("nrm", norm).filter(F.col("nrm") > 0).cache()
    n = approx_count if approx_count is not None else v.count()

    if n <= brute_force_limit:
        pairs = (v.alias("a").join(v.alias("b"), F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("doc_a"),
                         F.col("b.id").alias("doc_b"),
                         F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
                         F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb")))
    else:
        from .similarity import (projection_offsets,
                                 random_projection_buckets)
        import math as _m
        from pyspark.sql import Window
        dim = len(v.select("v").head()[0])
        if n_planes is None:
            n_planes = max(4, min(24, int(_m.log2(max(2, n / 16)))))
        # project n_planes + 8 bits in ONE pass: the low n_planes bits are
        # the coarse bucket; the extra bits refine buckets that overflow
        # the cap (256-way split) instead of dropping them — a near-dup
        # pair agrees on ALL bits w.h.p., so refinement keeps twins
        # together while restoring the bound on the candidate join.
        # Dropping hot buckets outright cost ~10% recall on the 1 M-vector
        # probe (skewed projections make some coarse buckets 100× the
        # mean); refined recall ≈ the no-cap ideal, and only buckets still
        # degenerate AFTER refinement (byte-identical clusters — exact-dup
        # territory) are dropped.
        refine = 8
        offs = projection_offsets(v, dim, n_planes=n_planes + refine,
                                  n_tables=n_tables, seed=seed, vec_col="v")
        fine = random_projection_buckets(
            v, dim, n_planes=n_planes + refine, n_tables=n_tables,
            seed=seed, id_col="id", vec_col="v", normalize=True,
            offsets=offs)
        cap = max(64, 4 * (n // (2 ** n_planes) + 1))
        coarse = F.pmod(F.col("bucket"), F.lit(2 ** n_planes))
        bn = F.count("*").over(Window.partitionBy("table", "_coarse"))
        buckets = (fine.withColumn("_coarse", coarse)
                   .withColumn("_bn", bn)
                   .withColumn("bucket",
                               F.when(F.col("_bn") <= cap, F.col("_coarse"))
                               .otherwise(F.col("bucket")
                                          + F.lit(2 ** (n_planes + refine))))
                   .drop("_coarse", "_bn"))
        bn2 = F.count("*").over(Window.partitionBy("table", "bucket"))
        buckets = (buckets.withColumn("_bn", bn2)
                   .filter(F.col("_bn") <= cap).drop("_bn"))
        x, y = buckets.alias("x"), buckets.alias("y")
        cand = (x.join(y, (F.col("x.table") == F.col("y.table")) &
                       (F.col("x.bucket") == F.col("y.bucket")) &
                       (F.col("x.id") < F.col("y.id")))
                .select(F.col("x.id").alias("doc_a"),
                        F.col("y.id").alias("doc_b")).distinct())
        a_v = v.select(F.col("id").alias("doc_a"), F.col("v").alias("va"),
                       F.col("nrm").alias("na"))
        b_v = v.select(F.col("id").alias("doc_b"), F.col("v").alias("vb"),
                       F.col("nrm").alias("nb"))
        pairs = cand.join(a_v, "doc_a").join(b_v, "doc_b")

    cos = F.expr(f"{dot_sql('va', 'vb')} / (na * nb)")
    return (pairs.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine")))


def near_dup_clusters(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.7,
                      **lsh_kwargs) -> DataFrame:
    """Transitive near-duplicate clusters with a canonical representative
    — the purge-decision step of a dedup pipeline: A~B and B~C put A, B,
    C in ONE cluster even when A~C is below threshold, and every cluster
    keeps exactly its min-id member.

    Composition: :func:`minhash_lsh_pairs` (bucketed candidates, exact
    verify) → min-label-propagation connected components over the pair
    graph → ``keep = (doc_id == cluster_rep)``.  Output: (doc_id,
    cluster_rep, keep) for documents in clusters of ≥2; untouched
    documents are implicitly kept (anti-join against keep=false is the
    purge).  Scale shape: the pair graph is sparse (near-dup pairs, not
    the corpus), so the CC iterations run on a graph orders of magnitude
    smaller than the input — the LSH stage stays the cost driver."""
    from .. import conf
    from .ckpt import materialize_probed
    from .graph_algos import connected_components
    pairs = minhash_lsh_pairs(df, id_col=id_col, text_col=text_col,
                              threshold=threshold, **lsh_kwargs)
    # materialize the pair list BEFORE the CC loop: connected_components
    # derives the undirected edge set as (e UNION flip(e)), which would
    # otherwise evaluate the whole LSH pipeline TWICE (once per union
    # branch) when it populates its edge cache — measured 2× the LSH wall
    # per invocation at sf0.1.  The pair graph is sparse by construction
    # (near-dup pairs, not the corpus), so the checkpoint is tiny at any
    # corpus scale.  The edge list's measured bytes ride the
    # materialization job for free and feed the CC scope's size-aware
    # AQE decision — the checkpointed list otherwise reports unknown
    # (huge) plan stats.
    edges = pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
    edges, (nbytes,) = materialize_probed(edges, conf.row_bytes(edges))
    comp = connected_components(edges, edge_bytes_hint=int(nbytes or 0))
    return comp.select(F.col("id").alias(id_col),
                       F.col("component").alias("cluster_rep"),
                       (F.col("id") == F.col("component")).alias("keep"))


def keep_best_per_cluster(clusters: DataFrame, scores: DataFrame,
                          id_col: str = "doc_id",
                          score_col: str = "score") -> DataFrame:
    """Survivor selection for near-dup clusters by QUALITY, not by id:
    a training-data pipeline purges duplicates but should keep each
    cluster's highest-quality copy (longest / best-scored / least
    boilerplate), while :func:`near_dup_clusters`'s min-id canonical is
    arbitrary.  ``clusters`` is that function's output (id, cluster_rep)
    — or any (member, cluster) mapping — and ``scores`` maps ids to a
    quality score (e.g. ``text.quality_score`` output, or a plain
    ``length(text)``).  keep = the cluster's max-score member, ties
    broken by min id (deterministic).  Scale shape: the window runs on
    the CLUSTERED docs only (the sparse pair-graph membership, not the
    corpus), partitioned by cluster — one narrow shuffle of that small
    set.  Output: (id, cluster_rep, score, keep)."""
    from pyspark.sql import Window
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    joined = (clusters.select(id_col, "cluster_rep")
              .join(scores.select(id_col, score_col), id_col))
    return joined.withColumn("keep", F.row_number().over(w) == 1)
