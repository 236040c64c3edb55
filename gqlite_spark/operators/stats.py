"""Information-theoretic operators: entropy and information gain.

Reference parity: gql::entropy / GGain (src/base/math/Entropy.cpp:11-76,
FULL, tested by test/infomation.cpp) — base-2 entropy, gain = I(target) −
remainder(feature).  Here computed distributed: probabilities come from
groupBy counts (one shuffle), never a driver-side histogram, so the same
code profiles a 100 TB feature column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def entropy(df: DataFrame, col: str) -> float:
    """Shannon entropy (base 2) of a column's empirical distribution."""
    counts = df.groupBy(col).agg(F.count("*").alias("c"))
    total = df.count()
    if total == 0:
        return 0.0
    row = (counts.select(
        F.sum(-(F.col("c") / total) * F.log2(F.col("c") / total)).alias("h"))
        .collect()[0])
    return float(row["h"] or 0.0)


def conditional_entropy(df: DataFrame, feature: str, target: str) -> float:
    """H(target | feature) = Σ_v p(v) · H(target | feature=v) — the
    'remainder' term of the reference's gain computation."""
    total = df.count()
    if total == 0:
        return 0.0
    joint = (df.groupBy(feature, target).agg(F.count("*").alias("c"))
             .withColumn("fc", F.sum("c").over(Window.partitionBy(feature))))
    row = (joint.select(F.sum(
        (F.col("c") / total) * -F.log2(F.col("c") / F.col("fc"))).alias("h"))
        .collect()[0])
    return float(row["h"] or 0.0)


def information_gain(df: DataFrame, feature: str, target: str) -> float:
    """gain(feature) = H(target) − H(target | feature)."""
    return entropy(df, target) - conditional_entropy(df, feature, target)


def rank_features_by_gain(df: DataFrame, features: list[str],
                          target: str) -> list[tuple[str, float]]:
    """Features sorted by information gain, descending — the decision-tree
    split-selection primitive (GGain ordering parity)."""
    gains = [(f, information_gain(df, f, target)) for f in features]
    return sorted(gains, key=lambda kv: (-kv[1], kv[0]))


# ---------------------------------------------------------------------------
# KMV distinct sketch — deterministic, mergeable cardinality estimation.
#
# The k-minimum-values estimator (Bar-Yossef et al. 2002): hash every
# value uniformly into [0, 2^60), keep the k smallest DISTINCT hashes;
# if fewer than k exist the count is exact, otherwise
# est = (k-1) * 2^60 / h_k (relative error ~ 1/sqrt(k-2), ~6% at
# k=256).  Two properties make THIS sketch the right one here instead
# of Spark's built-in HLL (approx_count_distinct):
#
# - DETERMINISTIC + replayable: the hash is the repo-standard
#   conv(substr(md5(x),1,15),16,10) 60-bit convention, identical in
#   Spark and DuckDB, so an oracle can reproduce the estimate
#   bit-for-bit (HLL's binary sketch cannot cross engines).
# - MERGEABLE as plain rows: a sketch is just (group..., h) rows; the
#   sketch of a union is min-k of the unioned sketches.  That is the
#   100 TB usage: profile each ingest batch ONCE at write time, persist
#   the k-row sketch beside it, and answer "distinct users this
#   quarter?" by merging a few thousand k-row tables — never re-reading
#   the data.  Building a sketch costs about what one exact
#   count-distinct costs (the dedup shuffle); merging sketches costs
#   nearly nothing.
# ---------------------------------------------------------------------------

KMV_HASH_SPACE = float(16 ** 15)  # 2^60 — size of the 60-bit hash space

# per-group prefilter: above this many straggler groups, revert to the
# plain per-group build instead of broadcasting the straggler key list
KMV_STRAGGLER_BROADCAST_MAX = 100_000


def _kmv_hash(col, hash: str = "md5") -> "F.Column":
    """60-bit uniform hash.  'md5' = the repo-standard oracle-replayable
    conv(substr(md5(string(x)),1,15),16,10) — measured ~1.6x the cost
    of an exact countDistinct at 100 M longs (the string-cast + md5
    dominate).  'xx' = shiftrightunsigned(xxhash64(x), 4) — JVM codegen,
    build-speed path when cross-engine replay isn't needed.  Sketches
    built with different hashes must never be merged (both are valid
    KMV estimators, but over different hash assignments)."""
    if hash == "md5":
        return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                      16, 10).cast("long")
    if hash == "xx":
        return F.shiftrightunsigned(F.xxhash64(col), 4)
    raise ValueError(f"unknown kmv hash '{hash}' (want md5|xx)")


def _min_k(hashed: DataFrame, k: int, by: "list[str]") -> DataFrame:
    """k smallest distinct ``h`` per ``by`` group (global if no group).
    distinct-first so the shuffle carries per-partition-deduped hashes
    (map-side partial aggregation); the global path is a single
    TakeOrderedAndProject — per-partition top-k, driver merges k rows."""
    dd = hashed.dropDuplicates(by + ["h"])
    if by:
        w = Window.partitionBy(*by).orderBy("h")
        return (dd.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k).drop("_rn"))
    return dd.orderBy("h").limit(k)


def kmv_sketch(df: DataFrame, col: str, k: int = 256,
               by: "list[str] | None" = None,
               hash: str = "md5", prefilter: bool = True) -> DataFrame:
    """Build the sketch: (by..., h) rows — the k smallest distinct
    60-bit hashes of ``col`` (per group if ``by``).  Persist it with a
    plain parquet write; merge batches with :func:`kmv_merge` (same
    ``hash`` on every batch).

    ``prefilter`` (global path only): the min-k can only contain hashes
    below ~k/n_distinct of the hash space, so rows are pre-filtered to
    ``h < 2^60 * 8k / n_rows`` before the dedup — the shuffle then
    carries ~8k * dup_factor candidate rows instead of EVERY distinct
    hash (which is what makes a naive sketch build cost as much as the
    exact count-distinct it's supposed to avoid).  Needs one extra
    count + scan; if the filtered pass returns fewer than k hashes
    (true distinct < k, or duplication factor > 8) it falls back to
    the unfiltered build, so the result is always the exact min-k.
    Measured at 100 M rows / 25 M distinct: 3.6x faster than the
    unfiltered build (PLANS.md 'r8 late: KMV sketch — the prefilter
    is what makes it cheap')."""
    by = list(by or [])
    # NULL hashes to NULL, which would sort FIRST into the min-k;
    # drop it — countDistinct semantics: null is not a value
    hashed = (df.select(*by, _kmv_hash(F.col(col), hash).alias("h"))
              .filter(F.col("h").isNotNull()))
    if not prefilter:
        return _min_k(hashed, k, by)
    if by:
        # every group needs k survivors, so the threshold scales with
        # the group count (one combined pass; ±5% HLL error is inside
        # the 8x safety margin).  A huge group count pushes frac past
        # 1 — mostly-small-groups shape, plain build is right anyway.
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.approx_count_distinct(F.struct(*by))
                     .alias("g")).collect()[0]
        n_rows, n_groups = row["n"], max(1, row["g"])
        frac = (8.0 * k * n_groups) / n_rows if n_rows else 1.0
        if frac >= 1.0:
            return _min_k(hashed, k, by)
        thresh = F.col("h") < int(KMV_HASH_SPACE * frac)
        return _group_min_k_prefiltered(hashed, k, by, thresh)
    n_rows = df.count()
    frac = (8.0 * k) / n_rows if n_rows else 1.0
    if frac >= 1.0:
        return _min_k(hashed, k, by)
    thresh = F.col("h") < int(KMV_HASH_SPACE * frac)
    out = _min_k(hashed.filter(thresh), k, [])
    out = out.persist()
    ok = out.count() >= k
    # release the decision cache eagerly either way: a long-lived
    # session building many sketches must not accumulate blocks until
    # ContextCleaner notices (ADVICE r8).  The success path repays one
    # narrow prefiltered TakeOrderedAndProject when the caller
    # materializes — the cheap pass, by construction.
    out.unpersist()
    if ok:
        return out
    return _min_k(hashed, k, [])


def _eq_nullsafe(left: DataFrame, right: DataFrame, keys: "list[str]"):
    """Null-safe equi-join condition — plain key-list joins never match
    NULL keys, which would silently drop NULL-keyed groups."""
    cond = None
    for c in keys:
        e = left[c].eqNullSafe(right[c])
        cond = e if cond is None else cond & e
    return cond


def _group_min_k_prefiltered(hashed: DataFrame, k: int, by: "list[str]",
                             thresh) -> DataFrame:
    """Per-group min-k with the hash prefilter.  The global threshold
    under-serves groups that are small or heavily duplicated (fewer
    than k of their distinct hashes fall below it), so those straggler
    groups — found by comparing candidate counts against the full
    group-key list, itself a cheap narrow aggregate — are re-run
    unfiltered, restricted via a broadcast semi-join.  Big groups (the
    reason to prefilter at all) stay on the narrow shuffle.  All the
    repair joins are null-safe: a NULL group key is a real group.
    The decision-time candidate caches are released eagerly before
    returning (no blocks outlive the call)."""
    cand = _min_k(hashed.filter(thresh), k, by).persist()
    counts = cand.groupBy(*by).agg(F.count("*").alias("_c"))
    full = counts.filter(F.col("_c") >= k)
    keys = hashed.select(*by).distinct()
    short = (keys.join(full, _eq_nullsafe(keys, full, by), "left_anti")
             .persist())
    n_short = short.count()
    if n_short == 0:
        short.unpersist()
        return cand
    if n_short > KMV_STRAGGLER_BROADCAST_MAX:
        # mostly-small-groups shape (e.g. by=user_id): the straggler
        # list is too big to broadcast and the prefilter served almost
        # nobody — the plain per-group min-k is the right plan
        short.unpersist()
        cand.unpersist()
        return _min_k(hashed, k, by)
    redo = _min_k(
        hashed.join(F.broadcast(short),
                    _eq_nullsafe(hashed, short, by), "leftsemi"), k, by)
    kept = cand.join(F.broadcast(short),
                     _eq_nullsafe(cand, short, by), "left_anti")
    out = kept.unionByName(redo)
    # eager release (ADVICE r8): the counts above already consumed the
    # caches; holding them until ContextCleaner GC leaks blocks across
    # repeated sketch builds in a long-lived session.  Downstream
    # materialization recomputes the narrow prefiltered candidate scan
    # once — the cheap pass.
    cand.unpersist()
    short.unpersist()
    return out


def kmv_merge(sketches: "list[DataFrame]", k: int = 256,
              by: "list[str] | None" = None) -> DataFrame:
    """Merge sketches of disjoint-or-not batches: min-k of the union.
    Exactly equals the sketch of the unioned raw data (same-value rows
    hash identically), so incremental profiling loses nothing."""
    by = list(by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return _min_k(out, k, by)


# ---------------------------------------------------------------------------
# Histogram sketch — deterministic, mergeable distribution profiling.
#
# The companion to the KMV sketch: where KMV answers "how many
# distinct", this answers "how is it distributed" (p50/p99 doc length,
# quality-score quantiles) from bounded-size mergeable state.  A sketch
# is just (group..., bin, n) rows over a FIXED uniform binning, so the
# sketch of a union is the bin-wise sum — profile each ingest batch at
# write time, merge k-row tables forever, never re-read the data.
# Quantile error is bounded by the bin width in VALUE space (not rank
# space): with lo/hi/bins fixed, estimates are deterministic and
# exactly replayable in DuckDB (width_bucket + window cumsum +
# interpolation are plain SQL).  The binning params (lo, hi, bins) are
# the caller's contract — sketches binned differently must not be
# merged (same rule as KMV's hash choice).
# ---------------------------------------------------------------------------


def hist_sketch(df: DataFrame, col: str, lo: float, hi: float,
                bins: int = 1024,
                by: "list[str] | None" = None) -> DataFrame:
    """(by..., bin, n) rows: uniform-bin counts of ``col`` over
    [lo, hi) — one map-side-combined shuffle of ≤ bins rows per group.
    Values outside [lo, hi) clamp into the edge bins (bin 1 / bins), so
    totals are preserved; pick lo/hi from domain knowledge or a prior
    min/max pass.  bin ids are 1-based (width_bucket convention)."""
    if hi <= lo:
        raise ValueError(f"hist_sketch needs hi > lo (got [{lo}, {hi}))")
    by = list(by or [])
    b = F.width_bucket(F.col(col).cast("double"), F.lit(float(lo)),
                       F.lit(float(hi)), F.lit(bins))
    b = F.greatest(F.least(b, F.lit(bins)), F.lit(1))
    # NULL is not a value — and it must be dropped BEFORE the clamp:
    # width_bucket(NULL) is NULL, but least/greatest SKIP nulls (they
    # return the other operand), so a null row would silently clamp
    # into the top bin, corrupting totals and quantiles
    return (df.filter(F.col(col).isNotNull())
            .select(*by, b.alias("bin"))
            .groupBy(*by, "bin").agg(F.count("*").alias("n")))


def hist_merge(sketches: "list[DataFrame]",
               by: "list[str] | None" = None) -> DataFrame:
    """Bin-wise sum of same-binning sketches — exactly the sketch of
    the unioned raw data."""
    by = list(by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "bin").agg(F.sum("n").alias("n"))


def hist_quantiles(sketch: DataFrame, qs: "list[float]", lo: float,
                   hi: float, bins: int = 1024,
                   by: "list[str] | None" = None) -> DataFrame:
    """(by..., q, value) per requested quantile: walk the cumulative
    bin counts to the first bin covering rank q·total and interpolate
    linearly inside it.  Error ≤ one bin width of value space.  The
    whole computation is a window cumsum + a per-q aggregate — no
    driver-side state, deterministic, plain-SQL replayable."""
    by = list(by or [])
    w = Window.partitionBy(*by).orderBy("bin") if by \
        else Window.orderBy("bin")
    width = (float(hi) - float(lo)) / bins
    cum = (sketch
           .withColumn("_cum", F.sum("n").over(w))
           .withColumn("_tot", F.sum("n").over(
               Window.partitionBy(*by) if by
               else Window.partitionBy(F.lit(1)))))
    outs = []
    for q in qs:
        rank = F.lit(float(q)) * F.col("_tot")
        # first bin whose cumulative count reaches the rank
        hit = (cum.filter(F.col("_cum") >= rank)
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1))
        frac = (rank - (F.col("_cum") - F.col("n"))) / F.col("n")
        val = (F.lit(float(lo))
               + (F.col("bin") - 1 + frac) * F.lit(width))
        outs.append(hit.select(
            *by, F.lit(float(q)).alias("q"), val.alias("value")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def kmv_estimate(sketch: DataFrame, k: int = 256,
                 by: "list[str] | None" = None) -> DataFrame:
    """(by..., n_distinct_est) from a sketch.  Fewer than k hashes =
    the exact count; otherwise (k-1) * 2^60 / h_k, floor-half-up to a
    long (the repo's cross-engine rounding convention)."""
    by = list(by or [])
    agg = (sketch.groupBy(*by) if by else sketch.groupBy()).agg(
        F.count("*").alias("_n"), F.max("h").alias("_hk"))
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_HASH_SPACE) / F.col("_hk"))
    return agg.select(*by,
                      F.floor(est + F.lit(0.5)).cast("long")
                      .alias("n_distinct_est"))


# ---------------------------------------------------------------------------
# Count-min sketch — deterministic, mergeable per-key frequency
# profiling.  Completes the mergeable trio: KMV answers "how many
# distinct", hist answers "how is the value distributed", CMS answers
# "how often does THIS key occur" — from bounded state (d x w counters
# per group) that merges by plain counter addition, so profile each
# ingest batch once and answer corpus-lifetime per-key counts without
# re-reading data.  Estimates never undercount (min over d rows of a
# counter that saw every occurrence); overcount is bounded by eN/w per
# row with probability 1 - e^-d (Cormode-Muthukrishnan 2005).  Hashes
# are the repo-standard md5-60bit of "<value>:<row>", so sketches,
# merges AND estimates replay exactly in DuckDB.  Sketches built with
# different (d, w) must never be merged (same contract as the KMV hash
# and the hist binning).
# ---------------------------------------------------------------------------


def _cms_slot(col, i: int, w: int):
    """Row-i slot of a value: md5-60bit("<value>:<i>") mod w."""
    h = F.conv(F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(f":{i}"))), 1, 15),
        16, 10).cast("long")
    return F.pmod(h, F.lit(int(w)))


def cms_sketch(df: DataFrame, col: str, d: int = 4, w: int = 1024,
               by: "list[str] | None" = None) -> DataFrame:
    """(by..., row, slot, n) rows — the non-zero counters of a d x w
    count-min sketch of ``col`` (per group if ``by``).  One pass: the
    d row-slots are computed as an inline array and pos-exploded, then
    ONE map-side-combined shuffle of <= d*w rows per group.  NULL is
    not a value (countDistinct semantics, same as kmv/hist)."""
    by = list(by or [])
    slots = F.array(*[_cms_slot(F.col(col), i, w) for i in range(int(d))])
    return (df.filter(F.col(col).isNotNull())
            .select(*by, F.posexplode(slots).alias("row", "slot"))
            .groupBy(*by, "row", "slot").agg(F.count("*").alias("n")))


def cms_merge(sketches: "list[DataFrame]",
              by: "list[str] | None" = None) -> DataFrame:
    """Counter-wise sum of same-(d, w) sketches — exactly the sketch
    of the unioned raw data (each counter saw each occurrence once)."""
    by = list(by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "row", "slot").agg(F.sum("n").alias("n"))


def cms_query(sketch: DataFrame, keys: DataFrame, d: int = 4,
              w: int = 1024,
              by: "list[str] | None" = None,
              groups: "DataFrame | None" = None) -> DataFrame:
    """(by..., key, count_est) for every key in the one-column ``keys``
    DataFrame (column ``key``), against every group in the sketch:
    est = min over the d rows of the key's counter (0 where the
    counter is absent — a key the group never saw estimates 0 unless
    it collides on ALL d rows).  The probe is (groups x keys x d)
    rows — sketch-sized, never data-sized.

    ``groups`` (optional): a DataFrame holding the ``by`` columns of
    every group the sketch saw (rows with a NULL sketch value already
    excluded) — e.g. the pre-sketch input projected to the group
    columns.  Without it the group list is derived from the sketch
    itself, which re-runs the whole hash/explode subtree just to
    enumerate groups (Catalyst cannot prune a Generate below a
    distinct); the result is identical either way."""
    by = list(by or [])
    kd = keys.select(
        "key",
        F.posexplode(F.array(*[_cms_slot(F.col("key"), i, w)
                               for i in range(int(d))]))
        .alias("row", "slot"))
    if not by:
        joined = kd.join(sketch, ["row", "slot"], "left")
        return (joined.groupBy("key")
                .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                     .alias("count_est")))
    # Null-safe on the group keys: a NULL-keyed group is a real group
    # (same invariant as rollup_keycounts / _group_min_k_prefiltered);
    # a plain name-list equijoin would estimate 0 for every key of a
    # NULL-keyed group — an undercount, violating the CMS guarantee.
    grp = groups.select(*by) if groups is not None else sketch.select(*by)
    combos = grp.distinct().crossJoin(kd)
    # rename the sketch side: combos derives from sketch, so qualified
    # refs would be an ambiguous self-join
    sk = sketch.select(*[F.col(c).alias(f"_sk_{c}") for c in sketch.columns])
    cond = ((F.col("row") == F.col("_sk_row"))
            & (F.col("slot") == F.col("_sk_slot")))
    for c in by:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_sk_{c}"))
    joined = combos.join(sk, cond, "left")
    return (joined.groupBy(*by, "key")
            .agg(F.min(F.coalesce(F.col("_sk_n"), F.lit(0)))
                 .alias("count_est")))
