"""Similarity search over embedding columns (array<float|double>).

Replaces the reference's single-node HNSW index (src/operand/query/HNSW.cpp,
420 LoC — build/search FULL but inherently non-distributed) with the two
Spark-native strategies:

- brute-force top-k: distance expression + TakeOrderedAndProject — exact,
  one scan, per-partition top-k then k·P merge; the right plan up to ~10⁸
  vectors per query batch;
- random-projection LSH bucketing: deterministic signed random projections
  (md5-seeded, no RNG state) → bucket key; candidate = same bucket in any of
  several tables; exact re-rank on candidates.  Near-linear at 100 TB.

The access-path choice (brute vs LSH by corpus size) mirrors the reference's
cost-ordered candidate plans (GScanPlan::evaluate, ScanPlan.cpp:564-573).

Every vector fold of the engine is written here, once, as SQL text:
``vec_sql`` (a constant vector literal), ``dot_sql``, ``sq_norm_sql`` and
``sq_l2_sql``.  The kernels below, ``dedup``, ``streaming.events`` and the
GQL planner's ``$near`` build their expressions from them, so each use is
one ``F.expr`` parse (not one py4j ``F.lit`` per element) and every fold
is the same in-order sum the SQL oracles replay.

The quantized indexes (IVF, PQ, IVFPQ) share one build, ``_save_index``:
one sample of the lowest-id rows with a non-null vector feeds every
quantizer (``_sample``), one Lloyd loop refines them all in one
aggregation per iteration (``_lloyd``), and one per-row columns step
(``_index_columns``, also used by ``Group.compact_into_index``) computes
the rows ``_write_index`` persists beside the params sidecar.  All of
them select nearest centroids with one kernel, ``_nearest_udf``: an
Arrow-batched matmul ranks every row and the in-order fold settles the
near-ties, so every nlist and codebook size gets the fold's exact
answer.  One ``topk_indexed`` searches every persisted kind.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Vector folds: the one place that writes dot, norm and squared-L2 SQL
# ---------------------------------------------------------------------------

def _f17(x) -> str:
    """A double literal both Spark and DuckDB parse as DOUBLE (scientific
    notation — a bare decimal would parse as DECIMAL in Spark SQL) with
    17 significant digits, the exact round-trip precision."""
    return "%.17e" % float(x)


def vec_sql(values) -> str:
    """SQL text of a constant vector, ``array(%.17e, …)``: one ``F.expr``
    parse brings it into a plan, not one py4j ``F.lit`` per element."""
    return "array(" + ", ".join(_f17(x) for x in values) + ")"


def _zip_fold(a: str, b: str, term: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), "
            "cast(0.0 as double), (acc, x) -> acc + x)")


def dot_sql(a: str, b: str) -> str:
    """SQL text of the inner product of two ``array<double>`` operands
    (a column name, a cast, a ``slice`` or :func:`vec_sql`): the
    left-associative fold from 0.0 over the elements in order — the
    oracle's in-order list sum, so values replay bit-for-bit."""
    return _zip_fold(a, b, "x * y")


def sq_norm_sql(v: str) -> str:
    """SQL text of the squared L2 norm of an ``array<double>`` operand,
    the same in-order fold (``sqrt`` of it is the norm)."""
    return f"aggregate({v}, cast(0.0 as double), (acc, x) -> acc + x * x)"


def sq_l2_sql(a: str, b: str) -> str:
    """SQL text of the squared L2 distance between two ``array<double>``
    operands, the same in-order fold of ``(a_i - b_i)²``."""
    return _zip_fold(a, b, "(x - y) * (x - y)")


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity to one query vector over the
    rows with a non-null vector.
    Returns (id, cosine) with cosine rounded to 4 decimals."""
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    v = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    cos = F.expr(f"{dot_sql('v', vec_sql(q))} / "
                 f"(sqrt({sq_norm_sql('v')}) * {_f17(qn)})")
    return (v.withColumn("cosine", cos)
            .orderBy(F.col("cosine").desc(), F.col("id").asc())
            .limit(k)
            .select("id", F.round("cosine", 4).alias("cosine")))


def rrf_contrib_sql(rank: str, c: int = 60) -> str:
    """SQL text for one ranking's reciprocal-rank-fusion contribution in
    integer micro-units: ``floor(1e6/(c + rank) + 0.5)`` as BIGINT, 0
    when ``rank`` is NULL (the id is absent from that ranking).  One
    exact integer division of exact integers per row — deterministic on
    any IEEE engine — and integer summation across rankings keeps the
    fused score order-independent, the same discipline as the BM25 and
    LM scores."""
    return (f"cast(coalesce(floor(1000000.0 / ({c} + {rank}) + 0.5), 0)"
            " as bigint)")


def hybrid_topk(docs: DataFrame, emb: DataFrame, query_vec: list[float],
                query_terms: "list[str]", k: int = 10, k_each: int = 20,
                c: int = 60, doc_id_col: str = "doc_id",
                text_col: str = "text", vec_id_col: str = "vec_id",
                vec_col: str = "embedding", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """Hybrid dense + sparse retrieval with reciprocal-rank fusion —
    the standard RAG retrieval pattern: take the exact cosine top-k
    (dense leg, :func:`cosine_topk`) and the BM25 top-k (sparse leg,
    :func:`gqlite_spark.operators.text.bm25_topk`), fuse by
    ``Σ 1/(c + rank)`` (RRF, c=60 conventional) and return the top
    ``k`` fused rows as ``(rank, id, rank_dense, rank_sparse,
    rrf_e6)`` — absent-from-a-leg ranks reported as 0.

    Rank fusion deliberately ignores the legs' incomparable score
    scales, so the fused result is a deterministic function of the two
    RANKINGS alone — both already proven engine-exact by their own
    oracles — with contributions quantized to integers
    (:func:`rrf_contrib_sql`) so the sum is order-independent.

    Scale shape: each leg is its own proven top-k plan (distributed
    top-k, no new corpus-sized work); the fusion joins two ≤ k_each-row
    frames and the final top-k runs on ≤ 2·k_each rows.  Ties break on
    ascending id at every step."""
    from .text import bm25_topk
    dw = Window.orderBy(F.col("cosine").desc(), F.col("id").asc())
    dense = (cosine_topk(emb, query_vec, k=k_each, id_col=vec_id_col,
                         vec_col=vec_col)
             .select("id", F.row_number().over(dw).cast("long")
                     .alias("rank_dense")))
    sparse = (bm25_topk(docs, query_terms, k=k_each, k1=k1, b=b,
                        id_col=doc_id_col, text_col=text_col)
              .select(F.col(doc_id_col).alias("id"),
                      F.col("rank").alias("rank_sparse")))
    fused = (dense.join(sparse, "id", "full_outer")
             .select("id", "rank_dense", "rank_sparse",
                     (F.expr(rrf_contrib_sql("rank_dense", c))
                      + F.expr(rrf_contrib_sql("rank_sparse", c)))
                     .alias("rrf_e6")))
    w = Window.orderBy(F.col("rrf_e6").desc(), F.col("id").asc())
    return (fused.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("rank", "id",
                    F.coalesce("rank_dense", F.lit(0)).cast("long")
                    .alias("rank_dense"),
                    F.coalesce("rank_sparse", F.lit(0)).cast("long")
                    .alias("rank_sparse"),
                    "rrf_e6"))


def knn_join(df: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """For every query vector, its k nearest corpus vectors by cosine.

    Brute-force variant: broadcast the (small) query side against the
    corpus scan, then per-query window top-k — ONE shuffle keyed by query
    id (:func:`_rank_join_pairs`).  Returns (q_id, id, rank, cosine); a
    null query vector pairs with nothing.
    """
    v, qd = _with_norms(
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v")),
        queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).cast("array<double>").alias("qv")))
    return _rank_join_pairs(v.crossJoin(F.broadcast(qd)), k, "ip")


# ---------------------------------------------------------------------------
# Nearest-centroid kernel: IVF assignment, per-row probe lists, PQ codes
# ---------------------------------------------------------------------------

def _check_metric(metric: str) -> None:
    if metric not in ("ip", "l2"):
        raise ValueError(f"ivf metric must be 'ip' or 'l2', got {metric!r}")


def _nearest_udf(vec_col: str, books: "list[list[tuple]]", metric: str,
                 n: int, rtype: str):
    """The one nearest-centroid kernel, an Arrow-batched pandas UDF:
    split each vector into ``len(books)`` equal sub-spaces and keep,
    per sub-space j, the ``n`` cids of the ``(cid, vector)`` centroids
    ``books[j]`` with the smallest score, nearest first — −inner product
    ('ip') or squared L2 ('l2'), ties → smallest cid.  ``rtype`` shapes
    the result: 'long' (the IVF list), 'array<long>' (a probe list) or
    'array<int>' (PQ codes, one per sub-space).  A null vector gets a
    null result (null codes for 'array<int>').

    The ranking is that of the in-order fold over dims — the
    :func:`dot_sql` / :func:`sq_l2_sql` scores that :func:`probe_lists`
    and the SQL oracles compute — at the cost of one
    (batch × dsub) @ (dsub × K) matmul per sub-space: the BLAS scores
    (−v·c, or ‖c‖² − 2·v·c) rank every row, and a row is rescored by
    the fold (then stably sorted, NaN last as Spark orders it) only
    when its n+1 best BLAS scores are not all more than 2δ apart, or a
    score is not finite.  δ bounds the forward error of both forms,
    ``4·(dsub+4)·2⁻⁵²`` times ``(‖v‖+max‖c‖)²`` ('l2') or
    ``‖v‖·max‖c‖`` ('ip'), so wider gaps rank alike under either form
    (the exactness sweep: PLANS.md 'One nearest-centroid kernel')."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    _check_metric(metric)
    books = [sorted(b, key=lambda c: int(c[0])) for b in books]
    C = np.array([[cv for _, cv in b] for b in books], dtype=np.float64)
    cids = np.array([[int(cid) for cid, _ in b] for b in books],
                    dtype=np.int64)
    m, k, dsub = C.shape                           # m × K × dsub
    ip = metric == "ip"
    # scores −v·c or −2·v·c (+ ‖c‖²): scaling by −1 or −2 is exact
    W = C.transpose(0, 2, 1) * (-1.0 if ip else -2.0)
    c_sq = (C * C).sum(axis=2)[:, None, :]        # m × 1 × K
    c_max = np.sqrt(c_sq.max(axis=2))              # m × 1
    sub = np.arange(m)[:, None, None]
    eps = 4.0 * (dsub + 4) * 2.0 ** -52
    top = min(n + 1, k)

    def fold(x, c):                    # R × dsub, K × dsub -> R × K
        acc = np.zeros((len(x), len(c)))
        for i in range(dsub):
            xi, ci = x[:, i, None], c[None, :, i]
            acc = acc + (xi * ci if ip else (xi - ci) * (xi - ci))
        return -acc if ip else acc

    def _nearest(v):
        vs = v.tolist()
        null = np.array([x is None for x in vs], dtype=bool)
        if null.any():                 # scored as zeros, answered null
            vs = [np.zeros(m * dsub) if z else x for z, x in zip(null, vs)]
        V = (np.array(vs, dtype=np.float64).reshape(len(vs), m, dsub)
             .transpose(1, 0, 2))                 # m × batch × dsub
        with np.errstate(all="ignore"):
            score = V @ W                         # m × batch × K
            if not ip:
                score += c_sq
            v_norm = np.sqrt(np.einsum("mbd,mbd->mb", V, V))
            delta = eps * (v_norm * c_max if ip else (v_norm + c_max) ** 2)
            near = ~np.isfinite(score).all(axis=2)
            idx, vals = [], []
            for _ in range(top):            # the top best scores, in order
                i = score.argmin(axis=2)[:, :, None]
                idx.append(i)
                vals.append(np.take_along_axis(score, i, axis=2))
                np.put_along_axis(score, i, np.inf, axis=2)
            idx = np.concatenate(idx[:n], axis=2)
            gaps = np.diff(np.concatenate(vals, axis=2), axis=2)
            near |= (gaps <= 2.0 * delta[:, :, None]).any(axis=2)
            near &= ~null
            for j in range(m):
                rows = np.flatnonzero(near[j])
                if rows.size:
                    idx[j, rows] = np.argsort(fold(V[j, rows], C[j]),
                                              axis=1, kind="stable")[:, :n]
        best = cids[sub, idx]                     # m × batch × n
        if rtype == "long":
            out = best[0, :, 0]
        else:
            rows = best[0] if rtype == "array<long>" else best[:, :, 0].T
            out = [r.tolist() for r in rows]
        if null.any():
            none = [None] * m if rtype == "array<int>" else None
            out = [none if z else x for z, x in zip(null, out)]
        return pd.Series(out)

    # real class objects, not strings: this module's `from __future__
    # import annotations` would otherwise leave pyspark unable to
    # resolve the Series hints (pandas is imported lazily here)
    _nearest.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_nearest, rtype)(F.col(vec_col).cast("array<double>"))


def _ivf_assign_col(centroids: list[tuple], vec_col: str, metric: str):
    """IVF list-id Column: the cid of the nearest centroid by
    ``metric`` ('ip' = max inner product, 'l2' = min squared L2; ties →
    smallest cid), zero shuffle; null for a null vector."""
    return _nearest_udf(vec_col, [centroids], metric, 1, "long")


def _ivf_probe_col(centroids: list[tuple], vec_col: str, nprobe: int,
                   metric: str):
    """Per-ROW probe lists: an ``array<long>`` Column of the ``nprobe``
    list ids nearest each row's vector, nearest first — the distributed
    twin of the driver-side :func:`probe_lists`, for joins where the
    QUERY side is itself a large DataFrame; null for a null vector
    (every list when ``nprobe`` covers them all)."""
    _check_metric(metric)
    nprobe = min(int(nprobe), len(centroids))
    if nprobe == len(centroids):
        # probe-everything (the exact-oracle configuration, e.g.
        # decontaminate_semantic's nprobe=nlist): the probe SET is all
        # lists regardless of per-row scores, so skip the kernel
        # outright — the downstream explode+join sees the identical
        # (q, list_id) set.
        return F.array(*[F.lit(int(cid)).cast("long")
                         for cid, _ in centroids])
    return _nearest_udf(vec_col, [centroids], metric, nprobe, "array<long>")


def _pq_codes_col(books: list[list[list[float]]], vec_col: str):
    """PQ codes ``array<int>`` Column: per sub-space j, the rank of the
    codeword of ``books[j]`` nearest slice j of the vector by squared L2
    (ties → smallest code, the oracle's rn=1 over (d2 ASC, code ASC));
    null codes for a null vector."""
    return _nearest_udf(vec_col, [list(enumerate(b)) for b in books],
                        "l2", 1, "array<int>")


def probe_lists(query_vec: list[float], centroids: list[tuple],
                nprobe: int, metric: str) -> "list[int]":
    """The ``nprobe`` list ids nearest one query by ``metric`` — the
    driver-side twin of the kernel (same scores, ties → smallest
    cid)."""
    _check_metric(metric)
    q = [float(x) for x in query_vec]

    def score(cv):
        if metric == "ip":
            return -sum(a * b for a, b in zip(q, cv))
        return sum((a - b) * (a - b) for a, b in zip(q, cv))
    ranked = sorted((score(cv), cid) for cid, cv in centroids)
    return [int(cid) for _, cid in ranked[:nprobe]]


def ivf_knn_join(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 nlist: "int | None" = None, nprobe: "int | None" = None,
                 centroids: "list[tuple] | None" = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                 metric: str = "ip") -> DataFrame:
    """Distributed ANN join: for EVERY query vector its k approximate
    nearest corpus vectors — where BOTH sides are large DataFrames, the
    case :func:`knn_join`'s broadcast-the-queries plan cannot serve.

    Shape (the IVF join): assign each corpus row to its inverted list,
    probe each query's ``nprobe`` nearest lists, equi-join on
    ``list_id``, exact re-rank, per-query top-k.  No broadcast of either
    side, no cross join — the pair count is |Q|·nprobe·(n/nlist) instead
    of |Q|·n, and the only corpus-sized exchanges are the two hash
    shuffles (by list_id, then by q_id).  With √n ``auto_nlist`` and
    fixed nprobe the compared fraction shrinks as the corpus grows —
    the 100 TB shape for cross-dataset semantic dedup / train-vs-bench
    decontamination.  Skewed lists (heavily clustered corpora) are AQE
    skew-join territory; ``lloyd_refine``-ed centroids balance them at
    build time.

    ``metric='ip'`` ranks by exact cosine (returns (q_id, id, rank,
    cosine), :func:`knn_join`-compatible); ``'l2'`` by squared L2
    (returns (q_id, id, rank, dist2)).  Assignment always uses the same
    metric as the rank.  Deterministic given ``centroids`` (default: the
    :func:`ivf_centroids` sampling quantizer over the corpus), so a SQL
    oracle can replay the whole join at any nlist.

    Reference parity: the reference answers many-query search by looping
    single-query HNSW searches on one node (HNSW.cpp:167-215); this is
    the set-oriented equivalent."""
    if centroids is None:
        n = nlist or auto_nlist(corpus.count())
        centroids = ivf_centroids(corpus, n, id_col, vec_col)
    nprobe = nprobe or default_nprobe(len(centroids))
    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"),
                      _ivf_assign_col(centroids, vec_col, metric)
                      .alias("list_id"))
    qbase = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_vec_col).cast("array<double>").alias("qv"))
    if metric == "ip":
        c, qbase = _with_norms(c, qbase)
    q = qbase.withColumn(
        "list_id", F.explode(_ivf_probe_col(centroids, "qv", nprobe, metric)))
    # each corpus row lives in exactly ONE list, so a (q, c) pair joins
    # at most once — no post-join dedup needed
    return _rank_join_pairs(q.join(c, "list_id"), k, metric)


def ivf_knn_join_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                         nprobe: "int | None" = None,
                         q_id_col: str = "q_id",
                         q_vec_col: str = "q_vec") -> DataFrame:
    """:func:`ivf_knn_join` with the corpus side served from a PERSISTED
    materialized IVF index (:func:`save_ivf_index` with
    ``include_vectors=True``): assignment cost was paid once at build
    time, the scan arrives already hash-partitioned by ``list_id`` on
    disk, and the join's corpus side needs no recompute — the
    steady-state shape for a corpus that is searched by many query
    batches.  Probes with the index's own metric and centroids."""
    index, params = load_index(spark, path, "ivf")
    if not params.get("include_vectors"):
        raise ValueError("ivf_knn_join_indexed requires a MATERIALIZED "
                         "index (save_ivf_index(include_vectors=True))")
    metric = params.get("metric", "ip")
    cents = params["centroids"]
    nprobe = nprobe or default_nprobe(len(cents))
    qbase = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_vec_col).cast("array<double>").alias("qv"))
    c = index.select("id", F.col("_vec").cast("array<double>").alias("v"),
                     "list_id")
    if metric == "ip":
        c, qbase = _with_norms(c, qbase)
    q = qbase.withColumn(
        "list_id", F.explode(_ivf_probe_col(cents, "qv", nprobe, metric)))
    return _rank_join_pairs(q.join(c, "list_id"), k, metric)


def _with_norms(c: DataFrame, q: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """Attach the per-row norms ``_nv`` (corpus ``v``) and ``_nq``
    (query ``qv``) that :func:`_rank_join_pairs` needs for 'ip' —
    computed once per row BEFORE the pair stage (and, on a probed query
    side, below the probe Generate), not once per pair, so each pair
    folds only the dot."""
    return (c.withColumn("_nv", F.expr(f"sqrt({sq_norm_sql('v')})")),
            q.withColumn("_nq", F.expr(f"sqrt({sq_norm_sql('qv')})")))


def _rank_join_pairs(joined: DataFrame, k: int, metric: str) -> DataFrame:
    """Exact re-rank + per-query top-k over (q_id, qv, id, v) candidate
    pairs: cosine desc for 'ip' (column ``cosine``, over the
    :func:`_with_norms` columns), squared L2 asc for 'l2' (column
    ``dist2``); ties → smallest id.  A pair whose score is null (a null
    vector on either side) is dropped."""
    if metric == "ip":
        score = f"{dot_sql('v', 'qv')} / (_nv * _nq)"
        order, out_col = F.col("_s").desc(), "cosine"
    else:
        score = sq_l2_sql("v", "qv")
        order, out_col = F.col("_s").asc(), "dist2"
    w = Window.partitionBy("q_id").orderBy(order, F.col("id").asc())
    return (joined.withColumn("_s", F.expr(score))
            .where(F.col("_s").isNotNull())
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("q_id", "id", "rank",
                    F.round("_s", 4).alias(out_col)))


def _projection_vectors(dim: int, n_planes: int, seed: str) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(seed, plane, i) —
    reproducible across runs/engines with no RNG state."""
    planes = []
    for p in range(n_planes):
        vec = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            # map 8 hex chars → [-1, 1)
            vec.append(int(h[:8], 16) / float(2 ** 31) - 1.0)
        planes.append(vec)
    return planes


def projection_offsets(df: DataFrame, dim: int, n_planes: int = 8,
                       n_tables: int = 2, seed: str = "gqlite",
                       vec_col: str = "embedding",
                       normalize: bool = True) -> list[list[float]]:
    """Per-(table, plane) centering offsets: the projection of the corpus
    mean (of L2-normalized vectors) onto each hyperplane.

    Sign-random-projection assumes data spread around the origin; real
    embedding corpora are anisotropic (e.g. all-positive activations), and
    uncentered SRP then collapses most rows into a handful of buckets —
    measured 9% of a 100 k corpus in ONE bucket — making the candidate join
    quadratic again.  Centering costs one aggregate pass (dim-sized result)
    and restores balanced buckets.  sign(dot(v−m, p)) = sign(dot(v,p) −
    dot(m,p)), so centering is a scalar offset per plane at bucketing time.
    """
    v = F.col(vec_col).cast("array<double>")
    if normalize:
        # norm in its own projection first — embedding the fold in the
        # transform lambda re-evaluates it per element (O(dim²) per row,
        # the winnow_fingerprints lesson); values are bit-identical
        src = (df.select(v.alias("_v"))
               .select("_v", F.expr(f"sqrt({sq_norm_sql('_v')})")
                       .alias("_nrm")))
        v = F.transform("_v", lambda x: x / F.col("_nrm"))
    else:
        src = df
    comp = (src.select(F.posexplode(v).alias("pos", "x"))
            .groupBy("pos").agg(F.avg("x").alias("m")))
    mean = [0.0] * dim
    for r in comp.collect():
        mean[r["pos"]] = r["m"] or 0.0
    out = []
    for t in range(n_tables):
        planes = _projection_vectors(dim, n_planes, f"{seed}:{t}")
        out.append([sum(a * b for a, b in zip(mean, p)) for p in planes])
    return out


def random_projection_buckets(df: DataFrame, dim: int, n_planes: int = 8,
                              n_tables: int = 2, seed: str = "gqlite",
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              normalize: bool = False,
                              offsets: "list[list[float]] | None" = None
                              ) -> DataFrame:
    """Sign-random-projection LSH: (id, table, bucket) — same-bucket rows are
    ANN candidates.  ~n/2^planes per bucket; tune planes to corpus size.

    ``normalize`` projects the L2-normalized vector (pure cosine bucketing);
    ``offsets`` (from :func:`projection_offsets`) centers the projections so
    anisotropic corpora still spread across buckets.  Queries must be
    bucketed with the SAME normalize/offsets to match."""
    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
    if normalize:
        # materialize the norm in its own projection FIRST: referencing
        # the norm fold inside the transform lambda would re-evaluate it
        # per element (O(dim²) per row — the winnow_fingerprints lesson)
        nrm = F.expr(f"sqrt({sq_norm_sql('v')})")
        v = (v.select("id", "v", nrm.alias("_nrm"))
             .select("id", F.transform(
                 "v", lambda x: x / F.col("_nrm")).alias("v")))
    # bucket expression as ONE SQL string per table (not n_planes × dim
    # py4j F.lit round trips, ~2 s of plan construction at 16 × 64d
    # literals); identical
    # folds, offsets, comparisons, and bit weights as the Column form
    out = None
    for t in range(n_tables):
        planes = _projection_vectors(dim, n_planes, f"{seed}:{t}")
        bits = []
        for pi, plane in enumerate(planes):
            off = _f17(offsets[t][pi] if offsets is not None else 0.0)
            dot = dot_sql("v", vec_sql(plane))
            bits.append(f"(case when {dot} - {off} >= 0 then 1L else 0L "
                        f"end) * {2 ** pi}L")
        bucket = F.expr("cast(0 as bigint) + " + " + ".join(bits))
        part = v.select("id", F.lit(t).alias("table"), bucket.alias("bucket"))
        out = part if out is None else out.unionByName(part)
    return out


def query_buckets(query_vec: list[float], dim: int, n_planes: int = 8,
                  n_tables: int = 2, seed: str = "gqlite",
                  normalize: bool = False,
                  offsets: "list[list[float]] | None" = None
                  ) -> list[tuple[int, int]]:
    """The (table, bucket) pairs a query vector hashes to — driver-side
    mirror of :func:`random_projection_buckets` (same planes, same
    normalize/offsets), used to prune the index scan."""
    q = [float(x) for x in query_vec]
    if normalize:
        n = math.sqrt(sum(x * x for x in q)) or 1.0
        q = [x / n for x in q]
    wanted = []
    for t in range(n_tables):
        planes = _projection_vectors(dim, n_planes, f"{seed}:{t}")
        b = 0
        for pi, plane in enumerate(planes):
            off = offsets[t][pi] if offsets is not None else 0.0
            if sum(a * b_ for a, b_ in zip(q, plane)) - off >= 0:
                b += 2 ** pi
        wanted.append((t, b))
    return wanted


def _bucket_filter(wanted: list[tuple[int, int]]):
    cond = None
    for t, b in wanted:
        c = (F.col("table") == t) & (F.col("bucket") == b)
        cond = c if cond is None else cond | c
    return cond


def ann_topk(df: DataFrame, query_vec: list[float], dim: int, k: int = 10,
             n_planes: int = 8, n_tables: int = 2, seed: str = "gqlite",
             id_col: str = "vec_id", vec_col: str = "embedding",
             index: "DataFrame | None" = None) -> DataFrame:
    """Approximate top-k: restrict to LSH buckets matching the query in any
    table, then exact cosine re-rank.  The 100 TB path: the bucket filter
    prunes the scan to ~n_tables/2^planes of the corpus.

    ``index``: a persisted bucket table from :func:`save_ann_index` /
    ``load_index(spark, path, 'lsh')`` — skips recomputing projections
    over the whole corpus (the reference persists its HNSW index per layer,
    HNSW.cpp:282-328; the bucket table is this engine's index)."""
    buckets = index if index is not None else random_projection_buckets(
        df, dim, n_planes, n_tables, seed, id_col, vec_col)
    q = [float(x) for x in query_vec]
    wanted = query_buckets(q, dim, n_planes, n_tables, seed)
    cand_ids = buckets.filter(_bucket_filter(wanted)).select("id").distinct()
    cand = df.join(cand_ids.withColumnRenamed("id", id_col), id_col)
    return cosine_topk(cand, q, k, id_col, vec_col)


def save_ann_index(df: DataFrame, path: str, dim: int, n_planes: int = 8,
                   n_tables: int = 2, seed: str = "gqlite",
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   center: bool = False) -> None:
    """Compute the LSH bucket table ONCE and persist it as the ``'lsh'``
    index (parquet sorted by (table, bucket) for row-group pruning + a
    params sidecar; :func:`load_index`).  Index persistence parity with
    the reference's per-layer HNSW serialization (HNSW.cpp:282-328):
    queries against a saved index never rescan the corpus to rebuild
    buckets.  ``center=True`` stores mean-centering offsets
    (projection_offsets) for anisotropic corpora."""
    offsets = (projection_offsets(df, dim, n_planes, n_tables, seed,
                                  vec_col=vec_col) if center else None)
    buckets = random_projection_buckets(df, dim, n_planes, n_tables, seed,
                                        id_col, vec_col,
                                        normalize=center, offsets=offsets)
    _write_index(buckets.repartition("table", "bucket")
                 .sortWithinPartitions("table", "bucket"), path, "lsh",
                 {"dim": dim, "n_planes": n_planes, "n_tables": n_tables,
                  "seed": seed, "id_col": id_col, "vec_col": vec_col,
                  "center": center, "offsets": offsets})


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> list assignment -> probe
# ---------------------------------------------------------------------------

def ivf_centroids(df: DataFrame, nlist: int = 16, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[tuple]:
    """Deterministic coarse quantizer: the ``nlist`` lowest-id corpus
    vectors as centroids (a sampling quantizer — reproducible across
    engines with no RNG/training state, so an external SQL oracle can
    rebuild the identical index; :func:`_sample`).  For production
    recall, refine with :func:`lloyd_refine`.  Returns [(cid, vector),
    ...] sorted by cid."""
    return _sample(df, id_col, vec_col, nlist=nlist)["centroids"]


def lloyd_refine(df: DataFrame, centroids: list[tuple], iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 metric: str = "ip") -> list[tuple]:
    """k-means (Lloyd) refinement of IVF centroids assigned by the
    chosen metric (max inner product or min squared L2) — the one
    build loop, :func:`_lloyd`.  Refined centroids are float means
    (engine-order-dependent sums), so use the UNREFINED sampling
    quantizer when an external oracle must rebuild the index
    bit-for-bit."""
    return _lloyd(df, vec_col, iters,
                  {"centroids": centroids, "metric": metric})["centroids"]


def ivf_assign(df: DataFrame, centroids: list[tuple],
               id_col: str = "vec_id", vec_col: str = "embedding",
               metric: str = "ip") -> DataFrame:
    """(id, list_id) inverted-file assignment, zero shuffle
    (:func:`_ivf_assign_col`)."""
    return df.select(F.col(id_col).alias("id"),
                     _ivf_assign_col(centroids, vec_col, metric)
                     .alias("list_id"))


def ivf_topk(df: DataFrame, query_vec: list[float], centroids: list[tuple],
             nprobe: int = 4, k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF ANN top-k: filter the corpus to the query's nprobe nearest
    inverted lists (the kernel's list-id Column — no join), exact cosine
    re-rank on the ~nprobe/nlist surviving fraction.

    The FAISS-style IVF shape re-expressed relationally; complements the
    LSH path (ann_topk) as the second bucketed ANN strategy.  Reference
    index parity: HNSW.cpp build/search."""
    lists = probe_lists(query_vec, centroids, nprobe, "ip")
    cand = df.where(_ivf_assign_col(centroids, vec_col, "ip").isin(lists))
    return cosine_topk(cand, [float(x) for x in query_vec], k,
                       id_col, vec_col)


def default_nprobe(nlist: int) -> int:
    """Routed-$near probe width when the user didn't choose one
    (``spark.gqlite.knn.nprobe`` unset): ``max(8, nlist // 64)``.

    A FIXED nprobe with the √n-scaled :func:`auto_nlist` means the
    probed fraction shrinks as the corpus grows (8/1000 = 0.8% at 1 M,
    8/3162 = 0.25% at 10 M) and recall silently decays at scale; tying
    the default to nlist keeps the probed fraction ≥ ~1.5% of lists.
    Measured sweep: PLANS.md 'nprobe scaling past 1 M (r8)' (recall@10
    vs nprobe at 1 M×16d / 10 M×16d / 1 M×256d)."""
    return max(8, int(nlist) // 64)


def auto_nlist(n: int) -> int:
    """Inverted-list count for an ``n``-vector corpus when the caller
    didn't choose one: √n clamped to [16, 65536] — the standard IVF
    sizing (keeps both the centroid table and the per-list size √n)."""
    import math
    return min(65536, max(16, math.isqrt(max(1, n))))


def save_ivf_index(df: DataFrame, path: str, nlist: int = 16,
                   refine_iters: int = 0, id_col: str = "vec_id",
                   vec_col: str = "embedding", metric: str = "ip",
                   include_vectors: bool = False) -> None:
    """Persist the inverted file: (id, list_id) parquet partitioned by
    list_id (probe reads only its partitions) + centroid sidecar.  Same
    index-persistence contract as save_ann_index.

    ``metric='l2'`` assigns by min squared L2 instead of max inner
    product — the index form the cost-routed GQL ``$near``+limit path
    consumes (``Group.attach_index``).  ``refine_iters`` Lloyd
    iterations are metric-matched (assignment uses the chosen metric;
    see :func:`lloyd_refine`); leave 0 when an external SQL oracle must
    rebuild the index bit-for-bit (refined centroids are float means).

    ``include_vectors=True`` MATERIALIZES the vector column into the
    index partitions (a FAISS-style inverted file holding the data, not
    just ids).  This is what makes ANN routing actually faster at
    scale: a probed query then READS only nprobe/nlist of the vector
    data via partition pruning.  An id-only index can only semi-join
    the corpus — the full corpus scan still happens, it just skips the
    top-k for unprobed rows (measured at 1 M × 64d: exact full scan
    1.0 s; id-only routing saves nothing; per-row inline centroid
    assignment COSTS 124 s — PLANS.md 'Cost-based $near+limit
    routing')."""
    _save_index(df, path, "ivf", nlist=nlist, m=1, ksub=0,
                refine_iters=refine_iters, id_col=id_col, vec_col=vec_col,
                metric=metric, include_vectors=include_vectors)


# Access-path selection threshold: below this corpus size, exact brute-force
# top-k (one scan + TakeOrderedAndProject) beats LSH's extra passes; above
# it, bucket pruning wins.  Mirrors the reference's cost-ordered candidate
# selection (GScanPlan::evaluate, ScanPlan.cpp:564-573) at the planner level.
BRUTE_FORCE_LIMIT = 10_000_000


def knn_auto(df: DataFrame, query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             brute_force_limit: int = BRUTE_FORCE_LIMIT,
             approx_count: "int | None" = None) -> DataFrame:
    """Cost-based kNN access path: exact brute-force under
    ``brute_force_limit`` rows, LSH-bucketed ANN above it.

    ``approx_count`` lets callers pass a catalog estimate; otherwise a
    count() runs (parquet metadata count — no data scan)."""
    n = approx_count if approx_count is not None else df.count()
    if n <= brute_force_limit:
        return cosine_topk(df, query_vec, k, id_col, vec_col)
    dim = len(query_vec)
    # planes sized so expected bucket ≈ max(4k, 4096) candidates
    import math as _m
    target = max(4 * k, 4096)
    planes = max(4, min(16, int(_m.log2(max(2, n / target)))))
    return ann_topk(df, query_vec, dim=dim, k=k, n_planes=planes,
                    id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed codes + asymmetric-distance search
# --------------------------------------------------------------------------

def pq_codebooks(df: DataFrame, m: int = 8, ksub: int = 64,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> list[list[list[float]]]:
    """Deterministic per-subspace PQ codebooks: the ``ksub`` lowest-id
    corpus vectors' sub-vectors, code = rank order (the same sampling-
    quantizer convention as :func:`ivf_centroids` — no RNG/training
    state, so an external SQL oracle rebuilds the identical codebooks).
    Returns ``books[j][code] = sub-vector`` for subspace j of m.  The
    vector dim must divide evenly by ``m``.

    Defaults are the MEASURED-recall config (1 M-vector probe,
    PLANS.md): m=8/ksub=64 = 48 code bits → 98.8% recall@10 at
    candidates = 0.1% of the corpus.  The old m=4/ksub=16 (16 bits) was
    shown too coarse — 13.8% recall@10 — and survives only as an
    explicit argument where an oracle needs a tiny codebook."""
    return _sample(df, id_col, vec_col, m=m, ksub=ksub)["books"]


def pq_refine(df: DataFrame, books: list[list[list[float]]],
              iters: int = 2, id_col: str = "vec_id",
              vec_col: str = "embedding") -> list[list[list[float]]]:
    """Per-subspace Lloyd (k-means) refinement of PQ codebooks — the
    one build loop, :func:`_lloyd` (every subspace encoded in the same
    select, every codeword mean in the same groupBy).  Refined books
    are float means (engine-order-dependent sums), so use the UNREFINED
    sampling books when an external oracle must rebuild the codes
    bit-for-bit; use refined books when recall matters."""
    return _lloyd(df, vec_col, iters, {"books": books})["books"]


def pq_encode(df: DataFrame, books: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """(id, codes array<int>) PQ compression, zero shuffle: one
    Arrow-batched matmul per sub-space over the scan, near-ties settled
    by the in-order fold (:func:`_pq_codes_col`).  m bytes-ish
    per vector instead of dim floats: the representation that makes
    billion-vector ANN memory-resident.  Encode once and persist the
    codes table; scans of the code table replace scans of the vectors."""
    return df.select(F.col(id_col).alias("id"),
                     _pq_codes_col(books, vec_col).alias("codes"))


def pq_topk(df: DataFrame, query_vec: list[float],
            books: list[list[list[float]]], k: int = 10,
            candidates: int = 50, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ ANN top-k by asymmetric distance (ADC): the query's per-
    subspace distance table to every codebook entry is computed driver-
    side (m × ksub doubles) and inlined, so the scan encodes each vector
    (:func:`_pq_codes_col`) and ranks it by ``Σ_j adc_j[code_j]`` —
    table lookups + m-term add — then the ``candidates`` best are
    re-ranked by exact cosine.  Third bucketed-ANN strategy beside LSH
    (ann_topk) and IVF (ivf_topk); reference index parity HNSW.cpp.

    The ADC python floats, the in-plan fold, and the SQL oracle's
    in-order list sums are all left-associated over the same element
    order, so candidate sets replay exactly cross-engine.  A row with a
    null vector (null codes) ranks after every candidate."""
    q = [float(x) for x in query_vec]
    cand = (df.select(F.col(id_col), F.col(vec_col),
                      _pq_codes_col(books, vec_col).alias("codes"))
            .withColumn("_adc", _adc_expr(q, books))
            .orderBy(F.col("_adc").asc_nulls_last(), F.col(id_col).asc())
            .limit(candidates))
    return cosine_topk(cand, q, k, id_col, vec_col)


def _adc_expr(query_vec: list[float], books: list[list[list[float]]]):
    """ADC score ``Σ_j adc_j[code_j]`` of the ``codes`` column: the
    query's per-subspace squared-L2 table to every codeword (m × ksub
    doubles, driver-side) inlined as array literals — per row m
    element_at lookups + adds, no vector math."""
    q = [float(x) for x in query_vec]
    dsub = len(books[0][0])
    terms = []
    for j, book in enumerate(books):
        qsub = q[j * dsub:(j + 1) * dsub]
        adc = [sum((a - b) * (a - b) for a, b in zip(qsub, cent))
               for cent in book]
        terms.append(f"element_at({vec_sql(adc)}, "
                     f"element_at(codes, {j + 1}) + 1)")
    return F.expr(" + ".join(terms))


def save_pq_index(df: DataFrame, path: str, m: int = 8, ksub: int = 64,
                  refine_iters: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> None:
    """Persist the PQ index: the (id, codes) table as parquet (m small
    ints per vector — the compressed representation that replaces corpus
    scans) + codebook sidecar.  Same persistence contract as
    save_ann_index / save_ivf_index.

    Defaults follow the 1 M-vector recall probe (PLANS.md): recall is
    bound by total code bits m·log2(ksub), so m=8/ksub=64 with 2 Lloyd
    refinement iterations (98.8% recall@10 at candidates = 0.1% of the
    corpus); a recall tripwire test guards these defaults against
    silent quantizer regressions.  Pass ``refine_iters=0`` when an
    external SQL oracle must rebuild the codebooks bit-for-bit (refined
    books are float means — engine-order-dependent); the sampling books
    alone are deterministic."""
    _save_index(df, path, "pq", nlist=0, m=m, ksub=ksub,
                refine_iters=refine_iters, id_col=id_col, vec_col=vec_col,
                metric="l2")


# --------------------------------------------------------------------------
# IVF+PQ (IVFADC) — partition-pruned inverted lists holding PQ codes
# --------------------------------------------------------------------------

def save_ivfpq_index(df: DataFrame, path: str, nlist: int = 16,
                     m: int = 8, ksub: int = 64, refine_iters: int = 0,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     metric: str = "l2") -> None:
    """Persist an IVF+PQ (IVFADC) index: inverted lists partitioned by
    ``list_id`` whose rows are (id, codes) — PQ codes, NOT vectors.

    This composes the repo's two scale levers for ANN over one layout
    (the FAISS IVFADC shape, Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"):

    - the IVF partitioning changes what is READ: a probed query scans
      only nprobe/nlist of the index partitions (plan-level
      ``PartitionFilters``), exactly like the materialized full-vector
      index (``save_ivf_index(include_vectors=True)``);
    - the PQ codes change how much each read row COSTS: m small ints
      instead of dim floats, so the probed partitions are ~dim·4/m
      times smaller than materialized vectors, and scoring is m table
      lookups + adds instead of per-row vector math.

    At 100 TB of raw vectors a full-vector materialized index doubles
    storage; the IVFPQ index at m=8 over 768-dim float vectors is
    ~1/384 of the corpus — small enough to replicate hot, cheap enough
    to rebuild.  Measured at 1 M × 256d (PLANS.md 'IVFPQ at 256d'):
    55 MB vs 1,014 MB full-vector (19–24×, linear in dim), query 1.18 s
    vs 1.84–2.63 s exact at recall@10 1.00.  Design guidance from the
    same study: the full-vector index is the LATENCY champion when its
    storage is affordable — IVFPQ is the form you replicate when the
    corpus is 100 TB and the index must not be.

    **Sizing the search's ``candidates`` (the recall knob that actually
    matters at saturation)**: within a dense region, vectors differ by
    less than any affordable code resolution, so ADC finds the right
    region but cannot rank INSIDE it — recall goes to 1.0 only once
    ``candidates`` exceeds the count of rows indistinguishable at code
    resolution (the near-duplicate density; measured: cand=1000 →
    55 %, cand=5000 > cluster size → 100 %).  More code bits (m) or
    Lloyd refinement do NOT substitute — both were measured flat on a
    saturated corpus.

    Build is SINGLE-PASS: coarse assignment and PQ encoding are both
    the one nearest-centroid kernel (one Arrow matmul per sub-space)
    carried through one select — no corpus self-join, one write
    exchange only.  Each of the
    ``refine_iters`` Lloyd iterations refines BOTH quantizers in one
    aggregation (:func:`_lloyd`); leave 0 when an
    external SQL oracle must rebuild the index bit-for-bit (refined
    centroids/codebooks are float means).  Same persistence contract
    (Hadoop-FS sidecars, cluster-portable paths) as save_ivf_index;
    reference index persistence parity HNSW.cpp:282-328."""
    _save_index(df, path, "ivfpq", nlist=nlist, m=m, ksub=ksub,
                refine_iters=refine_iters, id_col=id_col, vec_col=vec_col,
                metric=metric)


# --------------------------------------------------------------------------
# Index build: one quantizer sample, one Lloyd loop, one per-row columns step
# --------------------------------------------------------------------------

def _sample(df: DataFrame, id_col: str, vec_col: str, nlist: int = 0,
            m: int = 1, ksub: int = 0) -> dict:
    """The sampling quantizers from ONE TakeOrdered fetch of the
    ``max(nlist, ksub)`` lowest-id rows with a non-null vector: the
    first ``nlist`` rows are the IVF ``centroids`` [(cid, vector), ...]
    and the first ``ksub`` rows, sliced into ``m`` sub-spaces, the PQ
    ``books`` (``books[j][code]`` = sub-vector j of row ``code``).  A
    smaller corpus yields fewer centroids / codewords.  The dim must
    divide evenly by ``m``."""
    rows = (df.where(F.col(vec_col).isNotNull())
            .orderBy(id_col).limit(max(nlist, ksub))
            .select(F.col(id_col).alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("cv"))
            .collect())
    if not rows:
        raise ValueError(f"no '{vec_col}' vectors to sample a quantizer "
                         "from: the corpus has none")
    rows = [(r["cid"], list(r["cv"])) for r in rows]
    q: dict = {}
    if nlist:
        q["centroids"] = rows[:nlist]
    if ksub:
        dim = len(rows[0][1])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        q["books"] = [[v[j * dsub:(j + 1) * dsub] for _, v in rows[:ksub]]
                      for j in range(m)]
    return q


def _lloyd(df: DataFrame, vec_col: str, iters: int, q: dict) -> dict:
    """Lloyd (k-means) refinement of the quantizers in ``q`` — IVF
    ``centroids`` under ``q['metric']`` and/or PQ ``books`` (squared
    L2) — returning a refined copy.  Each quantizer is a list of
    per-sub-space ``(cid, vector)`` books (IVF: one book, cid = list
    id; PQ: m books, cid = code).  Each iteration assigns every
    quantizer in ONE select of the index's own per-row columns
    (:func:`_index_columns`: no corpus shuffle) and recomputes every
    mean with ONE groupBy over (quantizer, sub-space, code, pos), so
    IVFPQ refines both quantizers in one aggregation.  Quantizer state
    is model-sized on the driver at any corpus scale; a list or
    codeword that captures no vector keeps its previous value (the
    standard empty-cluster handling; nlist/ksub are preserved)."""
    q = dict(q)
    for _ in range(iters):
        parts = []
        if "centroids" in q:
            parts.append("array(named_struct('q', 0, 'j', 0, "
                         "'c', cast(list_id as long), 's', _v))")
        if "books" in q:
            dsub = len(q["books"][0][0])
            parts.append(f"transform(codes, (c, j) -> named_struct('q', 1, "
                         f"'j', j, 'c', cast(c as long), "
                         f"'s', slice(_v, j * {dsub} + 1, {dsub})))")
        # a null vector has null codes and no elements: no contribution
        means = (df.select(F.col(vec_col).cast("array<double>").alias("_v"),
                           *_index_columns(q, vec_col))
                 .select(F.explode(F.expr(f"concat({', '.join(parts)})"))
                         .alias("t"))
                 .select("t.q", "t.j", "t.c",
                         F.posexplode("t.s").alias("pos", "x"))
                 .groupBy("q", "j", "c", "pos")
                 .agg(F.avg("x").alias("m")).collect())
        table: dict = {}
        for r in means:
            table.setdefault((r["q"], r["j"], r["c"]), {})[r["pos"]] = r["m"]

        def refit(qi, j, book):
            return [(cid, [table[(qi, j, cid)][i] for i in range(len(cv))]
                     if (qi, j, cid) in table else cv) for cid, cv in book]
        if "centroids" in q:
            q["centroids"] = refit(0, 0, q["centroids"])
        if "books" in q:
            q["books"] = [[cv for _, cv in refit(1, j, enumerate(book))]
                          for j, book in enumerate(q["books"])]
    return q


def _index_columns(params: dict, vec_col: str) -> list:
    """The per-row columns of the index format from its ``params``:
    ``list_id`` (the nearest centroid by the params' metric) when they
    hold ``centroids``, PQ ``codes`` when they hold ``books``, and the
    vector itself as ``_vec`` when ``include_vectors`` is set — all
    carried through one select, so a build is one scan and one write
    (no re-join of the corpus).  The index build, the Lloyd loop and
    ``Group.compact_into_index`` all compute their rows here."""
    cols = []
    if "centroids" in params:
        cols.append(_ivf_assign_col(params["centroids"], vec_col,
                                    params.get("metric", "ip"))
                    .alias("list_id"))
    if "books" in params:
        cols.append(_pq_codes_col(params["books"], vec_col).alias("codes"))
    if params.get("include_vectors"):
        cols.append(F.col(vec_col).alias("_vec"))
    return cols


def _save_index(df: DataFrame, path: str, kind: str, nlist: int, m: int,
                ksub: int, refine_iters: int, id_col: str, vec_col: str,
                metric: str, include_vectors: bool = False) -> dict:
    """The one quantized-index build behind :func:`save_ivf_index`,
    :func:`save_pq_index` and :func:`save_ivfpq_index`: over the rows
    with a non-null vector, sample the quantizers the ``kind`` needs
    (IVF centroids unless 'pq', PQ books unless 'ivf'; :func:`_sample`),
    refine them with ``refine_iters`` Lloyd iterations
    (:func:`_lloyd`), compute the per-row columns
    (:func:`_index_columns`) and write them with the params sidecar
    (:func:`_write_index`; IVF kinds partitioned by ``list_id``).  The
    sidecar records the FITTED nlist/ksub, which are smaller than the
    requested ones on a corpus with fewer vectors.  Returns the
    params."""
    df = df.where(F.col(vec_col).isNotNull())
    ivf, pq = kind != "pq", kind != "ivf"
    q = _sample(df, id_col, vec_col, nlist=nlist if ivf else 0, m=m,
                ksub=ksub if pq else 0)
    if ivf:
        q["metric"] = metric
    q = _lloyd(df, vec_col, refine_iters, q)
    params = {"nlist": len(q["centroids"]) if ivf else None,
              "m": m if pq else None,
              "ksub": len(q["books"][0]) if pq else None,
              "id_col": id_col, "vec_col": vec_col,
              "metric": metric if ivf else None,
              "include_vectors": include_vectors if kind == "ivf" else None,
              "centroids": q.get("centroids"), "books": q.get("books")}
    params = {k: v for k, v in params.items() if v is not None}
    _write_index(df.select(F.col(id_col).alias("id"),
                           *_index_columns(params, vec_col)),
                 path, kind, params, partition_by="list_id" if ivf else None)
    return params


# --------------------------------------------------------------------------
# Persisted indexes: one format, one loader, one search
# --------------------------------------------------------------------------

def index_data_path(path: str, kind: str) -> str:
    """The parquet of a persisted ``kind`` ('lsh', 'ivf', 'pq' or
    'ivfpq') index at ``path``."""
    from .. import fsio
    return fsio.join(path, kind + ".parquet")


def index_params_path(path: str, kind: str) -> str:
    """The params sidecar of a persisted ``kind`` index at ``path``."""
    from .. import fsio
    return fsio.join(path, kind + "_params.json")


def _write_index(frame: DataFrame, path: str, kind: str, params: dict,
                 partition_by: "str | None" = None) -> None:
    """Write ``frame`` and its ``params`` sidecar as the ``kind`` index
    at ``path``, the one persisted-index format.  The sidecar goes
    through the Hadoop FS API: the index path may be shared storage
    (s3a://, hdfs://) — driver-local open() would pin the whole index
    lifecycle to one box (VERDICT r7 missing #1)."""
    from .. import fsio
    writer = frame.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(index_data_path(path, kind))
    fsio.write_json(frame.sparkSession, index_params_path(path, kind),
                    params)


def load_index_params(spark, path: str, kind: str) -> dict:
    """Read the params sidecar of a persisted ``kind`` index, with any
    centroids as ``(cid, vector)`` tuples."""
    from .. import fsio
    params = fsio.read_json(spark, index_params_path(path, kind))
    if "centroids" in params:
        params["centroids"] = [(cid, cv) for cid, cv in params["centroids"]]
    return params


def load_index(spark, path: str, kind: str) -> "tuple[DataFrame, dict]":
    """(index DataFrame, params) of the persisted ``kind`` index at
    ``path``, for :func:`topk_indexed`."""
    params = load_index_params(spark, path, kind)
    return spark.read.parquet(index_data_path(path, kind)), params


def topk_indexed(df: DataFrame, query_vec: list[float], index: DataFrame,
                 params: dict, k: int = 10, nprobe: int = 4,
                 candidates: int = 1000) -> DataFrame:
    """Top-k against a persisted index (:func:`load_index`), exact
    cosine re-rank over the corpus ``df``; no quantizer recomputation
    over the corpus.  The steps follow what the index holds:

    - LSH buckets (:func:`save_ann_index`): keep the query's (table,
      bucket) keys, pushed to the sorted parquet scan;
    - inverted lists (:func:`save_ivf_index`): keep the ``nprobe``
      lists nearest the query by the sidecar's metric — a
      partition-pruned read;
    - PQ codes (:func:`save_pq_index`): ADC-rank the remaining codes
      (m lookups + adds per row — the scan is ~dim·4/m times smaller
      than the corpus) and broadcast-join the ``candidates`` best ids
      to the corpus; IVFPQ (:func:`save_ivfpq_index`) is the list step
      followed by this one;
    - otherwise the remaining ids semi-join the corpus.

    Re-rank fetch design (measured, r8): a driver-collected
    ``isin(candidate_ids)`` point-fetch with parquet IN pushdown was
    tried and LOST to the broadcast join at 1 M × 16d (1.60 vs 1.25
    s/query on a parquet corpus, 1.4 vs 0.6 in-memory): ANN winners are
    semantically close but id-UNIFORM, so row-group min/max stats prune
    nothing, and the extra collect job + 1000-literal plan analysis is
    pure overhead (PLANS.md 'IVFPQ re-rank fetch').  Ties break by id at
    every stage, so results are deterministic and SQL-oracle
    replayable."""
    q = [float(x) for x in query_vec]
    id_col, vec_col = params["id_col"], params["vec_col"]
    lsh = "n_planes" in params
    if lsh:
        index = index.filter(_bucket_filter(query_buckets(
            q, params["dim"], params["n_planes"], params["n_tables"],
            params["seed"], normalize=params.get("center", False),
            offsets=params.get("offsets"))))
    if "centroids" in params:
        index = index.where(F.col("list_id").isin(probe_lists(
            q, params["centroids"], nprobe, params.get("metric", "ip"))))
    if "books" in params:
        ids = (index.select("id", _adc_expr(q, params["books"])
                            .alias("_adc"))
               .orderBy(F.col("_adc").asc(), F.col("id").asc())
               .limit(candidates).select("id"))
        cand = df.join(F.broadcast(ids.withColumnRenamed("id", id_col)),
                       id_col)
    else:
        ids = index.select("id")
        if lsh:
            ids = ids.distinct()        # one row per table
        cand = df.join(ids.withColumnRenamed("id", id_col), id_col)
    return cosine_topk(cand, q, k, id_col, vec_col)
