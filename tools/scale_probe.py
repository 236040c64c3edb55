"""Scale probe: time the iterative/graph/dedup operators on synthetic data
well beyond the test SFs, to validate partition discipline (not correctness
— that's tools/oracle_check.py).  Results recorded in PLANS.md.

Usage: python tools/scale_probe.py [n_edges] [n_docs]
       python tools/scale_probe.py --r7   # round-7 additions only:
           two-phase CC on a 2M-edge path graph (the high-diameter case
           HashMin cannot finish) and routed $near kNN at 1M vectors
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_r7(cc: bool = True, knn: bool = True) -> None:
    from pyspark.sql import functions as F

    from gqlite_spark.session import get_spark
    spark = get_spark(app_name="scale-probe-r7")
    spark.sparkContext.setLogLevel("ERROR")

    if not cc:
        pass
    else:
        _probe_r7_cc(spark, F)
    if knn:
        _probe_r7_knn(spark, F)


def _probe_r7_cc(spark, F) -> None:
    # -- two-phase CC on a high-diameter path graph ----------------------
    # a 2M-edge chain has diameter 2M: HashMin label propagation would
    # need 2M supersteps (never finishes); large-star/small-star must
    # close it in O(log n) rounds.
    from gqlite_spark.operators.graph_algos import (
        connected_components_twophase)
    n_chain = 2_000_000
    chain = (spark.range(n_chain)
             .select(F.col("id").alias("src"),
                     (F.col("id") + 1).alias("dst"))).persist()
    chain.count()
    t = time.time()
    cc = connected_components_twophase(chain, max_rounds=24)
    ncomp = cc.select("component").distinct().count()
    print(f"cc_twophase(path graph, {n_chain:,} edges, diameter "
          f"{n_chain:,}, max 24 rounds): {time.time()-t:.1f}s  "
          f"components={ncomp} (HashMin would need {n_chain:,} "
          f"supersteps)")
    chain.unpersist()


def _probe_r7_knn(spark, F) -> None:
    # -- routed $near+limit at 1M vectors --------------------------------
    # exact full-scan top-k vs the materialized-IVF-index routed path.
    # (The r6 inline-quantizer design measured cold 124.5s / warm 156s
    # against the 1.0s exact scan — per-row nlist-centroid assignment
    # adds compute and prunes nothing that is read; it was removed.)
    import tempfile

    from gqlite_spark import GQLite
    n_vecs = 1_000_000
    dim = 64
    vec = F.transform(F.sequence(F.lit(1), F.lit(dim)),
                      lambda i: (F.pmod(F.xxhash64("id", i), F.lit(1000))
                                 / 1000.0))
    emb = (spark.range(n_vecs)
           .select(F.col("id"), vec.alias("v"))).persist()
    emb.count()
    db = GQLite(spark)
    db.catalog.create_graph("sp")
    grp = db.catalog.graphs["sp"].create_group("vecs")
    grp.register_df(emb)
    qvec = emb.filter(F.col("id") == 0).select("v").collect()[0][0]
    lit = ", ".join(repr(float(x)) for x in qvec)
    gql = ("{query: 'vecs', in: 'sp', where: {v: {limit: 10, $near: ["
           + lit + "]}}};")

    spark.conf.set("spark.gqlite.knn.ann_threshold", "-1")
    t = time.time()
    exact = {r["id"] for r in db.query_df(gql).collect()}
    t_exact = time.time() - t
    print(f"$near exact full scan ({n_vecs:,} x {dim}d): {t_exact:.1f}s")

    t = time.time()
    nlist = grp.build_ivf_index("v", tempfile.mkdtemp(prefix="sp_ivf_"))
    t_build = time.time() - t
    spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    t = time.time()
    routed = {r["id"] for r in db.query_df(gql).collect()}
    t_cold = time.time() - t                 # first probe (loads index)
    t = time.time()
    routed2 = {r["id"] for r in db.query_df(gql).collect()}
    t_warm = time.time() - t
    recall = len(routed & exact) / len(exact)
    print(f"$near routed via materialized IVF index (nlist={nlist}, "
          f"nprobe 8, ~{800 / nlist:.1f}% of vectors read): build "
          f"{t_build:.1f}s once, query cold {t_cold:.1f}s / warm "
          f"{t_warm:.1f}s  recall@10={recall:.2f}  "
          f"deterministic: {routed == routed2}")
    emb.unpersist()


def main() -> None:
    if "--r7" in sys.argv:
        probe_r7()
        return
    if "--r7-knn" in sys.argv:
        probe_r7(cc=False)
        return
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000

    from pyspark.sql import functions as F
    from gqlite_spark.session import get_spark
    from gqlite_spark.operators.graph_algos import (connected_components,
                                                    k_hop, pagerank)
    from gqlite_spark.operators.dedup import minhash_lsh_pairs
    from gqlite_spark.operators.similarity import cosine_topk

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    n_verts = max(1000, n_edges // 10)
    # deterministic pseudo-random graph: v → hash-derived targets
    e = (spark.range(n_edges)
         .select((F.col("id") % n_verts).alias("src"),
                 F.pmod(F.xxhash64("id"), F.lit(n_verts)).alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    e = e.persist()
    print(f"graph: {e.count():,} edges over ~{n_verts:,} vertices")

    t = time.time()
    pr = pagerank(e, iterations=5)
    top = pr.orderBy(F.col("rank").desc()).limit(3).collect()
    print(f"pagerank(5 iters): {time.time()-t:.1f}s  top={[(r['id'], round(r['rank'],3)) for r in top]}")

    t = time.time()
    cc = connected_components(e)
    ncomp = cc.select("component").distinct().count()
    print(f"connected_components: {time.time()-t:.1f}s  components={ncomp}")

    t = time.time()
    reach = k_hop(e, 0, 2, direction="->").count()
    print(f"k_hop(2): {time.time()-t:.1f}s  reached={reach:,}")

    from gqlite_spark.operators.graph_algos import (k_core,
                                                    label_propagation,
                                                    neighborhood_jaccard)
    t = time.time()
    core = k_core(e, k=15).count()
    print(f"k_core(15): {time.time()-t:.1f}s  in_core={core:,}")

    t = time.time()
    nlab = (label_propagation(e, iterations=3)
            .select("label").distinct().count())
    print(f"label_propagation(3 iters): {time.time()-t:.1f}s  labels={nlab:,}")

    from gqlite_spark.operators.graph_algos import closeness_centrality
    t = time.time()
    cl = closeness_centrality(e, sources=[0, 1, 2, 3], max_iter=8).collect()
    print(f"closeness(4 landmarks, ≤8 hops): {time.time()-t:.1f}s  "
          f"{[(r['id'], r['reachable']) for r in sorted(cl)[:2]]}")

    from gqlite_spark.operators.graph_algos import betweenness_centrality
    t = time.time()
    nb = betweenness_centrality(e, sources=[0, 1], max_iter=6).count()
    print(f"betweenness(2 landmarks, ≤6 hops): {time.time()-t:.1f}s  "
          f"rows={nb:,}")
    e.unpersist()

    # wedge-join Jaccard is O(sum deg^2) — probe on a thinner slice so the
    # wedge count (~n_verts * avgdeg^2) stays representative of a per-
    # partition workload, not a stress test of local[32]'s single JVM
    ej = e.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(4)) == 0).persist()
    nej = ej.count()
    t = time.time()
    npairs = neighborhood_jaccard(ej).count()
    print(f"neighborhood_jaccard({nej:,} edges): {time.time()-t:.1f}s  "
          f"pairs={npairs:,}")
    ej.unpersist()

    # synthetic near-dup corpus: base docs + mutated copies
    words = F.transform(F.sequence(F.lit(1), F.lit(80)),
                        lambda i: F.concat(F.lit("w"),
                                           F.pmod(F.xxhash64(F.col("id") % (n_docs // 2), i),
                                                  F.lit(5000)).cast("string")))
    docs = (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", words).alias("text")))
    docs = docs.persist()
    docs.count()
    t = time.time()
    # default no-cache path: measured faster than cache=True up to 200k
    # docs on local[32] (7.4s->2.3s at 50k) — the cache barrier serializes
    # the full shingle table before any downstream stage starts.  cache=True
    # remains the cluster-scale choice when the corpus scan is I/O-bound.
    pairs = minhash_lsh_pairs(docs, threshold=0.7).count()
    print(f"minhash_lsh({n_docs:,} docs): {time.time()-t:.1f}s  pairs={pairs:,}")
    docs.unpersist()

    # hot-shingle skew probe: one 3-gram shared by ALL docs would make
    # exact blocking quadratic (n^2/2 candidates); max_df drops it from
    # candidate generation while emitted jaccards stay exact
    n_skew = 10_000
    tail = F.concat_ws("", F.transform(F.sequence(F.lit(1), F.lit(12)),
                                       lambda i: F.chr(97 + F.pmod(F.xxhash64("id", i), F.lit(26)))))
    skew = (spark.range(n_skew)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("zzz"), tail).alias("text"))).persist()
    skew.count()
    t = time.time()
    from gqlite_spark.operators.dedup import ngram_jaccard_pairs
    np_ = ngram_jaccard_pairs(skew, threshold=0.8, max_df=100).count()
    print(f"ngram_jaccard skew({n_skew:,} docs, 1 hot shingle, max_df=100): "
          f"{time.time()-t:.1f}s  pairs={np_:,}")
    skew.unpersist()

    # embedding near-dup dedup at 1M vectors: must take the LSH-bucketed
    # path (no cartesian stage) and find the planted near-identical pairs
    n_vecs = 1_000_000
    base_id = F.floor(F.col("id") / 2)
    vec = F.transform(F.sequence(F.lit(1), F.lit(16)),
                      lambda i: (F.pmod(F.xxhash64(base_id, i), F.lit(1000))
                                 / 1000.0 + (F.col("id") % 2) * 1e-6))
    nd = (spark.range(n_vecs)
          .select(F.col("id").alias("vec_id"), vec.alias("embedding")))
    nd = nd.persist(); nd.count()
    from gqlite_spark.operators.dedup import embedding_near_dups
    t = time.time()
    out = embedding_near_dups(nd, threshold=0.999999, approx_count=n_vecs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, \
        "embedding_near_dups fell back to a cartesian join at scale"
    found = out.count()
    print(f"embedding_near_dups({n_vecs:,} vecs, bucketed): "
          f"{time.time()-t:.1f}s  pairs={found:,} (planted {n_vecs//2:,})")
    nd.unpersist()

    # brute-force kNN over synthetic embeddings
    emb = (spark.range(500_000)
           .select(F.col("id").alias("vec_id"),
                   F.transform(F.sequence(F.lit(1), F.lit(64)),
                               lambda i: (F.pmod(F.xxhash64("id", i), F.lit(1000))
                                          / 1000.0)).alias("embedding")))
    emb = emb.persist(); emb.count()
    q = [0.5] * 64
    t = time.time()
    cosine_topk(emb, q, k=10).collect()
    print(f"cosine_topk(500k x 64d): {time.time()-t:.1f}s")
    emb.unpersist()

    # as-of join at scale: one keyed shuffle + sort, no range join
    from gqlite_spark.operators.temporal import asof_join
    n_ev = 5_000_000
    keys = 100_000
    left = (spark.range(n_ev)
            .select((F.col("id") % keys).alias("k"),
                    F.xxhash64("id").alias("ts"), F.col("id").alias("lid")))
    right = (spark.range(n_ev)
             .select((F.col("id") % keys).alias("k"),
                     F.xxhash64("id", F.lit(7)).alias("ts"),
                     F.col("id").alias("rid")))
    t = time.time()
    aj = asof_join(left, right, on="ts", by="k", right_cols=["rid"])
    plan = aj._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # aggregate a window-derived column so the Window isn't pruned away
    row = aj.agg(F.count(F.lit(1)).alias("n"),
                 F.count("rid").alias("matched")).collect()[0]
    print(f"asof_join({n_ev:,} x {n_ev:,}, {keys:,} keys): "
          f"{time.time()-t:.1f}s  rows={row['n']:,} matched={row['matched']:,}")

    # decontamination at 500k docs vs 5k-doc benchmark (broadcast shingles)
    from gqlite_spark.operators.sampling import benchmark_contamination
    n_corpus = 500_000
    cwords = F.transform(F.sequence(F.lit(1), F.lit(60)),
                         lambda i: F.concat(F.lit("w"),
                                            F.pmod(F.xxhash64("id", i),
                                                   F.lit(50_000)).cast("string")))
    corpus = (spark.range(n_corpus)
              .select(F.col("id").alias("doc_id"),
                      F.concat_ws(" ", cwords).alias("text"))).persist()
    corpus.count()
    bench = corpus.filter(F.col("doc_id") % 100 == 0)
    t = time.time()
    nc = benchmark_contamination(corpus.filter(F.col("doc_id") % 100 != 0),
                                 bench, n=8).count()
    print(f"decontaminate({n_corpus:,} docs vs {n_corpus//100:,} bench): "
          f"{time.time()-t:.1f}s  contaminated={nc:,}")

    # winnowing fingerprints over 100k docs (per-row arrays, no shuffle)
    from gqlite_spark.operators.text import winnow_fingerprints
    t = time.time()
    nf = winnow_fingerprints(corpus.limit(100_000), k=8, w=4).count()
    print(f"winnow_fp(100k docs): {time.time()-t:.1f}s  fingerprints={nf:,}")

    # repetition metrics: per-row array expressions, zero shuffle
    from gqlite_spark.operators.text import repetition_metrics, \
        tfidf_top_terms
    t = time.time()
    # aggregate over a computed column — a bare count() would skip the
    # projection entirely and measure nothing
    nr = (repetition_metrics(corpus)
          .agg(F.sum("dup_3gram_frac")).collect()[0][0])
    print(f"repetition_metrics({n_corpus:,} docs): {time.time()-t:.1f}s")

    # tf-idf: explode + (doc,term) groupBy + broadcast idf join
    t = time.time()
    nt = tfidf_top_terms(corpus, k=5).count()
    print(f"tfidf_top_terms({n_corpus:,} docs): {time.time()-t:.1f}s  "
          f"rows={nt:,}")
    corpus.unpersist()

    # stratified sample over 10M rows: scan-only predicate, no shuffle
    from gqlite_spark.operators.sampling import stratified_sample
    big = (spark.range(10_000_000)
           .select(F.col("id").alias("doc_id"),
                   F.concat(F.lit("s"), (F.col("id") % 5).cast("string"))
                   .alias("lang")))
    t = time.time()
    ns = stratified_sample(big, "lang", {"s0": 0.5, "s1": 0.25},
                           default_rate=0.05).count()
    print(f"stratified_sample(10M rows): {time.time()-t:.1f}s  kept={ns:,}")


if __name__ == "__main__":
    main()
