"""ANN recall probe (VERDICT r4 #4): measure recall@10 for the three
bucketed ANN strategies — LSH (ann_topk), IVF (ivf_topk, nprobe sweep)
and PQ (pq_topk, candidates sweep) — against exact brute-force cosine
top-10 over a 1M x 16-d clustered corpus, with and without Lloyd
refinement of the sampling quantizers.  Results recorded in PLANS.md.

The corpus is deterministic (xxhash64-derived): 256 cluster centres in
[0,1)^16, each vector = centre + small hash noise — the clustered shape
real embedding spaces have, where coarse quantization is meaningful.
Queries are corpus vectors with an extra perturbation, so every query
has genuine near neighbours (its cluster siblings).

Reference parity anchor: the HNSW recall test at
/root/reference/test/query.cpp:13-59 (build index, search, compare to
exact neighbours).

Usage: python tools/recall_probe.py [n_vecs] [n_queries] [family ...]
with families from {lsh, ivf, pq, pqx, ivfpq, near} (default: lsh ivf
pq pqx).  ``ivfpq`` is the r8 IVFADC persisted index (pruned code
partitions + exact re-rank; also reports on-disk bytes vs the
materialized full-vector index).
``pqx`` is the persisted-codes PQ path (pq_topk_indexed: ADC over the
encoded table, refined ksub=64 codebooks) — the shape that actually
ships at scale.  ``near`` is the routed $near materialized-IVF path.

Option tokens (r8, VERDICT r7 next #5 — recall/nprobe scaling past
1 M): ``dim=256`` (corpus dimensionality), ``refine=0,2`` (Lloyd
iterations to build the near-family index with), ``nprobe=4,8,16,32``
(probe-width sweep for the near family; default adds the scaled
``default_nprobe(nlist)`` point).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 16
K = 10
N_CLUSTERS = 256


def make_corpus(spark, n_vecs: int):
    from pyspark.sql import functions as F
    cl = F.pmod(F.xxhash64("id"), F.lit(N_CLUSTERS))
    # centre[i] = hash(cluster, i)/1000 in [0,1); noise up to 0.25 per dim
    # (wide enough that clusters overlap and quantization cells actually
    # lose neighbours — a tight-cluster corpus scores 100% on everything
    # and measures nothing)
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (F.pmod(F.xxhash64(cl, i), F.lit(1000)) / 1000.0
                   + F.pmod(F.xxhash64("id", i), F.lit(1000)) / 4000.0))
    return (spark.range(n_vecs)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding")))


def make_queries(corpus, n_queries: int) -> list[list[float]]:
    """Corpus vectors (stride-sampled across clusters) + a perturbation,
    so each query is near — but not identical to — real corpus points."""
    import hashlib
    rows = (corpus.where((corpus.vec_id % 7919) == 0)
            .orderBy("vec_id").limit(n_queries).collect())
    out = []
    for r in rows:
        v = list(r["embedding"])
        h = hashlib.md5(str(r["vec_id"]).encode()).digest()
        out.append([x + (h[i % 16] - 128) / 25600.0 for i, x in enumerate(v)])
    return out


def recall(ann_ids: list, exact_ids: list) -> float:
    return len(set(ann_ids) & set(exact_ids)) / len(exact_ids)


def main() -> None:
    global DIM
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    families = set()
    opts: dict[str, str] = {}
    for tok in sys.argv[3:]:
        if "=" in tok:
            k, v = tok.split("=", 1)
            opts[k] = v
        else:
            families.add(tok)
    families = families or {"lsh", "ivf", "pq", "pqx"}
    DIM = int(opts.get("dim", DIM))

    from gqlite_spark.session import get_spark
    from gqlite_spark.operators.similarity import (
        ann_topk, cosine_topk, ivf_centroids, ivf_topk, load_pq_index,
        lloyd_refine,
        pq_codebooks, pq_refine, pq_topk, pq_topk_indexed, save_pq_index)

    spark = get_spark(app_name="recall-probe")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = make_corpus(spark, n_vecs).persist()
    corpus.count()
    queries = make_queries(corpus, n_queries)
    print(f"corpus: {n_vecs:,} x {DIM}d, {N_CLUSTERS} clusters; "
          f"{len(queries)} queries; recall@{K} vs exact cosine top-{K}")

    t = time.time()
    exact = [[r["id"] for r in cosine_topk(corpus, q, k=K).collect()]
             for q in queries]
    t_exact = (time.time() - t) / len(queries)
    print(f"exact brute-force: {t_exact:.2f}s/query (the baseline ANN "
          f"must beat)")

    results: list[tuple[str, float, float]] = []

    def run(name: str, fn) -> None:
        t0 = time.time()
        recs = [recall([r["id"] for r in fn(q).collect()], exact[i])
                for i, q in enumerate(queries)]
        dt = (time.time() - t0) / len(queries)
        avg = sum(recs) / len(recs)
        results.append((name, avg, dt))
        print(f"{name:<42} recall@{K}={avg:6.1%}  {dt:5.2f}s/query")

    # --- LSH --------------------------------------------------------------
    if "lsh" in families:
        for planes in (6, 8):
            run(f"lsh planes={planes}",
                lambda q, p=planes: ann_topk(corpus, q, dim=DIM, k=K,
                                             n_planes=p))

    # --- IVF: sampling quantizer vs lloyd-refined, nprobe sweep ----------
    if "ivf" in families:
        nlist = 64
        t = time.time()
        cents_s = ivf_centroids(corpus, nlist=nlist)
        print(f"ivf sampling centroids (nlist={nlist}): "
              f"{time.time()-t:.1f}s")
        t = time.time()
        cents_r = lloyd_refine(corpus, cents_s, iters=2)
        print(f"ivf lloyd_refine(2): {time.time()-t:.1f}s")
        for tag, cents in (("sampling", cents_s), ("lloyd", cents_r)):
            for nprobe in (1, 4, 8, 16):
                run(f"ivf {tag} nlist={nlist} nprobe={nprobe}",
                    lambda q, c=cents, n=nprobe: ivf_topk(corpus, q, c,
                                                          nprobe=n, k=K))

    # --- PQ, index-free: sampling vs lloyd codebooks, candidates sweep ---
    if "pq" in families:
        m, ksub = 4, 16
        t = time.time()
        books_s = pq_codebooks(corpus, m=m, ksub=ksub)
        print(f"pq sampling codebooks (m={m} ksub={ksub}): "
              f"{time.time()-t:.1f}s")
        t = time.time()
        books_r = pq_refine(corpus, books_s, iters=2)
        print(f"pq_refine(2): {time.time()-t:.1f}s")
        for tag, books in (("sampling", books_s), ("lloyd", books_r)):
            for cand in (100, 1000, 10000):
                run(f"pq {tag} m={m} ksub={ksub} cand={cand}",
                    lambda q, b=books, c=cand: pq_topk(corpus, q, b, k=K,
                                                       candidates=c))

    # --- PQ, persisted codes (the shipping shape): refined ksub=64 -------
    # family "pqx" = m=4; "pqx8" = m=8 (twice the code bits: recall is
    # bound by m*log2(ksub) total bits, not ksub alone)
    if "pqx" in families or "pqx8" in families:
        import tempfile
        m, ksub = (8 if "pqx8" in families else 4), 64
        path = tempfile.mkdtemp(prefix="pq-probe-")
        t = time.time()
        save_pq_index(corpus, path, m=m, ksub=ksub, refine_iters=2)
        print(f"save_pq_index (m={m} ksub={ksub} refined): "
              f"{time.time()-t:.1f}s")
        codes, params = load_pq_index(spark, path)
        codes = codes.persist()
        codes.count()
        for cand in (100, 1000, 10000):
            run(f"pqx indexed m={m} ksub={ksub} cand={cand}",
                lambda q, c=cand: pq_topk_indexed(corpus, q, codes,
                                                  params, k=K,
                                                  candidates=c))

    # --- IVFPQ: pruned partitions of PQ codes + exact re-rank (r8) -------
    # the storage-lean scale shape: probed read = nprobe/nlist of the
    # partitions AND each row is m ints, not DIM floats.  Also reports
    # on-disk bytes vs the materialized full-vector IVF index.
    if "ivfpq" in families:
        import tempfile

        from gqlite_spark.operators.similarity import (
            auto_nlist, default_nprobe, ivfpq_topk_indexed,
            load_ivfpq_index, save_ivf_index, save_ivfpq_index)

        def du(p: str) -> int:
            tot = 0
            for root, _, files in os.walk(p):
                tot += sum(os.path.getsize(os.path.join(root, f))
                           for f in files)
            return tot

        nlist = auto_nlist(n_vecs)
        m = int(opts.get("m", "8" if DIM % 8 == 0 else "4"))
        refine = int(opts.get("refine", "2").split(",")[0])
        path = tempfile.mkdtemp(prefix="ivfpq-probe-")
        t = time.time()
        save_ivfpq_index(corpus, path, nlist=nlist, m=m, ksub=64,
                         refine_iters=refine, metric="l2")
        t_build = time.time() - t
        index, params = load_ivfpq_index(spark, path)
        vpath = tempfile.mkdtemp(prefix="ivfv-probe-")
        t = time.time()
        save_ivf_index(corpus, vpath, nlist=nlist, refine_iters=refine,
                       metric="l2", include_vectors=True)
        t_vbuild = time.time() - t
        print(f"ivfpq build (nlist={nlist} m={m} ksub=64 "
              f"refine={refine}): "
              f"{t_build:.1f}s, {du(path)/1e6:.1f} MB on disk; "
              f"materialized full-vector index: {t_vbuild:.1f}s, "
              f"{du(vpath)/1e6:.1f} MB")
        # the materialized full-vector route (the $near router's form)
        # beside IVFPQ on the same corpus: same pruning, rows are DIM
        # floats vs m ints
        from pyspark.sql import functions as F

        from gqlite_spark.operators.similarity import (l2_probe_lists,
                                                       load_ivf_index)
        vindex, vparams = load_ivf_index(spark, vpath)

        def routed_cos(q, np_):
            probe = l2_probe_lists(q, vparams["centroids"], np_)
            pruned = (vindex.where(F.col("list_id").isin(probe))
                      .select(F.col("id").alias("vec_id"),
                              F.col("_vec").alias("embedding")))
            return cosine_topk(pruned, q, k=K)

        scaled = default_nprobe(nlist)
        # the routed $near default (the IVFPQ candidates law in
        # executor._apply_knn_routed) is part of the sweep so the
        # default itself is what gets validated, not just hand-picked
        # points
        law = max(1000, n_vecs // 1000, 4 * K)
        for np_ in sorted({4, scaled, 2 * scaled}):
            for cand in sorted({10 * K, 100 * K, law}):
                tag = " (law)" if cand == law else ""
                run(f"ivfpq nlist={nlist} m={m} nprobe={np_} "
                    f"cand={cand}{tag}",
                    lambda q, n=np_, c=cand: ivfpq_topk_indexed(
                        corpus, q, index, params, nprobe=n, k=K,
                        candidates=c))
            run(f"ivf-vec routed dim={DIM} nprobe={np_}",
                lambda q, n=np_: routed_cos(q, n))

    # --- routed $near path: materialized l2 IVF index (r7) ---------------
    # the production $near+limit shape: partition-pruned index top-k.
    # Baseline switches to exact L2 (the router's metric); sampling vs
    # Lloyd-refined centroids at the auto-√n nlist.
    if "near" in families:
        import tempfile

        from pyspark.sql import functions as F

        from gqlite_spark.operators.similarity import (auto_nlist,
                                                       default_nprobe,
                                                       l2_probe_lists,
                                                       l2_topk,
                                                       load_ivf_index,
                                                       save_ivf_index)
        t = time.time()
        exact_l2 = [[r["id"] for r in l2_topk(corpus, q, k=K).collect()]
                    for q in queries]
        t_exact_l2 = (time.time() - t) / len(queries)
        print(f"exact L2 top-{K}: {t_exact_l2:.2f}s/query")
        nlist = auto_nlist(n_vecs)
        refines = [int(x) for x in opts.get("refine", "0,2").split(",")]
        nprobes = [int(x) for x in
                   opts.get("nprobe", "4,8,16,32").split(",")]
        scaled = default_nprobe(nlist)
        if scaled not in nprobes:
            nprobes.append(scaled)
        for refine in refines:
            path = tempfile.mkdtemp(prefix="near-probe-")
            t = time.time()
            save_ivf_index(corpus, path, nlist=nlist,
                           refine_iters=refine, metric="l2",
                           include_vectors=True)
            print(f"save_ivf_index l2 materialized (nlist={nlist} "
                  f"refine={refine}): {time.time()-t:.1f}s")
            index, params = load_ivf_index(spark, path)

            def routed(q, np_, idx=index, prm=params):
                probe = l2_probe_lists(q, prm["centroids"], np_)
                pruned = (idx.where(F.col("list_id").isin(probe))
                          .select(F.col("id").alias("vec_id"),
                                  F.col("_vec").alias("embedding")))
                return l2_topk(pruned, q, k=K)

            tag = "lloyd" if refine else "sampling"
            for np_ in nprobes:
                mark = "*" if np_ == scaled else ""
                t0 = time.time()
                recs = [recall([r["id"] for r in routed(q, np_).collect()],
                               exact_l2[i])
                        for i, q in enumerate(queries)]
                dt = (time.time() - t0) / len(queries)
                avg = sum(recs) / len(recs)
                name = (f"near routed {tag} dim={DIM} nlist={nlist} "
                        f"nprobe={np_}{mark} ({np_ / nlist:.2%} of lists)")
                results.append((name, avg, dt))
                print(f"{name:<60} recall@{K}={avg:6.1%}  "
                      f"{dt:5.2f}s/query")
        results.append((f"exact L2 dim={DIM}", 1.0, t_exact_l2))

    print("\n| strategy | recall@10 | s/query |")
    print("|---|---|---|")
    for name, avg, dt in results:
        print(f"| {name} | {avg:.1%} | {dt:.2f} |")
    print(f"| exact brute force | 100% | {t_exact:.2f} |")


if __name__ == "__main__":
    main()
