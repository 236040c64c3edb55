"""Seeded input generators, numpy only.

Each generator writes its workload's inputs (parquet tables plus a JSON
script of the operations to run) into a directory and returns the
in-memory copy the correctness checks use.  The same seed gives
byte-identical files (``python3 perfbench/selftest.py`` checks this).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
VOCAB = ("a the data spark query table row column key value hash join sort "
         "scan filter group agg window stream batch merge part order line "
         "customer vector index graph edge vertex path fast slow big small "
         "shuffle spill stage task job plan cache node label rank core "
         "chain tail level list probe build write read update remove").split()

# sizes (the README records why)
SERVING = dict(customers=15_000, orders=150_000, scratch=5_000,
               vectors=2_000, dim=32, passes=8,
               # the indexed group: clustered vectors whose noise lets an
               # IVF probe miss some true neighbours (recall below 1)
               vecs=20_000, vdim=64, clusters=48, noise=0.8, vupdates=20)
INDEX_PATH = "@INDEX@"      # {vindex} path, filled in at run time
CURATION = dict(docs=600, dup_pairs=120, boiler=12, bench=40)


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path, compression="snappy")


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def vec_lit(v) -> str:
    """A vector as a GQL list literal."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


# ---------------------------------------------------------------- serving
def serving(seed: int, out: str) -> dict:
    """TPC-H-shaped customer/orders/nation tables, a 2,000-row embedding
    table (exact kNN), a 20,000-row clustered vector table (routed kNN over
    an IVF index), a scratch group that receives the writes, and the
    seeded statement stream: one ``{vindex}`` build, then per pass a
    vector and a scratch upsert, then 18 reads and 3 writes in seeded
    order."""
    rng = np.random.default_rng([seed, 1])
    s = SERVING
    nc, no = s["customers"], s["orders"]
    cust = {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    t0 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64("1998-08-02T00:00:00", "us").astype(np.int64)
    days = rng.integers(0, (t1 - t0) // 86_400_000_000, no)
    orders = {
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, no), 2),
        "o_orderdate": pa.array(t0 + days * 86_400_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    nation = {"n_nationkey": np.arange(25, dtype=np.int32),
              "n_name": NATIONS,
              "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    ring = {"src": np.concatenate([np.arange(25), np.arange(25)]).astype(np.int64),
            "dst": np.concatenate([(np.arange(25) + 1) % 25,
                                   (np.arange(25) + 7) % 25]).astype(np.int64)}
    nv, dim = s["vectors"], s["dim"]
    emb = rng.normal(size=(nv, dim)).astype(np.float32)
    embeddings = {"vec_id": np.arange(nv, dtype=np.int64),
                  "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                  "label": rng.integers(0, 10, nv).astype(np.int32)}
    centers = rng.normal(size=(s["clusters"], s["vdim"]))
    assign = rng.integers(0, s["clusters"], s["vecs"])
    vx = (centers[assign] + rng.normal(scale=s["noise"],
                                       size=(s["vecs"], s["vdim"]))
          ).astype(np.float32)
    vecs = {"id": np.arange(s["vecs"], dtype=np.int64),
            "embedding": pa.array(list(vx), pa.list_(pa.float32())),
            "label": assign.astype(np.int32)}
    vupd = sorted(int(i) for i in rng.choice(s["vecs"], s["vupdates"],
                                             replace=False))
    ns = s["scratch"]
    scratch = {"id": np.arange(1, ns + 1, dtype=np.int64),
               "a": rng.integers(0, 1000, ns).astype(np.int64),
               "s": [f"s{i}" for i in rng.integers(0, 100, ns)]}
    for name, tbl in (("customer", cust), ("orders", orders),
                      ("nation", nation), ("nation_ring", ring),
                      ("embeddings", embeddings), ("vecs", vecs),
                      ("scratch", scratch)):
        _write(tbl, os.path.join(out, name + ".parquet"))

    # statement stream; writes are simulated on a key model so every
    # property update and remove names a live key
    live = set(range(1, ns + 1))
    next_key = ns + 1
    prices = np.sort(orders["o_totalprice"])
    bal = np.sort(cust["c_acctbal"])
    stream, seen = [], []
    # the same mix in every pass.  The fast kinds (point, range, project,
    # count) are 13 of the 18 reads and the overlay reads the two below the
    # slowest (the routed probe), so p50 falls inside the fast kinds'
    # samples and p90 inside the overlay reads', not on a boundary
    # between two kinds
    mix = (["point"] * 6 + ["range"] * 3 + ["project"] * 2 + ["count"] * 2
           + ["walk"] + ["knn_exact"] + ["overlay_read"] * 2
           + ["knn_routed"] + ["upsert"] * 3)
    stream.append({"kind": "vindex", "gql": (
        "{vindex: 'vecs', in: 'tpch', on: 'embedding', "
        f"path: '{INDEX_PATH}'}};")})
    for p in range(s["passes"]):
        # a pass opens with a vector re-upsert and a scratch vertex upsert,
        # so every routed probe and scratch read goes through a non-empty
        # overlay (a fixed plan shape per kind)
        kinds = ["upsert", "upsert"] + list(rng.permutation(mix))
        writes = ["vector", "vertex"] + list(
            rng.permutation(["edge", "property", "remove"]))
        for kind in kinds:
            # kinds with two variants alternate them, so every seed runs
            # the same statement shapes
            alt = seen.count(kind) % 2
            seen.append(kind)
            if kind == "point":
                if alt:
                    k = int(rng.integers(1, nc + 1))
                    q = f"{{query: 'customer', in: 'tpch', where: {{id: {k}}}}};"
                    stream.append({"kind": kind, "gql": q, "table": "customer",
                                   "key": k})
                else:
                    k = int(rng.integers(1, no + 1))
                    q = f"{{query: 'orders', in: 'tpch', where: {{id: {k}}}}};"
                    stream.append({"kind": kind, "gql": q, "table": "orders",
                                   "key": k})
            elif kind == "range":
                i = int(rng.integers(0, no - 200))
                lo, hi = float(prices[i]), float(prices[i + 150])
                q = ("{query: 'orders', in: 'tpch', where: {$and: ["
                     f"{{o_totalprice: {{$gt: {lo!r}}}}}, "
                     f"{{o_totalprice: {{$lte: {hi!r}}}}}]}}}};")
                stream.append({"kind": kind, "gql": q, "lo": lo, "hi": hi})
            elif kind == "project":
                x = float(bal[nc - int(rng.integers(10, 40))])
                q = ("{query: [customer.c_name, customer.c_acctbal], "
                     f"in: 'tpch', where: {{c_acctbal: {{$gt: {x!r}}}}}}};")
                stream.append({"kind": kind, "gql": q, "x": x})
            elif kind == "count":
                t = ("customer", "orders")[alt]
                stream.append({"kind": kind, "table": t,
                               "gql": f"{{query: count({t}), in: 'tpch'}};"})
            elif kind == "walk":
                n = int(rng.integers(0, 25))
                q = (f"{{query: 'nation_ring', in: 'tpch', "
                     f"where: [{n}, ->, *, ->, *]}};")
                stream.append({"kind": kind, "gql": q, "start": n})
            elif kind == "knn_exact":
                base = emb[int(rng.integers(0, nv))]
                qv = (base + rng.normal(scale=0.3, size=dim)).astype(np.float64)
                qv = np.round(qv, 4)
                q = ("{query: 'embeddings', in: 'tpch', where: {embedding: "
                     f"{{limit: 10, $near: {vec_lit(qv)}}}}}}};")
                stream.append({"kind": kind, "gql": q, "vec": qv.tolist()})
            elif kind == "knn_routed":
                c = centers[int(rng.integers(0, s["clusters"]))]
                qv = np.round(c + rng.normal(scale=s["noise"],
                                             size=s["vdim"]), 4)
                q = ("{query: 'vecs', in: 'tpch', where: {embedding: "
                     f"{{limit: 10, $near: {vec_lit(qv)}}}}}}};")
                stream.append({"kind": kind, "gql": q, "vec": qv.tolist()})
            elif kind == "overlay_read":
                if alt:
                    k = int(rng.choice(sorted(live)))
                    q = f"{{query: 'scratch', in: 'tpch', where: {{id: {k}}}}};"
                    stream.append({"kind": kind, "gql": q, "key": k})
                else:
                    x = int(rng.integers(985, 995))
                    q = ("{query: 'scratch', in: 'tpch', "
                         f"where: {{a: {{$gt: {x}}}}}}};")
                    stream.append({"kind": kind, "gql": q, "gt": x})
            else:
                w = writes.pop(0)
                if w == "vertex":
                    rows = []
                    for _ in range(10):
                        if rng.random() < 0.5:
                            k = next_key
                            next_key += 1
                        else:
                            k = int(rng.integers(1, next_key))
                        live.add(k)
                        rows.append((k, int(rng.integers(0, 1000)),
                                     f"w{int(rng.integers(0, 100))}"))
                    body = ", ".join(f"[{k}, {{a: {a}, s: '{t}'}}]"
                                     for k, a, t in rows)
                    q = f"{{upset: 'scratch', vertex: [{body}]}};"
                    stream.append({"kind": kind, "op": w, "gql": q,
                                   "rows": rows})
                elif w == "edge":
                    keys = sorted(live)
                    pairs = [(int(rng.choice(keys)), int(rng.choice(keys)))
                             for _ in range(10)]
                    body = ", ".join(f"[{a}, ->, {b}]" for a, b in pairs)
                    q = f"{{upset: 'scratch_e', edge: [{body}]}};"
                    stream.append({"kind": kind, "op": w, "gql": q,
                                   "pairs": pairs})
                elif w == "property":
                    k = int(rng.choice(sorted(live)))
                    a = int(rng.integers(0, 1000))
                    q = (f"{{upset: 'scratch', property: {{a: {a}}}, "
                         f"where: {{id: {k}}}}};")
                    stream.append({"kind": kind, "op": w, "gql": q,
                                   "key": k, "a": a})
                elif w == "remove":
                    k = int(rng.choice(sorted(live)))
                    live.discard(k)
                    q = f"{{remove: 'scratch', vertex: {{id: {k}}}}};"
                    stream.append({"kind": kind, "op": w, "gql": q, "key": k})
                else:       # re-upsert a fixed id set: the overlay stays small
                    new = np.round(
                        centers[rng.integers(0, s["clusters"], len(vupd))]
                        + rng.normal(scale=s["noise"],
                                     size=(len(vupd), s["vdim"])), 4)
                    body = ", ".join(
                        f"[{k}, {{embedding: {vec_lit(v)}, label: -1}}]"
                        for k, v in zip(vupd, new))
                    q = f"{{upset: 'vecs', vertex: [{body}]}};"
                    stream.append({"kind": kind, "op": w, "gql": q,
                                   "ids": vupd, "vecs": new.tolist()})
    _dump(stream, os.path.join(out, "stream.json"))
    return {"stream": stream, "emb": emb, "vecs": vx}


# --------------------------------------------------------------- curation
def _doc(rng, lines: int) -> list:
    return [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                    int(rng.integers(6, 14))))
            for _ in range(lines)]


def _edit(rng, words: list, rate: float) -> list:
    out = list(words)
    for _ in range(max(1, int(len(out) * rate))):
        i = int(rng.integers(0, len(out)))
        out[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def curation(seed: int, out: str) -> dict:
    """A word-soup corpus in the shape of the engine's ``documents``
    fixture, with planted near-duplicate pairs (a copy of a document with
    a few words replaced) and boilerplate lines shared by many
    documents, plus a small benchmark corpus for decontamination."""
    rng = np.random.default_rng([seed, 4])
    c = CURATION
    boiler = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), 8))
              for _ in range(c["boiler"])]
    texts = []
    # the seed picks the words; the shape (lines per document, which
    # documents carry which boilerplate line) is the same on every seed,
    # so the dedup operators compare as many candidate pairs on each
    for i in range(c["docs"] - c["dup_pairs"]):
        lines = _doc(rng, 4 + i % 5)
        if i % 10 < 3:
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         boiler[(i // 10) % len(boiler)])
        texts.append(lines)
    planted = []
    # distinct originals: every planted duplicate group is one pair, so the
    # connected components behind {dedup method: 'clusters'} take the same
    # number of supersteps on every seed
    for src in rng.choice(len(texts), c["dup_pairs"], replace=False):
        src = int(src)
        words = "\n".join(texts[src]).split(" ")
        texts.append(" ".join(_edit(rng, words, 0.02)).split("\n"))
        planted.append((src, len(texts) - 1))
    order = rng.permutation(len(texts))
    pos = {int(old): new for new, old in enumerate(order)}
    docs = ["\n".join(texts[int(i)]) for i in order]
    planted = sorted(tuple(sorted((pos[a], pos[b]))) for a, b in planted)
    langs = [("en", "de", "fr", "zh")[i] for i in rng.integers(0, 4, len(docs))]
    _write({"id": np.arange(len(docs), dtype=np.int64), "text": docs,
            "lang": langs}, os.path.join(out, "docs.parquet"))
    bench = []
    for _ in range(c["bench"]):
        if rng.random() < 0.5:       # shares a long run with a corpus doc
            words = docs[int(rng.integers(0, len(docs)))].split(" ")
            i = int(rng.integers(0, max(1, len(words) - 12)))
            bench.append(" ".join(words[i:i + 12]))
        else:
            bench.append(" ".join(_doc(rng, 2)))
    _write({"id": np.arange(len(bench), dtype=np.int64), "text": bench},
           os.path.join(out, "bench.parquet"))
    script = {"planted": planted, "threshold": 0.7, "chunk": [48, 8],
              "budget_tokens": 8_000, "curate_quality_min": 0.3, "ngram": 8}
    _dump(script, os.path.join(out, "script.json"))
    return {"docs": docs, **script}


GENERATORS = {"gql_serving": serving, "curation_batch": curation}
