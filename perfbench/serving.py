"""gql_serving: one client in a closed loop of GQL statements over
TPC-H-shaped groups and an indexed vector group, about 80 % reads and
20 % writes.

The first set-up builds the vector group's IVF index with ``{vindex}``
and runs one statement of each kind; then each pass runs a vector
re-upsert and a scratch upsert, then 18 reads and 3 writes in seeded
order.  Each statement is timed from ``GQLite.exec`` until its DataFrame
has been collected.
Reads are checked against DuckDB over the same parquet files and numpy
exact top-10; reads of the scratch group and routed ``$near`` probes are
checked against a model of every write executed before them
(read-your-writes through the overlay).  Routed probes are approximate:
their mean recall@10 is the workload's ``recall``; a probe that returns
a wrong row count, a duplicate or a stale vector counts as failed.
"""

from __future__ import annotations

import collections
import os
import time

import duckdb
import numpy as np

from common import note_failure, work_dir
from gen import INDEX_PATH
from layers import KINDS, statement
from spans import Tracer

# the vector group (20,000 rows) sits above this threshold, so its
# $near+limit takes the routed plan while the 2,000-row embeddings group
# stays exact; the engine default (100,000) would need a corpus whose
# index build alone outlasts the run
CONF = {"spark.gqlite.knn.ann_threshold": "10000"}
PASS = 23                   # statements per pass of the generated stream
PASS_S = 10.0               # --seconds per pass: 2 passes at 20
TABLES = [("customer", "c_custkey"), ("orders", "o_orderkey"),
          ("nation", "n_nationkey"), ("embeddings", "vec_id"),
          ("vecs", "id"), ("scratch", "id")]
READS = [k for k in KINDS if k != "upsert"]
# the reads each set-up answers first
FIRST = ["point", "count"]


class State:
    def __init__(self, db, data_dir: str, inputs: dict, tag: str):
        self.db = db
        self.data_dir = data_dir
        self.stream = inputs["stream"]
        self.inputs = inputs
        self.tag = tag
        self.pos = 0
        self.done: list = []        # (statement, result rows/value, error)


def _gql(state: State, st: dict) -> str:
    """The statement text; a ``{vindex}`` gets a fresh index path."""
    path = os.path.join(work_dir("gql_serving", "index"),
                        f"{state.tag}-{state.pos}")
    return st["gql"].replace(INDEX_PATH, path)


def setup(spark, data_dir: str, inputs: dict, attempt: int) -> State:
    """Register the groups as ``__spark_entry__._gql_db`` does (zero-copy
    parquet registration), add the scratch vertex and edge groups, and
    answer a first point read and ``count()``.

    The run continues on the first set-up's groups, so that one also
    warms up the rest before timing: it builds the index and runs the
    first pass's writes and its first statement of each other kind, all
    checked like the measured statements.  Later set-ups are repeats for
    ``setup_s`` and are discarded."""
    from gqlite_spark import GQLite

    db = GQLite(spark)
    g = db.catalog.create_graph("tpch")
    for table, key in TABLES:
        g.create_group(table).register_df(
            spark.read.parquet(os.path.join(data_dir, table + ".parquet")),
            key_col=key)
    g.create_group("nation_ring", is_edge=True, src_group="nation",
                   dst_group="nation").register_df(
        spark.read.parquet(os.path.join(data_dir, "nation_ring.parquet")))
    g.create_group("scratch_e", is_edge=True, src_group="scratch",
                   dst_group="scratch")
    state = State(db, data_dir, inputs, f"a{attempt}")
    stream = inputs["stream"]
    first = stream[1:1 + PASS]
    fresh = [all(o["kind"] != st["kind"] for o in first[:i])
             for i, st in enumerate(first)]
    if attempt == 0:
        warm = [stream[0]] + [st for st, f in zip(first, fresh)
                              if f or st["kind"] == "upsert"]
    else:
        warm = [st for st, f in zip(first, fresh) if f and st["kind"] in FIRST]
    untraced = Tracer(spark, False)
    for st in warm:
        state.done.append((st, *statement(db, _gql(state, st), st["kind"],
                                          untraced)))
    state.pos = 1 + PASS
    return state


def run(state: State, n_passes: int, tracer) -> dict:
    """Execute the next ``n_passes`` passes of the stream, in order.  A
    traced run first rebuilds the index, so its spans cover the build."""
    passes, knn_rows = [], 0
    if tracer.enabled:
        st = state.stream[0]
        state.done.append((st, *statement(state.db, _gql(state, st),
                                          st["kind"], tracer)))
    for _ in range(n_passes):
        if state.pos + PASS > len(state.stream):
            break
        t_pass, reads, nth = time.perf_counter(), {}, collections.Counter()
        for st in state.stream[state.pos:state.pos + PASS]:
            gql = _gql(state, st)
            state.pos += 1
            t0 = time.perf_counter()
            out, err = statement(state.db, gql, st["kind"], tracer)
            if st["kind"] in READS:
                # every pass has the same slots (the n-th read of a kind),
                # each running the same statement variant
                reads[st["kind"], nth[st["kind"]]] = \
                    (time.perf_counter() - t0) * 1000.0
                nth[st["kind"]] += 1
            state.done.append((st, out, err))
            if st["kind"] == "knn_routed" and out is not None:
                knn_rows += len(out)
        passes.append((time.perf_counter() - t_pass, reads))
    return {"passes": passes, "knn_rows": knn_rows}


# -------------------------------------------------------------- checking
def check(state: State) -> tuple[int, int, float]:
    """Returns (attempted, failed, mean recall@10 of the routed probes)."""
    con = duckdb.connect()
    for t in ("customer", "orders", "nation_ring", "scratch"):
        con.execute(f"create view {t} as select * from read_parquet("
                    f"'{os.path.join(state.data_dir, t + '.parquet')}')")
    scratch = {int(k): {"a": int(a), "s": s} for k, a, s in con.execute(
        "select id, a, s from scratch").fetchall()}
    vecs = state.inputs["vecs"].astype(np.float64)
    failed, recalls = 0, []
    for st, out, err in state.done:
        kind = st["kind"]
        ok = err is None
        if ok and kind == "upsert":
            _apply_write(scratch, vecs, st)
        elif ok and kind == "knn_routed":
            ok, recall = _routed_ok(vecs, np.array(st["vec"]), out)
            recalls.append(recall)
        elif ok and kind != "vindex":
            ok = _check_read(con, scratch, state.inputs["emb"], st, out)
        if not ok:
            failed += 1
            note_failure(kind, err or st["gql"][:120])
    con.close()
    return len(state.done), failed, float(np.mean(recalls)) if recalls \
        else 0.0


def _apply_write(model: dict, vecs, st: dict) -> None:
    if st["op"] == "vertex":
        for k, a, s in st["rows"]:
            model[int(k)] = {"a": a, "s": s}
    elif st["op"] == "property":
        if st["key"] in model:
            model[st["key"]]["a"] = st["a"]
    elif st["op"] == "remove":
        model.pop(st["key"], None)
    elif st["op"] == "vector":
        vecs[st["ids"]] = st["vecs"]


def _routed_ok(vecs, q, rows) -> tuple[bool, float]:
    """10 distinct rows, each with its vector as of this probe; returns
    (ok, recall@10 against the exact top-10)."""
    ids = [r["id"] for r in rows]
    if len(ids) != 10 or len(set(ids)) != 10:
        return False, 0.0
    fresh = all(np.allclose(r["embedding"], vecs[r["id"]], atol=1e-5)
                for r in rows)
    d = ((vecs - q) ** 2).sum(axis=1)
    truth = set(np.argpartition(d, 10)[:10].tolist())
    return fresh, len(truth & set(ids)) / 10.0


def _check_read(con, scratch: dict, emb, st: dict, out) -> bool:
    kind = st["kind"]
    if kind == "count":
        return out == con.execute(f"select count(*) from {st['table']}"
                                  ).fetchone()[0]
    rows = out
    if kind == "point":
        if st["table"] == "customer":
            exp = con.execute("select c_custkey, c_name, c_acctbal from "
                              "customer where c_custkey = ?", [st["key"]]
                              ).fetchall()
            got = [(r["id"], r["c_name"], r["c_acctbal"]) for r in rows]
        else:
            exp = con.execute("select o_orderkey, o_custkey, o_totalprice "
                              "from orders where o_orderkey = ?", [st["key"]]
                              ).fetchall()
            got = [(r["id"], r["o_custkey"], r["o_totalprice"]) for r in rows]
        return got == exp
    if kind == "range":
        exp = {r[0] for r in con.execute(
            "select o_orderkey from orders where o_totalprice > ? and "
            "o_totalprice <= ?", [st["lo"], st["hi"]]).fetchall()}
        return len(rows) == len(exp) and {r["id"] for r in rows} == exp
    if kind == "project":
        exp = sorted(con.execute("select c_name, c_acctbal from customer "
                                 "where c_acctbal > ?", [st["x"]]).fetchall())
        return sorted((r["c_name"], r["c_acctbal"]) for r in rows) == exp
    if kind == "walk":
        exp = set(con.execute(
            "select a.src, a.dst, b.dst from nation_ring a join nation_ring b"
            " on a.dst = b.src where a.src = ?", [st["start"]]).fetchall())
        got = [tuple(r) for r in rows]
        return len(got) == len(exp) and set(got) == exp
    if kind == "knn_exact":
        return _knn_ok(emb, np.array(st["vec"]), [r["id"] for r in rows], 10)
    if kind == "overlay_read":
        if "key" in st:
            exp = ([(st["key"], scratch[st["key"]]["a"],
                     scratch[st["key"]]["s"])]
                   if st["key"] in scratch else [])
        else:
            exp = sorted((k, v["a"], v["s"]) for k, v in scratch.items()
                         if v["a"] > st["gt"])
        return sorted((r["id"], r["a"], r["s"]) for r in rows) == exp
    return False


def _knn_ok(x, q, got_ids, k: int) -> bool:
    """Exact top-k by squared L2; a swap at the k-th place counts as
    correct only when the two distances tie to 1e-9 relative."""
    d = ((x.astype(np.float64) - q) ** 2).sum(axis=1)
    order = np.argsort(d, kind="stable")
    exp = set(order[:k].tolist())
    if len(got_ids) != k or len(set(got_ids)) != k:
        return False
    kth = d[order[k - 1]]
    return all(i in exp or abs(d[i] - kth) <= 1e-9 * max(kth, 1.0)
               for i in got_ids)
