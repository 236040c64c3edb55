"""curation_batch: the training-data operators over a corpus with planted
near-duplicates.

One pass runs ``{dedup}`` (minhash, clusters and lines), the corpus LM score
(``operators.text.lm_score``), ``{curate}``, ``{chunk}`` and
``{budget}``: the shuffle-heavy operator layer no other workload uses.
Checks: every minhash pair's Jaccard is recomputed exactly, the found
share of planted pairs is the quality (``dedup_recall``), every cluster
must be connected by above-threshold pairs and keep its min id, removed-line
counts and chunk counts are recomputed in Python, the budget must hold,
and the LM scores, curation report and budget selection must be the
same on every pass.
"""

from __future__ import annotations

import collections
import os
import time

from common import median, note_failure
from layers import statement, traced_calls

CONF: dict = {}
PASS_S = 10.0               # --seconds per pass: 2 passes at 20
ROOT = "cg"


class State:
    def __init__(self, db, inputs: dict):
        self.db = db
        self.inputs = inputs
        self.done: list = []          # (step, result, error)


def setup(spark, data_dir: str, inputs: dict, attempt: int) -> State:
    """Register the corpus and benchmark groups and count the corpus.
    The first set-up also runs one pass over the 40-text benchmark group,
    so the measured passes do not pay first-use code generation."""
    from gqlite_spark import GQLite

    db = GQLite(spark)
    g = db.catalog.create_graph(ROOT)
    for name in ("docs", "bench"):
        g.create_group(name).register_df(
            spark.read.parquet(os.path.join(data_dir, name + ".parquet")),
            key_col="id")
    db.exec(f"{{query: count(docs), in: '{ROOT}'}};")
    if attempt == 0:
        for step, gql in _steps(inputs, "bench"):
            if gql is None:
                _lm_score(db, "bench")
            else:
                db.exec(gql)[0].df.collect()
    return State(db, inputs)


def _steps(s: dict, group: str = "docs") -> list:
    size, overlap = s["chunk"]
    on = f"'{group}', in: '{ROOT}'"
    return [
        ("dedup.minhash", f"{{dedup: {on}, method: 'minhash', on: 'text', "
         f"threshold: {s['threshold']}}};"),
        ("dedup.clusters", f"{{dedup: {on}, method: 'clusters', on: 'text', "
         f"threshold: {s['threshold']}}};"),
        ("dedup.lines", f"{{dedup: {on}, method: 'lines', on: 'text'}};"),
        ("text.lm_score", None),
        ("sampling.curate", f"{{curate: {on}, benchmark: 'bench', "
         f"quality_min: {s['curate_quality_min']}, ngram: {s['ngram']}}};"),
        ("text.chunk", f"{{chunk: {on}, size: {size}, overlap: {overlap}}};"),
        ("sampling.budget", f"{{budget: {on}, tokens: {s['budget_tokens']}}};"),
    ]


def _lm_score(db, group: str = "docs"):
    from gqlite_spark.operators.text import lm_score

    docs = db.catalog.graph(ROOT).group(group).to_df()
    return lm_score(docs, id_col="id", text_col="text").collect()


def run(state: State, n_passes: int, tracer) -> dict:
    from gqlite_spark.operators import graph_algos

    passes: list = []
    # {dedup method: 'clusters'} runs connected components over the
    # near-duplicate pair graph; traced, that call gets its own span
    with traced_calls(tracer, graph_algos, "connected_components",
                      "operators.graph_algos", "cc"):
        for _ in range(n_passes):
            passes.append(_pass(state, tracer))
    return {"passes": passes}


def _pass(state: State, tracer) -> tuple[float, dict]:
    """One pass of the steps: (seconds, {step: milliseconds})."""
    t_pass, steps = time.perf_counter(), {}
    for step, gql in _steps(state.inputs):
        module, name = step.split(".")
        t0 = time.perf_counter()
        with tracer.span("operators." + module, name):
            if gql is None:
                try:
                    out, err = _lm_score(state.db), None
                except Exception as e:   # counted as failed
                    out, err = None, repr(e)
            else:
                out, err = statement(state.db, gql, step, tracer)
        steps[step] = (time.perf_counter() - t0) * 1000.0
        state.done.append((step, out, err))
    return time.perf_counter() - t_pass, steps


# -------------------------------------------------------------- checking
def _jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}
    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


def _clusters_ok(rows, docs: list, threshold: float) -> bool:
    """Each cluster is represented by its min id, keeps only that id, and
    is connected by pairs whose exact Jaccard clears the threshold."""
    members = collections.defaultdict(list)
    for r in rows:
        if r["keep"] != (r["id"] == r["cluster_rep"]):
            return False
        members[r["cluster_rep"]].append(r["id"])
    for rep, ids in members.items():
        if len(ids) < 2 or rep != min(ids):
            return False
        seen, todo = {rep}, [rep]
        while todo:
            a = todo.pop()
            for b in ids:
                if b not in seen and _jaccard(docs[a], docs[b]) >= threshold:
                    seen.add(b)
                    todo.append(b)
        if len(seen) != len(ids):
            return False
    return True


def _removed_lines(docs: list) -> dict:
    norm = [[ln.strip().lower() for ln in d.split("\n")] for d in docs]
    df = collections.Counter(ln for lines in norm for ln in set(lines) if ln)
    return {i: sum(1 for ln in lines if ln and df[ln] >= 2)
            for i, lines in enumerate(norm)}


def _chunks(docs: list, size: int, overlap: int) -> dict:
    out = {}
    for i, d in enumerate(docs):
        n = len(d.split(" "))
        out[i] = len(range(1, max(n - overlap, 1) + 1, size - overlap))
    return out


def check(state: State) -> tuple[int, int, float]:
    s, docs = state.inputs, state.inputs["docs"]
    planted = {tuple(p) for p in s["planted"]}
    removed = _removed_lines(docs)
    chunks = _chunks(docs, *s["chunk"])
    first: dict = {}
    failed, recalls = 0, []
    for step, out, err in state.done:
        ok = err is None
        if ok and step == "dedup.minhash":
            pairs = {(min(r[0], r[1]), max(r[0], r[1])): r[2] for r in out}
            # the operator reports the Jaccard rounded to 4 places
            ok = all(abs(j - x) <= 5e-5 + 1e-12 and x >= s["threshold"]
                     for (a, b), j in pairs.items()
                     for x in [_jaccard(docs[a], docs[b])])
            recalls.append(len(planted & pairs.keys()) / len(planted))
        elif ok and step == "dedup.clusters":
            ok = _clusters_ok(out, docs, s["threshold"])
        elif ok and step == "dedup.lines":
            ok = {r["id"]: r["n_removed"] for r in out} == removed
        elif ok and step == "text.chunk":
            got = collections.Counter(r["id"] for r in out)
            ok = dict(got) == chunks
        elif ok and step == "sampling.budget":
            ok = 0 < sum(r["n_tokens"] for r in out) <= s["budget_tokens"]
        if ok and step in ("text.lm_score", "sampling.curate",
                           "sampling.budget"):
            # deterministic operators: every pass must agree with the first
            key = sorted(tuple(r) for r in out)
            ok = first.setdefault(step, key) == key
            if ok and step == "text.lm_score":
                ok = len(out) == len(docs)
        if not ok:
            failed += 1
            note_failure(step, err or "")
    return len(state.done), failed, median(recalls) if recalls else 0.0
