"""Calls into the engine's layers, and the per-layer metrics built from
their spans.

The per-layer metric names are the same on every workload; a layer a
workload does not touch reports 0 there.
"""

from __future__ import annotations

import contextlib

from common import median

KINDS = ["point", "range", "project", "count", "walk", "knn_exact",
         "knn_routed", "overlay_read", "upsert"]
ALGOS = ["cc"]
CURATION = ["dedup.minhash", "dedup.clusters", "dedup.lines", "text.lm_score",
            "sampling.curate", "text.chunk", "sampling.budget"]
SELF_LAYERS = ["bench", "gql", "executor", "operators.graph_algos",
               "operators.dedup", "operators.text", "operators.sampling",
               "spark"]
OVERHEAD = ["p50_ms", "p90_ms", "pass_s"]


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric."""
    out = []
    for k in KINDS:
        out += [(f"gql.parse_ms.{k}", "ms"), (f"executor.plan_ms.{k}", "ms"),
                (f"executor.plan_jobs.{k}", "count"),
                (f"spark.exec_ms.{k}", "ms"), (f"spark.jobs.{k}", "count"),
                (f"spark.tasks.{k}", "count"), (f"spark.idle_ms.{k}", "ms")]
    out.append(("catalog.upsert_ms", "ms"))
    for a in ALGOS:
        out += [(f"operators.graph_algos.{a}.{m}", u) for m, u in
                (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("shuffle_bytes", "bytes"), ("idle_s", "s"))]
    out += [(f"catalog.build_ivf_index.{m}", u) for m, u in
            (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))]
    out += [("spark.knn.input_rows", "count"),
            ("spark.knn.rows_per_result", "ratio")]
    for s in CURATION:
        out += [(f"operators.{s}.{m}", u) for m, u in
                (("wall_s", "s"), ("jobs", "count"),
                 ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))]
    out.append(("spark.gc_ms", "ms"))
    out += [(f"self_s.{lay}", "s") for lay in SELF_LAYERS]
    out += [(f"trace_overhead.{m}", m.rsplit("_", 1)[1]) for m in OVERHEAD]
    return out


# -------------------------------------------------------- engine calls
def statement(db, gql: str, kind: str, tracer):
    """Run one GQL statement and consume its result.

    Untraced, this is the user's call: ``GQLite.exec`` and a collect of
    the returned DataFrame.  Traced, the same work is split at the layer
    boundaries: ``gql.parser.parse``, the executor's dispatch (planning,
    catalog work, Catalyst analysis) and the Spark action.  Returns
    (collected rows or the statement's value, error text or None)."""
    from gqlite_spark.errors import GQLiteError
    from gqlite_spark.gql import parser as gql_parser

    if not tracer.enabled:
        try:
            res = db.exec(gql)[0]
            if res.error:
                return None, res.error
            return (res.df.collect() if res.df is not None
                    else res.value), None
        except Exception as e:       # a failed statement is counted, not fatal
            return None, repr(e)
    tracer.new_op()
    with tracer.span("bench", "statement", kind):
        try:
            with tracer.span("gql", "parse", kind):
                stmts = gql_parser.parse(gql)
            with tracer.span("executor", "plan", kind):
                res = db._dispatch(stmts[0])
            if res.df is None:
                return res.value, None
            with tracer.span("spark", "exec", kind):
                return res.df.collect(), None
        except GQLiteError as e:
            return None, str(e)
        except Exception as e:
            return None, repr(e)


@contextlib.contextmanager
def traced_calls(tracer, module, attr: str, layer: str, name: str):
    """While tracing, run every call to ``module.attr`` in its own span
    (for a layer the engine calls from inside another one)."""
    if not tracer.enabled:
        yield
        return
    orig = getattr(module, attr)

    def wrapped(*args, **kwargs):
        with tracer.span(layer, name):
            return orig(*args, **kwargs)

    setattr(module, attr, wrapped)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ------------------------------------------------------------- metrics
def _subtree(tracer) -> dict:
    """sid -> counters summed over the span and all its descendants."""
    tot = {s.sid: dict(s.counters) for s in tracer.spans}
    for s in reversed(tracer.spans):         # children come after parents
        if s.parent is not None:
            p = tot[s.parent]
            for k, v in tot[s.sid].items():
                p[k] = p.get(k, 0) + v
    return tot


def layer_metrics(tracer, knn_rows: int = 0) -> dict:
    """Every per-layer metric from the spans of a traced run."""
    out = {name: 0.0 for name, _ in per_layer()}
    tot = _subtree(tracer)

    def med(spans, fn):
        return median([fn(s) for s in spans]) if spans else 0.0

    for k in KINDS:
        parse = tracer.select("gql", "parse", k)
        plan = tracer.select("executor", "plan", k)
        exe = tracer.select("spark", "exec", k)
        out[f"gql.parse_ms.{k}"] = med(parse, lambda s: s.ms)
        out[f"executor.plan_ms.{k}"] = med(plan, lambda s: s.ms)
        out[f"executor.plan_jobs.{k}"] = med(plan,
                                             lambda s: s.counters["jobs"])
        out[f"spark.exec_ms.{k}"] = med(exe, lambda s: s.ms)
        out[f"spark.jobs.{k}"] = med(exe, lambda s: s.counters["jobs"])
        out[f"spark.tasks.{k}"] = med(exe, lambda s: s.counters["tasks"])
        out[f"spark.idle_ms.{k}"] = med(exe, lambda s: s.idle_ms)
    out["catalog.upsert_ms"] = med(tracer.select("executor", "plan", "upsert"),
                                   lambda s: s.ms)

    for a in ALGOS:
        sp = tracer.select("operators.graph_algos", a)
        p = f"operators.graph_algos.{a}."
        out[p + "wall_s"] = med(sp, lambda s: s.ms / 1000.0)
        out[p + "jobs"] = med(sp, lambda s: s.counters["jobs"])
        out[p + "tasks"] = med(sp, lambda s: s.counters["tasks"])
        out[p + "shuffle_bytes"] = med(
            sp, lambda s: s.counters["shuffle_write_bytes"])
        out[p + "idle_s"] = med(sp, lambda s: s.idle_ms / 1000.0)

    # {vindex}: its executor span is the catalog's build_ivf_index call
    sp = tracer.select("bench", "statement", "vindex")
    out["catalog.build_ivf_index.wall_s"] = med(sp, lambda s: s.ms / 1000.0)
    out["catalog.build_ivf_index.jobs"] = med(sp, lambda s: tot[s.sid]["jobs"])
    out["catalog.build_ivf_index.shuffle_bytes"] = med(
        sp, lambda s: tot[s.sid]["shuffle_write_bytes"])

    probes = tracer.select("bench", "statement", "knn_routed")
    out["spark.knn.input_rows"] = med(probes,
                                      lambda s: tot[s.sid]["input_rows"])
    if knn_rows:
        out["spark.knn.rows_per_result"] = sum(
            tot[s.sid]["input_rows"] for s in probes) / knn_rows

    for stmt in CURATION:
        module, name = stmt.split(".")
        sp = tracer.select("operators." + module, name)
        p = f"operators.{stmt}."
        out[p + "wall_s"] = med(sp, lambda s: s.ms / 1000.0)
        out[p + "jobs"] = med(sp, lambda s: tot[s.sid]["jobs"])
        out[p + "shuffle_bytes"] = med(
            sp, lambda s: tot[s.sid]["shuffle_write_bytes"])
        out[p + "spill_bytes"] = med(sp, lambda s: tot[s.sid]["spill_bytes"])

    for layer, ms in tracer.self_ms().items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = ms / 1000.0
    return out
