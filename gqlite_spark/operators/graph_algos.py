"""Distributed graph algorithms as DataFrame-native Pregel loops.

The reference declares these (PageRank src/operand/analysis/PageRank.cpp,
Tarjan SCC, A*/BFS walks include/walk/AStarWalk.h:27-95, random walk) but
most are stubs; we implement them for real on Spark.  The driver mandate is
"GraphX for analytics queries" — GraphX's Pregel model is Scala-only, so from
PySpark we express the same vertex-program iteration directly over
DataFrames: superstep = join(messages = frontier ⋈ edges) → groupBy(min/sum)
→ compare-and-update.

Every loop is a ``step`` (message logic only: ``step(state, i)`` returns the
next state as a lazy plan) run by ONE superstep driver, :func:`_supersteps`.
The driver owns everything else:

- lineage truncation — eager checkpoints on a cadence, or a checkpoint
  fused with the convergence probe into one job; lazy checkpoints exist
  only inside the driver, where the job that materializes them is known;
- the reliable/local checkpoint branch (operators/ckpt.py);
- the convergence rule — a fixed superstep count, an empty frontier, or
  a repeated state digest (one order-independent xxhash64 sum);
- the exhaustion policy — an empty-frontier or digest loop that runs out
  of ``max_iter`` warns (``RuntimeWarning``) instead of returning a
  silently truncated result.

State stays keyed by vertex id so each superstep is ONE shuffle on id, and
nothing but scalars/paths is collected to the driver.  Shortest path and
the weighted centralities share one Bellman-Ford relaxation
(:func:`_relax`).
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import conf

_CHECKPOINT_EVERY = 5


def _iterative_shuffle_scope(df: DataFrame, state_bytes: "int | None" = None):
    """Scoped shuffle-conf override for iterative loops (a
    :func:`conf.scoped` block).

    Superstep state is vertex-count-sized, not scan-sized; on a stock
    session (200 shuffle partitions) every superstep pays 200-task
    exchanges that AQE only partially rescues.  Inside the scope, shuffles
    default to the core parallelism, and AQE coalescing respects the
    advisory partition size instead of keeping one partition per core
    (``coalescePartitions.parallelismFirst=false``) — superstep exchanges
    over small frontier/label state collapse to a handful of tasks instead
    of full-width near-empty ones (r14 A/B: keep_best −11% warm; applied
    scoped because the same setting serializes the one big exchange of
    window-aggregation queries when set session-wide).

    AQE is also off for MEASURED single-advisory-partition state (r15):
    AQE's value is runtime coalescing and skew-splitting of exchanges,
    but when the whole iterative state fits inside one advisory
    partition there is nothing to coalesce or split — every superstep
    still pays AQE's per-exchange query-stage barrier + re-optimization
    (measured: the keep_best CC leg on its 256-edge checkpointed pair
    graph drops 2.34 → 1.34 s warm with AQE off in-scope, labels
    parity-identical).  The gate fires ONLY on caller-measured
    ``state_bytes`` (e.g. near_dup_clusters' :func:`conf.row_bytes`
    probe on its pair-list materialization) no larger than the session's
    advisory partition size (AQE off won at every measured size up to
    97 % of it: PLANS.md 'CC AQE gate keyed on measured bytes').  A
    Catalyst-plan-stats auto-gate was probed
    and REJECTED — join-derived estimates mislabel real workloads in
    both directions, and an A/B over the eight scoped graph entries
    showed AQE ON faster on every plan-derived input (static plans lose
    the runtime broadcast conversion in the frontier joins).  No hint →
    AQE stays ON (hub skew is the classic graph case)."""
    spark = df.sparkSession
    targets = {
        "spark.sql.shuffle.partitions":
            str(spark.sparkContext.defaultParallelism),
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    if state_bytes is not None and \
            state_bytes <= conf.byte_conf(spark, conf.ADVISORY_PARTITION):
        targets["spark.sql.adaptive.enabled"] = "false"
    return conf.scoped(spark, targets)


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager checkpoint with partition-count discipline: iterative state
    is usually far smaller than the session's shuffle-partition default
    (200 on a stock session) — materializing 200 near-empty tasks per
    superstep dominates wall-clock, so coalesce to the cluster's core
    parallelism first (a narrow no-shuffle op).  Strategy (local vs
    reliable) comes from the session conf — see operators/ckpt.py."""
    from .ckpt import materialize
    return materialize(df, eager=True, coalesce=True)


def _supersteps(state: DataFrame, step, until: str, bound: int, *,
                every: int = 1, batch: int = 1, probe=None,
                seed: bool = False, warn: "str | None" = None):
    """The superstep driver: runs ``step(state, i) -> next state`` and
    yields every state it materializes.

    ``until`` is the convergence rule:

    - ``"count"``: exactly ``bound`` supersteps, an eager checkpoint
      after every ``every``-th one; no probe job.
    - ``"empty"``: each new state is checkpointed and probed in ONE job
      (``probe``, default ``count(*)`` — the frontier size); the loop
      stops at the first zero, which is not yielded.
    - ``"fixpoint"``: ``batch`` supersteps per probe; stops when the
      state digest (``probe``, default the decimal sum of
      ``xxhash64(*columns)``: order-independent and type-agnostic — a
      plain sum over string ids would be NULL — collision odds ~2^-64)
      repeats.  In local mode with ``batch`` > 1, the penultimate
      superstep's state is checkpointed LAZILY: the batch's probe job
      computes every partition of it (the last superstep aggregates the
      whole state), so digesting it afterwards is a shuffle-free
      mini-job and the fixpoint is caught at +1-superstep granularity
      instead of one full batch late.  Otherwise (reliable checkpoints —
      a lazy reliable checkpoint re-runs its lineage when the files are
      written — ``batch`` == 1, or ``seed``) consecutive batch digests
      are compared; ``seed`` probes the initial state first, so the
      first batch can already confirm the fixpoint.

    An ``"empty"`` or ``"fixpoint"`` loop that uses up ``bound``
    supersteps without converging emits ``warn`` as a RuntimeWarning;
    ``warn=None`` only where the bound IS the answer (k_hop's ``hops``)."""
    from .ckpt import materialize, materialize_probed
    if until == "count":
        for i in range(bound):
            state = step(state, i)
            if (i + 1) % every == 0:
                state = _ckpt(state)
            yield state
        return
    if until == "empty":
        probe = F.count(F.lit(1)) if probe is None else probe
        for i in range(bound):
            state, p = materialize_probed(step(state, i), probe)
            if p[0] == 0:
                return
            yield state
    else:
        digest = (F.sum(F.xxhash64(*state.columns).cast("decimal(38,0)"))
                  if probe is None else probe)
        cross = (seed or batch == 1
                 or conf.get(state.sparkSession, "checkpoint.reliable"))
        prev, i = None, 0
        if seed:
            state, p = materialize_probed(state, digest)
            prev = p[0]
        for _ in range(0, bound, batch):
            for _ in range(batch if cross else batch - 1):
                state, i = step(state, i), i + 1
            if cross:
                state, p = materialize_probed(state, digest)
                done, prev = p[0] == prev, p[0]
            else:
                penult = materialize(state, eager=False)
                state, p = materialize_probed(step(penult, i), digest)
                i += 1
                done = p[0] == penult.agg(digest).collect()[0][0]
            yield state
            if done:
                return
    if warn:
        warnings.warn(warn, RuntimeWarning)


def _converge(state: DataFrame, step, until: str, bound: int, **kw):
    """:func:`_supersteps` run to the end: the last materialized state
    (``state`` itself if no superstep yielded one)."""
    for state in _supersteps(state, step, until, bound, **kw):
        pass
    return state


def _relax(best: DataFrame, expand, keys: list, vals: list, bound: int,
           warn: str) -> DataFrame:
    """Bellman-Ford frontier relaxation, shared by shortest_path and the
    weighted centralities.  ``best`` holds (*keys, *vals); ``expand``
    turns the frontier into candidate rows of the same shape.  Per
    superstep: min-aggregate bests ∪ candidates on ``keys`` (lexicographic
    over ``vals``), left-join the old bests and flag improved rows
    ``_live`` — only those re-expand.  Bests and frontier are ONE
    checkpointed state, so the frontier probe (count of live rows) is the
    only job per superstep.  Re-expanding on ANY improvement of the
    ``vals`` tuple, not just the first column, lets an equal-cost,
    lexicographically smaller path that arrives later still propagate
    downstream (shortest_path's deterministic tie-break)."""
    def tup(side):
        cols = [F.col(f"{side}.{c}") for c in vals]
        return cols[0] if len(cols) == 1 else F.struct(*cols)

    def step(state, _):
        cur = state.drop("_live")
        cand = cur.unionByName(expand(state.filter("_live").drop("_live")))
        if len(vals) == 1:
            new = cand.groupBy(*keys).agg(F.min(vals[0]).alias(vals[0]))
        else:
            # min(struct) = lexicographic — one partial-aggregating shuffle
            new = (cand.groupBy(*keys).agg(F.min(F.struct(*vals)).alias("_m"))
                   .select(*keys, *[F.col(f"_m.{c}").alias(c) for c in vals]))
        return (new.alias("n").join(cur.alias("o"), keys, "left")
                .select(*keys, *[F.col(f"n.{c}").alias(c) for c in vals],
                        (F.col(f"o.{vals[0]}").isNull() | (tup("n") < tup("o")))
                        .alias("_live")))

    # the superstep that finds no improvement reproduces the last yielded
    # bests exactly, so the last yielded state IS the fixpoint
    state = _converge(best.withColumn("_live", F.lit(True)), step, "empty",
                      bound, probe=F.count(F.when(F.col("_live"), 1)),
                      warn=warn)
    return state.drop("_live")


def normalize_edges(edges: DataFrame, weight_col: Optional[str] = None,
                    undirected: bool = False) -> DataFrame:
    """Project to (src, dst, w); undirected graphs get both orientations."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0)).alias("w")
    e = edges.select(F.col("src"), F.col("dst"), w)
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    return e


def shortest_path(edges: DataFrame, src, dst, weight_col: Optional[str] = None,
                  undirected: bool = False, max_iter: int = 64):
    """Single-source shortest path src→dst with path reconstruction.

    Bellman-Ford-style frontier relaxation (the distributed analogue of the
    reference's A* walker, include/walk/AStarWalk.h:27-95 — a global
    priority queue does not distribute; frontier relaxation does).
    Returns (cost, [path ids]) or None if unreachable.  Deterministic:
    ties broken by lexicographically smallest path.  Warns
    (``RuntimeWarning``) if the relaxation is still improving after
    ``max_iter`` supersteps — a path longer than that many hops would
    otherwise be reported as unreachable or too expensive.
    """
    spark = edges.sparkSession
    e = normalize_edges(edges, weight_col, undirected)
    e = e.repartition("src").cache()

    id_type = dict(e.dtypes)["src"]
    seed = spark.createDataFrame([(src, 0.0, [src])],
                                 f"id {id_type}, cost double, path array<{id_type}>")
    best = _relax(
        seed,
        lambda f: (f.alias("f").join(e.alias("e"),
                                     F.col("f.id") == F.col("e.src"))
                   .select(F.col("e.dst").alias("id"),
                           (F.col("f.cost") + F.col("e.w")).alias("cost"),
                           F.concat(F.col("f.path"),
                                    F.array(F.col("e.dst"))).alias("path"))),
        ["id"], ["cost", "path"], max_iter,
        f"shortest_path: relaxation did not converge within "
        f"max_iter={max_iter} supersteps; the returned path (or None) "
        f"ignores paths of more hops")
    hit = best.filter(F.col("id") == F.lit(dst)).collect()
    e.unpersist()
    if not hit:
        return None
    row = hit[0]
    return row["cost"], list(row["path"])


def k_hop(edges: DataFrame, start, hops: int,
          direction: str = "--") -> DataFrame:
    """Vertices reachable from ``start`` within ≤ ``hops`` hops
    (README.md:244-246 neighbor surface; reference stub gql.y:109).
    Returns a one-column DataFrame ``id`` (start excluded)."""
    spark = edges.sparkSession
    if direction == "--":
        e = normalize_edges(edges, undirected=True)
    elif direction == "->":
        e = edges.select("src", "dst")
    else:
        e = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    e = e.select("src", "dst").distinct().cache()
    id_type = dict(e.dtypes)["src"]
    visited = spark.createDataFrame([(start,)], f"id {id_type}")

    def hop(frontier, _):
        return (frontier.alias("f").join(e.alias("e"),
                                         F.col("f.id") == F.col("e.src"))
                .select(F.col("e.dst").alias("id")).distinct()
                .join(visited, "id", "left_anti"))

    # `visited` is a lazy union of checkpointed frontiers (bounded by
    # `hops`, like closeness's dist table) — one job per hop; `hops` is
    # the query's own bound, so reaching it is no truncation
    for nxt in _supersteps(visited, hop, "empty", hops):
        visited = visited.unionByName(nxt)
    e.unpersist()
    return visited.filter(F.col("id") != F.lit(start))


def degrees(edges: DataFrame, undirected: bool = False) -> DataFrame:
    """(id, in_degree, out_degree, degree) — reference intent at
    src/operand/analysis/DegreeCentrality.cpp (analysis body empty).

    One union + ONE map-side-combined shuffle instead of two keyed
    groupBys joined full-outer (2 data-sized exchanges + a join): each
    endpoint contributes a (1, 0) / (0, 1) pair and both counts sum in
    the same aggregate; absent roles sum to 0, exactly the old
    fillna(0)."""
    both = (edges.select(F.col("src").alias("id"),
                         F.lit(1).cast("long").alias("_o"),
                         F.lit(0).cast("long").alias("_i"))
            .unionByName(edges.select(F.col("dst").alias("id"),
                                      F.lit(0).cast("long").alias("_o"),
                                      F.lit(1).cast("long").alias("_i"))))
    d = both.groupBy("id").agg(F.sum("_o").alias("out_degree"),
                               F.sum("_i").alias("in_degree"))
    if undirected:
        return d.select("id", (F.col("in_degree") + F.col("out_degree"))
                        .alias("degree"))
    return d.withColumn("degree", F.col("in_degree") + F.col("out_degree"))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85,
             personalized_for: "list | None" = None) -> DataFrame:
    """Fixed-iteration PageRank (reference stub PageRank.cpp:5-23 — empty
    loops; implemented for real here).  Deterministic for a fixed iteration
    count.  Dangling-node mass is redistributed each superstep so ranks
    sum to N.  Returns (id, rank).

    ``personalized_for``: a list of source vertex ids switches to
    personalized PageRank — the teleport (and dangling) mass returns to
    the source set instead of spreading uniformly, ranking vertices by
    proximity to the sources (the recommendation / similar-entity
    query).  Same superstep shape: one keyed shuffle per iteration; the
    teleport set is a driver-side literal (dimension-sized by
    assumption)."""
    e = edges.select("src", "dst").cache()
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct().cache())
    n = verts.count()
    if personalized_for is not None:
        sources = [s for s in personalized_for]
        if not sources:
            raise ValueError("personalized_for must be non-empty")
        in_sources = F.col("id").isin(sources)
        # teleport mass N/|S| per source keeps total rank mass = N,
        # matching the uniform variant's scale
        tele = F.when(in_sources, F.lit(float(n) / len(sources))) \
                .otherwise(F.lit(0.0))
    else:
        tele = F.lit(1.0)
    outdeg = e.groupBy(F.col("src").alias("id")) \
              .agg(F.count("*").alias("outdeg"))
    # links: src → dst with 1/outdeg share; broadcast-size in tests, shuffle
    # join keyed on id at scale
    links = e.join(outdeg.withColumnRenamed("id", "src"), "src").cache()
    ranks = verts.withColumn("rank", tele)
    # dangling vertices (no out-edges) checked ONCE; marking them on the
    # vertex table lets each superstep fold the dangling-mass sum into the
    # plan itself (1-row aggregate broadcast-cross-joined in) — NO driver
    # action per iteration, so the loop is one job per superstep even on
    # dangling-heavy graphs (VERDICT r5 #5)
    dangmark = verts.join(outdeg.select("id"), "id", "left_anti") \
                    .withColumn("_is_dang", F.lit(True)).cache()
    has_dangling = bool(dangmark.take(1))

    def step(ranks, _):
        contribs = (links.join(ranks.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"),
                            (F.col("rank") / F.col("outdeg")).alias("c")))
        agg = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        if has_dangling:
            # dangling mass as a 1-row plan node, not a collect(): the
            # broadcast nested-loop join of a single aggregate row costs
            # nothing and keeps the superstep fully lazy
            dang = (ranks.join(dangmark.select("id"), "id", "left_semi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("_dang_mass")))
            base = ((F.lit(1.0 - damping)
                     + F.lit(damping) * F.col("_dang_mass") / F.lit(float(n)))
                    * tele)
            return (verts.join(agg, "id", "left")
                    .crossJoin(F.broadcast(dang))
                    .select("id", (base + F.lit(damping) *
                                   F.coalesce(F.col("s"), F.lit(0.0)))
                            .alias("rank")))
        # teleport + dangling mass land on the teleport distribution
        # (uniform: tele == 1 everywhere; personalized: sources only)
        base = F.lit(1.0 - damping) * tele
        return (verts.join(agg, "id", "left")
                .select("id", (base + F.lit(damping) *
                               F.coalesce(F.col("s"), F.lit(0.0)))
                        .alias("rank")))

    ranks = _converge(ranks, step, "count", iterations)
    dangmark.unpersist()
    links.unpersist()
    e.unpersist()
    return ranks


def connected_components(edges: DataFrame, max_iter: int = 32,
                         edge_bytes_hint: "int | None" = None) -> DataFrame:
    """Undirected connected components via min-label propagation
    (distributed HashMin; the large-star/small-star variant is the scale
    path for power-law graphs).  Returns (id, component) with component =
    min vertex id in the component.  Needs about diameter supersteps;
    warns (``RuntimeWarning``) if ``max_iter`` runs out first.

    ``edge_bytes_hint``: the caller-measured size of the edge list in
    bytes (e.g. a :func:`conf.row_bytes` probe riding the
    ``materialize_probed`` checkpoint of the edge list) lets the shuffle
    scope size its AQE decision from real data instead of Catalyst's
    estimate — checkpointed inputs otherwise report unknown (huge)
    stats."""
    with _iterative_shuffle_scope(edges, state_bytes=edge_bytes_hint):
        return _cc_impl(edges, max_iter)


def _cc_impl(edges: DataFrame, max_iter: int) -> DataFrame:
    e = normalize_edges(edges, undirected=True).select("src", "dst").distinct().cache()
    labels = (e.select(F.col("src").alias("id"))
              .unionByName(e.select(F.col("dst").alias("id")))
              .distinct().withColumn("component", F.col("id")))

    def step(lbl: DataFrame, _) -> DataFrame:
        msgs = (lbl.alias("l").join(e.alias("e"),
                                    F.col("l.id") == F.col("e.src"))
                .select(F.col("e.dst").alias("id"), F.col("l.component")
                        .alias("component")))
        return (lbl.unionByName(msgs)
                .groupBy("id").agg(F.min("component").alias("component")))

    # labels only decrease per id, so the (id, component) digest repeats
    # iff nothing changed — one cheap probe per 3-superstep batch
    labels = _converge(
        labels, step, "fixpoint", max_iter, batch=3,
        warn=f"connected_components: labels still changing after "
             f"max_iter={max_iter} supersteps; components are split "
             f"along paths longer than that (raise max_iter, or use "
             f"connected_components_twophase on high-diameter graphs)")
    e.unpersist()
    return labels


def connected_components_twophase(edges: DataFrame,
                                  max_rounds: int = 24) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the scale path for HIGH-DIAMETER graphs: HashMin label propagation
    (:func:`connected_components`) needs O(diameter) supersteps, while
    star contraction converges in O(log n) rounds regardless of
    diameter (a 10 M-hop path graph is ~24 rounds, not 10 M).

    Each half-round is one groupBy on the node (min over the
    neighborhood) + one projection emitting the re-rooted edges — the
    same one-keyed-shuffle discipline as the other loops; convergence is
    the edge multiset reaching a fixpoint (type-agnostic xxhash sum,
    like the HashMin loop).  Returns (id, component = min id in the
    component), identical to :func:`connected_components`.  ``max_rounds``
    = 24 covers any graph under ~16 M vertices (rounds ≈ log2(n) +
    slack); running out of rounds warns (``RuntimeWarning``)."""
    with _iterative_shuffle_scope(edges):
        und = (normalize_edges(edges, undirected=True)
               .select("src", "dst").distinct())
        verts = (und.select(F.col("src").alias("id")).distinct().cache())
        # work on directed (u → current-parent) pairs, self-loops included
        # so isolated vertices survive the contraction
        e0 = (und.filter(F.col("src") != F.col("dst"))
              .unionByName(verts.select(F.col("id").alias("src"),
                                        F.col("id").alias("dst"))))

        def star(edges_uv: DataFrame, large: bool) -> DataFrame:
            # neighborhoods in BOTH orientations; m = min(N(u) ∪ {u})
            nbrs = edges_uv.unionByName(
                edges_uv.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
            m = (nbrs.groupBy("src").agg(F.min("dst").alias("_mn"))
                 .select("src", F.least(F.col("_mn"), F.col("src"))
                         .alias("m")))
            j = nbrs.join(m, "src")
            if large:
                # strictly-larger neighbors re-root to the min; roots keep
                # a self-edge so singleton components survive the pass
                out = (j.filter(F.col("dst") > F.col("src"))
                       .select(F.col("dst").alias("src"),
                               F.col("m").alias("dst"))
                       .unionByName(
                           m.filter(F.col("src") == F.col("m"))
                           .select("src", F.col("m").alias("dst"))))
            else:
                # smaller-or-equal neighbors (and u itself) re-root
                out = (j.filter(F.col("dst") <= F.col("src"))
                       .select(F.col("dst").alias("src"),
                               F.col("m").alias("dst"))
                       .unionByName(m.select("src",
                                             F.col("m").alias("dst"))))
            return out.distinct()

        # one round = large star, eager checkpoint, small star; the edge
        # multiset digest repeating is the fixpoint (seeded: the input
        # edge set is probed when it is checkpointed)
        e = _converge(
            e0, lambda uv, _: star(_ckpt(star(uv, large=True)), large=False),
            "fixpoint", max_rounds, seed=True,
            warn=f"connected_components_twophase: edge set still changing "
                 f"after max_rounds={max_rounds} rounds; components may be "
                 f"split")
        # at the fixpoint every node's min neighbor IS the component root
        nbrs = e.unionByName(e.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
        out = (nbrs.groupBy(F.col("src").alias("id"))
               .agg(F.min("dst").alias("component")))
        verts.unpersist()
        return out


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts on the undirected simple graph.

    Canonical-orientation join (each triangle found exactly once as
    a<b<c) — the standard shuffle-efficient formulation.
    """
    und = (normalize_edges(edges, undirected=True)
           .select("src", "dst").filter(F.col("src") != F.col("dst"))
           .distinct())
    canon = und.filter(F.col("src") < F.col("dst")).cache()
    ab = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = ab.join(bc, "b").join(ac, ["a", "c"])
    per_vertex = (tris.select(F.col("a").alias("id"))
                  .unionByName(tris.select(F.col("b").alias("id")))
                  .unionByName(tris.select(F.col("c").alias("id")))
                  .groupBy("id").agg(F.count("*").alias("triangles")))
    canon.unpersist()
    return per_vertex


def strongly_connected_components(edges: DataFrame,
                                  max_rounds: int = 16) -> DataFrame:
    """SCC via parallel forward-backward min-label peeling (the reference's
    Tarjan is a stub, src/operand/analysis/Tarjan.cpp:1; Tarjan's stack DFS
    does not distribute — FW-BW label intersection does).

    Each round, within every active partition (color): propagate the min
    vertex id forward (fwd = min id that reaches v) and backward (bwd = min
    id v reaches).  Vertices with fwd == bwd form the SCC of that pivot;
    the rest re-partition by (fwd, bwd) and iterate.  Returns
    (id, component) with component = min member id.
    """
    spark = edges.sparkSession
    with _iterative_shuffle_scope(edges):
        return _scc_impl(spark, edges, max_rounds)


def _scc_impl(spark, edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")) \
             .distinct().cache()
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    active = verts.withColumn("color", F.lit(0).cast("long"))
    id_type = dict(e.dtypes)["src"]
    assigned = spark.createDataFrame([], f"id {id_type}, component {id_type}")

    def _min_propagate(labels: DataFrame, ed: DataFrame) -> DataFrame:
        """labels: (id, color, lab) — propagate min lab along ed within
        color to fixpoint; labels only ever decrease per id, so the
        (id, color, lab) digest repeats ⟺ fixpoint.

        Messages need no same-color filter join (one less message-sized
        exchange per superstep): ``ed`` only ever connects
        same-color endpoints — round 0 colors every vertex 0, and every
        later edge set is rebuilt as join(active on src) ⋈ join(active
        on dst) filtered to _sc == _dc — so a message's src color IS its
        dst's color and every dst is in ``labels``.

        (A joint fwd+bwd propagation in one double-width state table was
        probed in r14 and measured ~60% SLOWER at sf0.001: each
        superstep's union/groupBy then carries both message sets and the
        convergence probe waits for the slower direction — two lean loops
        beat one fused loop here.)"""
        def step(lbl: DataFrame, _) -> DataFrame:
            msgs = (lbl.alias("l")
                    .join(ed.alias("e"), F.col("l.id") == F.col("e.src"))
                    .select(F.col("e.dst").alias("id"),
                            F.col("l.color").alias("color"),
                            F.col("l.lab").alias("lab")))
            return (lbl.unionByName(msgs)
                    .groupBy("id", "color").agg(F.min("lab").alias("lab")))
        return _converge(
            labels, step, "fixpoint", 32, batch=3,
            warn="strongly_connected_components: min-label propagation "
                 "still changing after 32 supersteps; components may be "
                 "split")

    # `done` slices are NOT checkpointed per round: each derives from the
    # round's checkpointed fwd/bwd state, so accumulating them in a list
    # and unioning once at the end keeps lineage bounded while saving one
    # data-sized checkpoint job per round.
    assigned_parts = []

    def peel(active: DataFrame, i: int) -> DataFrame:
        nonlocal e
        if i:
            # restrict edges to endpoints still active and same color;
            # EAGER: the concurrent fwd and bwd jobs below both read it,
            # and neither may be the one that first materializes it
            a1 = active.select(F.col("id").alias("src"),
                               F.col("color").alias("_sc"))
            a2 = active.select(F.col("id").alias("dst"),
                               F.col("color").alias("_dc"))
            e = _ckpt(e.join(a1, "src").join(a2, "dst")
                      .filter(F.col("_sc") == F.col("_dc"))
                      .select("src", "dst"))
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        init = active.withColumn("lab", F.col("id"))
        # fwd and bwd propagation are independent until the (id, color)
        # join — run them as CONCURRENT jobs (guide §2.6: actions are only
        # sequential because the driver calls them sequentially; each
        # direction's tail tasks back-fill the other's idle cores).
        # Determinism is untouched: each direction converges to its
        # unique min-label fixpoint regardless of scheduling.
        fwd_job = pool.submit(_min_propagate, init, e)
        bwd = _min_propagate(init, rev)
        fwd = fwd_job.result()
        both = (fwd.withColumnRenamed("lab", "fwd")
                .join(bwd.withColumnRenamed("lab", "bwd"), ["id", "color"]))
        assigned_parts.append(both.filter(F.col("fwd") == F.col("bwd"))
                              .select("id", F.col("fwd").alias("component")))
        # still-unassigned vertices; new color = dense key over
        # (old color, fwd, bwd)
        return (both.filter(F.col("fwd") != F.col("bwd"))
                .select("id", F.xxhash64("color", "fwd", "bwd")
                        .alias("color")))

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=1) as pool:
        _converge(active, peel, "empty", max_rounds,
                  warn=f"strongly_connected_components: vertices still "
                       f"unassigned after max_rounds={max_rounds} peeling "
                       f"rounds are missing from the result")
    for done in assigned_parts:
        assigned = assigned.unionByName(done)
    return assigned


def random_walk(edges: DataFrame, starts: DataFrame, steps: int = 5,
                seed: int = 42, directed: bool = True,
                hash_family: str = "xxhash64") -> DataFrame:
    """Deterministic pseudo-random walks (reference stub
    src/walk/RandomWalk.cpp:18-21, implemented for real).

    One walk per row of ``starts`` (column ``id``); at each step the next
    neighbor is chosen by hash(walk_id, step, seed) mod out-degree — no
    RNG state, so walks are reproducible across runs and cluster sizes.
    Returns (walk_id, path array).  Each step is one join keyed on the
    current vertex — the frontier never leaves the cluster.

    ``hash_family``: 'xxhash64' (native, fastest) or 'md5' — the md5 form
    hashes the string 'walk_id:step:seed' through
    conv(substr(md5(..),1,15),16,10), which any SQL engine reproduces, so
    md5 walks are fully oracle-checkable cross-engine.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    e = e.distinct()
    w = Window.partitionBy("src").orderBy("dst")
    ranked = (e.withColumn("_rk", F.row_number().over(w) - 1)
              .withColumn("_deg", F.count("*").over(
                  Window.partitionBy("src"))).cache())
    walks = starts.select(F.col("id").alias("walk_id"),
                          F.col("id").alias("cur"),
                          F.array(F.col("id")).alias("path"))

    def step(walks, i):
        if hash_family == "md5":
            key = F.concat_ws(":", F.col("walk_id").cast("string"),
                              F.lit(str(i)), F.lit(str(seed)))
            h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
        else:
            h = F.xxhash64(F.col("walk_id"), F.lit(i), F.lit(seed))
        pick = F.pmod(h, F.col("_deg"))
        return (walks.join(ranked, walks.cur == ranked.src, "left")
                .filter(F.col("src").isNull() | (F.col("_rk") == pick))
                .select("walk_id",
                        F.coalesce(F.col("dst"), F.col("cur")).alias("cur"),
                        F.when(F.col("dst").isNotNull(),
                               F.concat("path", F.array(F.col("dst"))))
                        .otherwise(F.col("path")).alias("path")))

    walks = _converge(walks, step, "count", steps, every=_CHECKPOINT_EVERY)
    ranked.unpersist()
    return walks.select("walk_id", "path")


def k_core(edges: DataFrame, k: int, max_iter: int = 64) -> DataFrame:
    """Vertices of the k-core (maximal subgraph where every vertex has
    degree >= k) of the undirected simple graph.  Distributed peeling:
    each superstep drops every vertex whose degree *within the surviving
    subgraph* is below k; converges in at most the degeneracy-ordering
    depth.  Returns (id, core_degree) with core_degree = the vertex's
    degree inside the final core (deterministic).

    Scale notes: the symmetric edge table is built once and cached; each
    superstep is two semi-joins (edges x alive, keyed on the endpoint) +
    one groupBy count — all shuffles keyed on vertex id, state is
    vertex-sized.  Convergence: the (monotone decreasing) survivor count
    stops changing — one fused checkpoint+count job per two supersteps,
    no diff join; still peeling at ``max_iter`` warns.  Beyond-reference
    analytics in the spirit of src/operand/analysis (DegreeCentrality /
    Tarjan stubs)."""
    with _iterative_shuffle_scope(edges):
        sym = (normalize_edges(edges, undirected=True)
               .select("src", "dst").filter(F.col("src") != F.col("dst"))
               .distinct().cache())
        alive = sym.select(F.col("src").alias("id")).distinct()

        def peel(state, _):
            alive = state.select("id")
            live = (sym.join(alive.withColumnRenamed("id", "src"),
                             "src", "left_semi")
                    .join(alive.withColumnRenamed("id", "dst"),
                          "dst", "left_semi"))
            return (live.groupBy(F.col("src").alias("id"))
                    .agg(F.count("*").alias("core_degree"))
                    .filter(F.col("core_degree") >= k))

        # Two peel rounds chained lazily per probe; survivor counts are
        # monotone decreasing, so an unchanged count (seeded with the
        # vertex count) is the fixpoint
        survivors = _converge(
            alive, peel, "fixpoint", max_iter, batch=2, seed=True,
            probe=F.count(F.lit(1)),
            warn=f"k_core: still peeling after max_iter={max_iter} "
                 f"supersteps; the result is a superset of the {k}-core")
        sym.unpersist()
        return survivors


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection).  Every vertex
    starts with its own id as label; each superstep it adopts the most
    frequent label among its neighbors, ties broken by the smallest
    label.  A FIXED iteration count with synchronous updates makes the
    result deterministic (and SQL-expressible for the oracle), unlike the
    classic randomized-order LPA.  Returns (id, label).

    Each superstep = one join (labels x symmetric edges, keyed on src) +
    one groupBy(id, label) count + one per-id window pick — shuffles are
    keyed on vertex id and state is vertex-sized; localCheckpoint per
    superstep keeps lineage flat."""
    with _iterative_shuffle_scope(edges):
        sym = (normalize_edges(edges, undirected=True)
               .select("src", "dst").filter(F.col("src") != F.col("dst"))
               .distinct().cache())
        verts = sym.select(F.col("src").alias("id")).distinct()
        labels = verts.withColumn("label", F.col("id"))
        w = Window.partitionBy("id").orderBy(F.col("c").desc(),
                                             F.col("label").asc())

        def step(labels, _):
            msgs = (sym.join(labels.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"), "label"))
            counts = msgs.groupBy("id", "label").agg(F.count("*").alias("c"))
            return (counts.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).select("id", "label"))

        labels = _converge(labels, step, "count", iterations)
        sym.unpersist()
        return labels


def neighborhood_jaccard(edges: DataFrame) -> DataFrame:
    """Jaccard similarity of the neighbor sets of every connected vertex
    pair (a, b) with a < b: |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.  The classic
    link-prediction / node-similarity measure (reference intent: the
    similarity matrix in DegreeCentrality.cpp's operator-).

    Wedge-join formulation — common neighbors are counted by joining the
    symmetric edge table with itself on the shared endpoint (one shuffle
    keyed on the wedge center), never by materializing neighbor sets as
    arrays: at 100 TB a hub's neighbor array would blow a single task,
    while the wedge join partitions by the center vertex and is skew-
    salvageable with AQE.  Returns (src, dst, jaccard) rounded to 4."""
    sym = (normalize_edges(edges, undirected=True)
           .select("src", "dst").filter(F.col("src") != F.col("dst"))
           .distinct())
    deg = sym.groupBy(F.col("src").alias("id")) \
             .agg(F.count("*").alias("deg"))
    canon = sym.filter(F.col("src") < F.col("dst"))
    a, b = sym.alias("a"), sym.alias("b")
    common = (a.join(b, F.col("a.src") == F.col("b.src"))
              .filter(F.col("a.dst") < F.col("b.dst"))
              .groupBy(F.col("a.dst").alias("src"),
                       F.col("b.dst").alias("dst"))
              .agg(F.count("*").alias("common")))
    out = (canon.join(common, ["src", "dst"], "left")
           .fillna(0, subset=["common"])
           .join(deg.withColumnRenamed("id", "src")
                 .withColumnRenamed("deg", "deg_a"), "src")
           .join(deg.withColumnRenamed("id", "dst")
                 .withColumnRenamed("deg", "deg_b"), "dst")
           .select("src", "dst",
                   F.round(F.col("common") /
                           (F.col("deg_a") + F.col("deg_b") -
                            F.col("common")), 4).alias("jaccard")))
    return out


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex: triangles(v) /
    C(degree(v), 2) — how close the neighborhood is to a clique (0.0 for
    degree < 2).  Composes :func:`triangle_count` (canonical-orientation
    wedge join) with the degree aggregate; both shuffle keyed on vertex
    id, so the composition adds one outer join on id and nothing else.
    Returns (id, degree, triangles, coefficient round 4)."""
    und = (normalize_edges(edges, undirected=True)
           .select("src", "dst").filter(F.col("src") != F.col("dst"))
           .distinct())
    deg = und.groupBy(F.col("src").alias("id")) \
             .agg(F.count("*").alias("degree"))
    tri = triangle_count(edges)
    possible = F.col("degree") * (F.col("degree") - 1) / 2
    return (deg.join(tri, "id", "left")
            .fillna(0, subset=["triangles"])
            .select("id", "degree", "triangles",
                    F.when(F.col("degree") >= 2,
                           F.round(F.col("triangles") / possible, 4))
                    .otherwise(F.lit(0.0)).alias("coefficient")))


def _auto_landmark_count(n: int) -> int:
    """Landmark count for an ``n``-vertex graph when the caller didn't
    choose one: max(64, √n), capped at 1024.  The √n growth follows the
    measured accuracy curve (PLANS.md, "Hub-graph landmark fidelity
    (r7)" and "Landmark-centrality approximation error"): sampled-
    Brandes rank fidelity scales like O(1/√|S|) (ρ 0.687 → 0.757 → 0.839
    at 64/128/256 landmarks on the 2 k worst-case fixture), so a fixed
    64 would silently degrade as graphs grow while √n holds the relative
    sampling density; the 1024 cap bounds state at O(1024·n) pairs."""
    return min(1024, max(64, int(round(n ** 0.5))))


def _guard_all_sources(edges: DataFrame, sources, fn_name: str,
                       threshold: int, n_landmarks: "int | None",
                       landmark_mode: str = "md5"):
    """All-sources exact centrality keeps O(n_vertices · n_sources)
    (source, vertex) state — correct, but a state explosion when a caller
    forgets ``sources=`` on a large graph (VERDICT r4 advisory #1).  When
    ``sources is None`` and the graph exceeds ``threshold`` vertices,
    auto-select ``n_landmarks`` deterministic landmarks and warn; below
    the threshold return None (exact mode).  ``n_landmarks=None`` →
    :func:`_auto_landmark_count` (√n-scaled).

    ``landmark_mode``:

    * ``'degree'``: half the landmarks are the top-degree vertices
      (ties → smallest id), half a uniform md5 sample.  The RIGHT
      default for closeness, where the output IS the sampled vertices:
      on a 20 k preferential-attachment fixture, a uniform √n sample
      contained 0/50 of the true top-closeness vertices (the hubs)
      while the degree∪md5 mix covered 47/50 (PLANS.md, "Hub-graph
      landmark fidelity (r7)").  One extra degree aggregation (one keyed
      shuffle) at selection time.
    * ``'md5'``: uniform over vertices (lowest md5(id) order) — the
      unbiased SOURCE sample, and the right default for betweenness,
      where sources are sample points, not outputs: on the same hub
      fixture uniform sources score top-50 overlap 0.80 / ρ 0.891 vs
      0.78 / 0.879 for the degree mix (hub-heavy sources bias the
      sampled path distribution toward hub-centric paths)."""
    if sources is not None:
        return sources
    und = normalize_edges(edges, undirected=True)
    verts = und.select(F.col("src").alias("id")).distinct()
    n = verts.count()
    if n <= threshold:
        return None
    if n_landmarks is None:
        n_landmarks = _auto_landmark_count(n)
    md5_order = [r["id"] for r in
                 verts.orderBy(F.md5(F.col("id").cast("string")),
                               F.col("id"))
                 .limit(n_landmarks).collect()]
    if landmark_mode == "degree":
        half = n_landmarks // 2
        top = [r["id"] for r in
               und.groupBy(F.col("src").alias("id"))
               .agg(F.count("*").alias("deg"))
               .orderBy(F.col("deg").desc(), F.col("id"))
               .limit(half).collect()]
        seen = set(top)
        picked = top + [v for v in md5_order
                        if v not in seen][:n_landmarks - len(top)]
    elif landmark_mode == "md5":
        picked = md5_order
    else:
        raise ValueError(
            f"landmark_mode must be 'degree' or 'md5', got "
            f"{landmark_mode!r}")
    warnings.warn(
        f"{fn_name}: sources=None on a {n}-vertex graph would build "
        f"O(n^2) (source, vertex) state; auto-selected {len(picked)} "
        f"deterministic {landmark_mode}-mode landmark sources instead "
        f"(approximate centralities).  Pass sources=[...] explicitly to "
        f"control this, or raise auto_landmark_threshold for exact "
        f"all-sources mode.",
        RuntimeWarning)
    return picked


def closeness_centrality(edges: DataFrame, sources: "Optional[list]" = None,
                         max_iter: int = 64,
                         harmonic: bool = False,
                         weight_col: "Optional[str]" = None,
                         auto_landmark_threshold: int = 10_000,
                         n_landmarks: "int | None" = None,
                         landmark_mode: str = "degree") -> DataFrame:
    """Closeness centrality by multi-source BFS: closeness(v) =
    (reachable−1) / Σ dist(v,·) over v's connected component (0.0 for
    isolated sources); with ``harmonic=True``, Σ 1/dist(v,·) instead —
    the variant that stays meaningful on disconnected graphs.
    ``sources`` restricts the computation to landmark
    vertices — the standard approximation at scale, where all-sources
    state (O(n·k) pairs) is the cost driver; None = every vertex (exact).

    Unweighted: each superstep expands the frontier through one join
    keyed on the current vertex and discovers first-arrival (= minimal)
    distances via an anti-join on (source, vertex) — no min-aggregate
    needed, BFS layer order guarantees minimality; state only grows, so
    the fixpoint is "no new pairs".  With ``weight_col``, distances come
    from multi-source Bellman-Ford relaxation instead (min-aggregate per
    superstep, improvement rows re-expand — the shortest_path shape
    without the path arrays).  Returns (id, reachable, closeness
    round 4).

    Guard: ``sources=None`` on a graph larger than
    ``auto_landmark_threshold`` vertices auto-selects ``n_landmarks``
    deterministic md5-ordered landmarks with a RuntimeWarning instead of
    building O(n²) state (see :func:`_guard_all_sources`)."""
    with _iterative_shuffle_scope(edges):
        sources = _guard_all_sources(edges, sources, "closeness_centrality",
                                     auto_landmark_threshold, n_landmarks,
                                     landmark_mode)
        if weight_col:
            return _weighted_closeness(edges, sources, max_iter, harmonic,
                                       weight_col)
        e = (normalize_edges(edges, undirected=True)
             .select("src", "dst").filter(F.col("src") != F.col("dst"))
             .distinct().cache())
        verts = e.select(F.col("src").alias("id")).distinct()
        srcs = (verts.filter(F.col("id").isin(sources)) if sources
                else verts)
        dist = srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                           F.lit(0).alias("d"))

        def hop(frontier, _):
            return (frontier.join(e, frontier.v == e.src)
                    .select("s", F.col("dst").alias("v"),
                            (F.col("d") + 1).alias("d"))
                    .distinct()
                    .join(dist.select("s", "v"), ["s", "v"], "left_anti"))

        # dist is a union of already-checkpointed frontiers — plan grows
        # O(diameter) in width but every leaf is materialized, so
        # re-checkpointing the union would only add an action
        for nxt in _supersteps(
                dist, hop, "empty", max_iter,
                warn=f"closeness_centrality: BFS frontier still non-empty "
                     f"after max_iter={max_iter} hops; farther vertices "
                     f"are missing from reachable/closeness"):
            dist = dist.unionByName(nxt)
        e.unpersist()
        return _closeness_agg(dist, harmonic)


def _closeness_agg(dist: DataFrame, harmonic: bool) -> DataFrame:
    """(s, v, d) distance pairs → per-source closeness."""
    if harmonic:
        return (dist.filter(F.col("d") > 0)
                .groupBy(F.col("s").alias("id"))
                .agg((F.count("*") + 1).alias("reachable"),
                     F.round(F.sum(F.lit(1.0) / F.col("d")), 4)
                     .alias("closeness")))
    return (dist.groupBy(F.col("s").alias("id"))
            .agg(F.count("*").alias("reachable"),
                 F.sum("d").alias("_sum"))
            .select("id", "reachable",
                    F.when(F.col("_sum") > 0,
                           F.round((F.col("reachable") - 1)
                                   / F.col("_sum"), 4))
                    .otherwise(F.lit(0.0)).alias("closeness")))


def _source_distances(e: DataFrame, sources, max_iter: int,
                      warn: str) -> DataFrame:
    """(s, v, d) weighted distances from every source (all vertices of
    ``e`` when ``sources`` is None) by multi-source :func:`_relax`."""
    verts = e.select(F.col("src").alias("id")).distinct()
    srcs = verts.filter(F.col("id").isin(sources)) if sources else verts
    return _relax(
        srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                    F.lit(0.0).alias("d")),
        lambda f: (f.join(e, f.v == e.src)
                   .select("s", F.col("dst").alias("v"),
                           (F.col("d") + F.col("w")).alias("d"))),
        ["s", "v"], ["d"], max_iter, warn)


def _weighted_closeness(edges: DataFrame, sources, max_iter: int,
                        harmonic: bool, weight_col: str) -> DataFrame:
    """Closeness over multi-source Bellman-Ford distances."""
    e = (normalize_edges(edges, weight_col, undirected=True)
         .filter(F.col("src") != F.col("dst")).cache())
    best = _source_distances(
        e, sources, max_iter,
        f"closeness_centrality: relaxation did not converge within "
        f"max_iter={max_iter} supersteps; distances are upper bounds")
    e.unpersist()
    return _closeness_agg(best, harmonic)


def betweenness_centrality(edges: DataFrame,
                           sources: "Optional[list]" = None,
                           max_iter: int = 64,
                           weight_col: "Optional[str]" = None,
                           auto_landmark_threshold: int = 10_000,
                           n_landmarks: "int | None" = None,
                           landmark_mode: str = "md5") -> DataFrame:
    """Betweenness centrality via distributed Brandes: a layered
    multi-source BFS counts shortest paths (sigma), then dependencies
    (delta) accumulate backward layer by layer —
    δ(u) = Σ_{w : succ} σ(u)/σ(w) · (1 + δ(w)).  Exact over the given
    ``sources`` (None = all vertices); pass landmark sources at scale —
    state is O(n·k) (source, vertex) pairs and the standard approximation
    is uniformly-sampled sources.  Undirected; each unordered pair is
    counted from both endpoints, so the final score is halved.  Returns
    (id, betweenness round 4).

    Every superstep (forward and backward) is one join keyed on the
    frontier vertex + one groupBy keyed on (source, vertex) — the same
    shuffle discipline as the other Pregel loops; per-layer states are
    localCheckpointed, and the accumulated tables are unions of
    checkpointed leaves.

    With ``weight_col``, distances come from Bellman-Ford relaxation and
    sigma/delta from fixpoints over the shortest-path DAG (see
    :func:`_weighted_betweenness`); weights must be positive, and
    co-optimal path detection uses exact double equality — exact for
    integer-valued weights.

    Guard: ``sources=None`` on a graph larger than
    ``auto_landmark_threshold`` vertices auto-selects ``n_landmarks``
    deterministic md5-ordered landmarks with a RuntimeWarning instead of
    building O(n²) state (see :func:`_guard_all_sources`)."""
    with _iterative_shuffle_scope(edges):
        sources = _guard_all_sources(edges, sources,
                                     "betweenness_centrality",
                                     auto_landmark_threshold, n_landmarks,
                                     landmark_mode)
        if weight_col:
            return _weighted_betweenness(edges, sources, max_iter,
                                         weight_col)
        e = (normalize_edges(edges, undirected=True)
             .select("src", "dst").filter(F.col("src") != F.col("dst"))
             .distinct().cache())
        verts = e.select(F.col("src").alias("id")).distinct()
        srcs = (verts.filter(F.col("id").isin(sources)) if sources
                else verts)
        f = srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                        F.lit(0).alias("d"),
                        F.lit(1).cast("long").alias("sigma"))
        layers = [f]          # f[k] = (s, v, d=k, sigma), checkpointed

        def layer(frontier, i):
            return (frontier.join(e, frontier.v == e.src)
                    .select("s", F.col("dst").alias("v"), "sigma")
                    .groupBy("s", "v").agg(F.sum("sigma").alias("sigma"))
                    .join(f.select("s", "v"), ["s", "v"], "left_anti")
                    .select("s", "v", F.lit(i + 1).alias("d"), "sigma"))

        for newf in _supersteps(
                f, layer, "empty", max_iter,
                warn=f"betweenness_centrality: BFS layers still growing "
                     f"after max_iter={max_iter} hops; paths longer than "
                     f"that are ignored"):
            layers.append(newf)
            f = f.unionByName(newf)
        depth = len(layers) - 1

        def back(delta, i):
            # layer k's dependencies from layer k + 1's
            up = layers[depth - i - 1]
            preds = (delta.join(e, delta.v == e.dst)
                     .select("s", F.col("src").alias("v"),
                             (F.lit(1.0) + F.col("delta")).alias("w1"),
                             F.col("sigma").alias("sigma_w")))
            contrib = (preds.join(up.select("s", "v", "sigma"), ["s", "v"])
                       .select("s", "v", "sigma",
                               (F.col("sigma") / F.col("sigma_w")
                                * F.col("w1")).alias("c")))
            return (up.select("s", "v", "sigma")
                    .join(contrib.groupBy("s", "v", "sigma")
                          .agg(F.sum("c").alias("delta")),
                          ["s", "v", "sigma"], "left")
                    .fillna(0.0, subset=["delta"]))

        # backward accumulation: delta = 0 at the deepest layer
        acc = layers[depth].select("s", "v", "sigma",
                                   F.lit(0.0).alias("delta"))
        for delta in _supersteps(acc, back, "count", depth):
            acc = acc.unionByName(delta)
        e.unpersist()
        return (acc.filter(F.col("v") != F.col("s"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.round(F.sum("delta") / 2.0, 4).alias("betweenness")))


def _weighted_betweenness(edges: DataFrame, sources, max_iter: int,
                          weight_col: str) -> DataFrame:
    """Weighted Brandes in three superstep loops, all keyed on
    (source, vertex) — BFS layers don't exist under weights, so each
    phase runs to a hash-detected fixpoint instead:

    1. distances: multi-source Bellman-Ford relaxation
       (:func:`_source_distances`) — O(max hop count of shortest paths)
       supersteps;
    2. sigma (shortest-path counts): propagate counts along the
       shortest-path DAG (edges u→v with d(u) + w(u,v) == d(v)) from
       the sources — the DAG is materialized ONCE and reused;
    3. delta (dependencies): iterate δ(u) = Σ_{v: DAG succ}
       σ(u)/σ(v)·(1+δ(v)) from zero — after k supersteps every vertex
       whose downstream DAG depth ≤ k is settled, so the fixpoint is
       exact in DAG-depth iterations.

    Positive weights required.  Co-optimal predecessors are detected by
    exact double equality of d(u)+w against d(v) — exact whenever
    weights are integer-valued (floats may drop co-optimal paths whose
    sums differ in the last ulp; distances themselves stay correct).

    Each phase warns (``RuntimeWarning``) if it exhausts ``max_iter``
    supersteps without reaching its fixpoint — non-convergence in phase 1
    corrupts all three downstream phases, so a silent truncation would
    return plausible-looking but wrong centralities on graphs whose
    shortest-path hop depth exceeds ``max_iter``."""
    e = (normalize_edges(edges, weight_col, undirected=True)
         .filter(F.col("src") != F.col("dst"))
         .groupBy("src", "dst").agg(F.min("w").alias("w")).cache())

    # -- phase 1: distances --------------------------------------------
    best = _source_distances(
        e, sources, max_iter,
        f"weighted betweenness: distance phase did not converge within "
        f"max_iter={max_iter} supersteps; results are truncated at that "
        f"hop depth and downstream sigma/delta phases inherit the error")

    # -- shortest-path DAG (per source), materialized once -------------
    du = best.select("s", F.col("v").alias("u"), F.col("d").alias("du"))
    dv = best.select("s", "v", F.col("d").alias("dvv"))
    dag = _ckpt(
        du.join(e, du.u == e.src)
        .select("s", "u", F.col("dst").alias("v"),
                (F.col("du") + F.col("w")).alias("dw"))
        .join(dv, ["s", "v"])
        .filter(F.col("dw") == F.col("dvv"))
        .select("s", "u", "v"))

    # -- phase 2: sigma fixpoint (only nonzero rows tracked) -----------
    seeds = (best.filter(F.col("s") == F.col("v"))     # the sources
             .select("s", "v", F.lit(1).cast("long").alias("sigma")))

    def sigma_step(sig, _):
        sig_u = sig.select("s", F.col("v").alias("u"),
                           F.col("sigma").alias("sig_u"))
        return seeds.unionByName(
            dag.join(sig_u, ["s", "u"])
            .groupBy("s", "v").agg(F.sum("sig_u").alias("sigma")))

    sig = _converge(
        seeds, sigma_step, "fixpoint", max_iter,
        warn=f"weighted betweenness: sigma phase did not reach its fixpoint "
             f"within max_iter={max_iter} supersteps; path counts (and the "
             f"delta phase that consumes them) may be wrong")

    # -- phase 3: delta fixpoint ---------------------------------------
    sig_u = sig.select("s", F.col("v").alias("u"),
                       F.col("sigma").alias("sig_u"))
    sig_v = sig.select("s", "v", F.col("sigma").alias("sig_v"))
    pairs = best.select("s", "v")

    def delta_step(delta, _):
        dl_v = delta.select("s", "v", F.col("delta").alias("delta_v"))
        contrib = (dag.join(sig_u, ["s", "u"]).join(sig_v, ["s", "v"])
                   .join(dl_v, ["s", "v"])
                   .select("s", "u",
                           (F.col("sig_u") / F.col("sig_v")
                            * (F.lit(1.0) + F.col("delta_v"))).alias("c"))
                   .groupBy("s", "u").agg(F.sum("c").alias("delta")))
        return (pairs.join(contrib.withColumnRenamed("u", "v"), ["s", "v"],
                           "left")
                .fillna(0.0, subset=["delta"]))

    delta = _converge(
        pairs.withColumn("delta", F.lit(0.0)), delta_step, "fixpoint",
        max_iter,
        warn=f"weighted betweenness: delta phase did not reach its fixpoint "
             f"within max_iter={max_iter} supersteps; dependency scores are "
             f"truncated at that DAG depth")

    e.unpersist()
    return (delta.filter(F.col("v") != F.col("s"))
            .groupBy(F.col("v").alias("id"))
            .agg(F.round(F.sum("delta") / 2.0, 4).alias("betweenness")))
