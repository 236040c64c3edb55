"""Checkpoint-strategy switch (VERDICT r4 #8): iterative operators route
lineage truncation through operators/ckpt.materialize, which picks
executor-local localCheckpoint (default) or a reliable checkpoint dir
(lossy-cluster mode) from the session conf."""

import tempfile

import pytest
from pyspark.sql import functions as F

from gqlite_spark.operators.ckpt import RELIABLE_KEY, materialize


@pytest.fixture
def reliable(spark):
    d = tempfile.mkdtemp(prefix="gqlite-ckpt-")
    spark.sparkContext.setCheckpointDir(d)
    spark.conf.set(RELIABLE_KEY, "true")
    yield d
    spark.conf.set(RELIABLE_KEY, "false")


def test_default_is_local_checkpoint(spark):
    df = materialize(spark.range(10))
    assert df.count() == 10
    # a checkpointed DataFrame's plan is a materialized RDD scan, not the
    # original Range node
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def test_reliable_requires_checkpoint_dir(spark):
    spark.conf.set(RELIABLE_KEY, "true")
    try:
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            with pytest.raises(RuntimeError, match="checkpoint dir"):
                materialize(spark.range(3))
    finally:
        spark.conf.set(RELIABLE_KEY, "false")


def test_reliable_mode_writes_checkpoint(spark, reliable):
    import glob
    import os
    df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
    assert df.count() == 10
    # reliable checkpoints land as rdd-* partition files under the dir
    files = glob.glob(os.path.join(reliable, "**", "rdd-*", "part-*"),
                      recursive=True)
    assert files, f"no checkpoint partitions under {reliable}"


# tiny fixed graphs shared by the reliable-parity and job-count tests:
# 0 → (1 → 2 → 3 → 1), 4 → 5 — a tail into a 3-cycle plus a pair — and
# a weighted diamond with one co-optimal detour
TINY = [(0, 1), (1, 2), (2, 3), (3, 1), (4, 5)]
W_TINY = [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.0), (2, 3, 1.0)]


def test_graph_algo_under_reliable_mode(spark, reliable):
    """Every convergence rule's reliable-checkpoint branch gives the
    same result as the default local path: pagerank (fixed count),
    CC and SCC (digest fixpoint), k_hop (empty frontier) and weighted
    betweenness (relaxation, then digest fixpoints)."""
    from gqlite_spark.operators import graph_algos as G
    g = spark.createDataFrame(TINY, "src long, dst long")
    w = spark.createDataFrame(W_TINY, "src long, dst long, w double")
    runs = {
        "pagerank": lambda: [
            (r["id"], round(r["rank"], 6))
            for r in G.pagerank(g, iterations=3).collect()],
        "cc": lambda: G.connected_components(g).collect(),
        "scc": lambda: G.strongly_connected_components(g).collect(),
        "k_hop": lambda: G.k_hop(g, 0, 2).collect(),
        "weighted_betweenness": lambda: G.betweenness_centrality(
            w, weight_col="w").collect(),
    }
    rel = {name: sorted(map(tuple, run())) for name, run in runs.items()}
    spark.conf.set(RELIABLE_KEY, "false")
    loc = {name: sorted(map(tuple, run())) for name, run in runs.items()}
    assert rel == loc


def test_funnel_under_reliable_mode(spark, reliable):
    from gqlite_spark.operators.temporal import funnel
    rows = [(1, 10, "view"), (1, 20, "click"), (2, 10, "view")]
    df = spark.createDataFrame(
        [(u, t * 1_000_000_000, ty) for u, t, ty in rows],
        "user_id long, e long, t string")
    out = {r["step"]: r["n_users"]
           for r in funnel(df, ["view", "click"],
                           type_col="t", ts_col="e").collect()}
    assert out == {"view": 2, "click": 1}


def test_materialize_probed_truncates_and_probes(spark):
    """The fused checkpoint+probe (one job: the aggregate action
    materializes the lazy local checkpoint) must still truncate lineage
    AND return the same probe value as a separate aggregate."""
    from gqlite_spark.operators.ckpt import materialize_probed
    base = spark.range(100).withColumn("component", F.col("id") % 7)
    agg = F.sum(F.xxhash64("id", "component").cast("decimal(38,0)"))
    out, probe = materialize_probed(base, agg)
    expected = base.agg(agg).collect()[0][0]
    assert probe[0] == expected
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan          # lineage truncated
    assert out.count() == 100           # fully materialized, all rows


def test_materialize_probed_reliable_stays_eager(spark, reliable):
    """Reliable mode must checkpoint eagerly (a lazy reliable checkpoint
    recomputes the lineage when the files are written) and still return
    the correct probe."""
    import glob
    import os
    from gqlite_spark.operators.ckpt import materialize_probed
    base = spark.range(50).withColumn("x", F.col("id") * 3)
    agg = F.sum(F.xxhash64("id", "x").cast("decimal(38,0)"))
    out, probe = materialize_probed(base, agg)
    assert probe[0] == base.agg(agg).collect()[0][0]
    files = glob.glob(os.path.join(reliable, "**", "rdd-*", "part-*"),
                      recursive=True)
    assert files, f"no checkpoint partitions under {reliable}"
    assert out.count() == 50


def test_lazy_parent_materializes_with_probe_job(spark):
    """The r15 within-batch convergence shape: a LAZY local checkpoint of
    a parent state is fully materialized by a child aggregate job (every
    partition feeds the aggregate), so a follow-up digest of the parent
    reads stored blocks and agrees with a from-scratch computation."""
    from gqlite_spark.operators.ckpt import materialize, materialize_probed
    agg = F.sum(F.xxhash64("id", "v").cast("decimal(38,0)"))
    base = spark.range(200).withColumn("v", F.col("id") % 13)
    penult = materialize(base, eager=False, coalesce=True)
    child = penult.withColumn("v", F.col("v") + 1).groupBy("id") \
                  .agg(F.min("v").alias("v"))
    child, probe = materialize_probed(child, agg)
    # parent digest from the (now materialized) lazy checkpoint
    got = penult.agg(agg).collect()[0][0]
    want = base.agg(agg).collect()[0][0]
    assert got == want
    # lineage of the parent is truncated after the covering job
    plan = penult._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan
    assert penult.count() == 200


def test_min_propagate_within_batch_detection(spark):
    """SCC/CC fixpoints detect convergence at +1-superstep granularity:
    a depth-4 directed 5-cycle converges to the same labels as the
    reference computation, and the loop's result is the unique min-label
    fixpoint regardless of batching."""
    from gqlite_spark.operators.graph_algos import (
        strongly_connected_components, connected_components)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long")
    scc = {r["id"]: r["component"]
           for r in strongly_connected_components(ring).collect()}
    assert scc == {i: 0 for i in range(5)}
    cc = {r["id"]: r["component"]
          for r in connected_components(ring).collect()}
    assert cc == {i: 0 for i in range(5)}


def test_iterative_scope_aqe_gate_restores_conf(spark):
    """The size-aware AQE gate disables AQE only inside the scope and
    only for single-advisory-partition state; the session conf is
    restored on exit either way."""
    from gqlite_spark.operators.graph_algos import _iterative_shuffle_scope
    tiny = spark.createDataFrame([(1, 2)], "src long, dst long")
    before = spark.conf.get("spark.sql.adaptive.enabled")
    with _iterative_shuffle_scope(tiny, approx_rows=1):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    # a huge claimed state keeps AQE on
    with _iterative_shuffle_scope(tiny, approx_rows=10**12):
        assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_parse_bytes_conf_forms():
    from gqlite_spark.operators.graph_algos import _parse_bytes_conf
    assert _parse_bytes_conf("67108864", 0) == 64 * 1024 * 1024
    assert _parse_bytes_conf("64m", 0) == 64 * 1024 * 1024
    assert _parse_bytes_conf("64MB", 0) == 64 * 1024 * 1024
    assert _parse_bytes_conf("1g", 0) == 1024 ** 3
    assert _parse_bytes_conf("bogus", 7) == 7


def test_guarded_broadcast_reads_suffixed_threshold(spark):
    """autoBroadcastJoinThreshold comes back verbatim ('1k'); the guard
    must scale the suffix, not fall back to the 10 MB default and
    broadcast a set 10x past what the user allowed."""
    from gqlite_spark.operators.sampling import _guarded_broadcast_ids

    def hinted(n):
        out = _guarded_broadcast_ids(spark.range(n).toDF("id"))
        plan = out._jdf.queryExecution().analyzed().toString()
        return "broadcast" in plan.lower()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    try:
        assert not hinted(40)       # 40 ids x 32 B > 1 KB
        assert hinted(20)           # 640 B fits
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs run by ``fn()``: its job group, plus new ungrouped jobs
    (SCC's concurrent forward propagation runs on a pool thread, which
    does not inherit the caller's job group)."""
    import uuid
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return (len(tracker.getJobIdsForGroup(group))
            + len(set(tracker.getJobIdsForGroup(None)) - before))


def test_graph_job_counts_pinned(spark):
    """Regression guard for the superstep driver: Spark jobs per graph
    algorithm on tiny fixed graphs, one algorithm per loop shape (the
    graph loops cost seconds each even on tiny inputs, so not every
    algorithm is pinned).  A change that adds a job per superstep (an
    unfused probe, an extra eager checkpoint) moves these counts.  SCC
    has varied by a job between runs, so it is pinned as a bound."""
    from gqlite_spark.operators import graph_algos as G
    g = spark.createDataFrame(TINY, "src long, dst long")
    w = spark.createDataFrame(W_TINY, "src long, dst long, w double")
    runs = {
        # digest fixpoint, penultimate-state detection
        "connected_components": (
            lambda: G.connected_components(g).collect(), 3),
        # digest fixpoint seeded with the input's survivor count
        "k_core": (lambda: G.k_core(g, 2).collect(), 7),
        # relaxation
        "shortest_path": (
            lambda: G.shortest_path(w, 0, 3, weight_col="w"), 8),
        # empty frontier
        "k_hop": (lambda: G.k_hop(g, 0, 2).collect(), 4),
        # fixed count, checkpoint every superstep / every 5th
        "pagerank": (lambda: G.pagerank(g, iterations=2).collect(), 16),
        "random_walk": (lambda: G.random_walk(
            g, spark.range(2), steps=6).collect(), 2),
    }
    # near_dup_clusters' measured edge count: the hint turns AQE off
    # inside the loop, so this count holds on an AQE session
    hinted = _spark_jobs(spark, lambda: G.connected_components(
        g, edge_count_hint=5).collect())
    # AQE off for the rest: every job is then one action — the driver's
    # checkpoints, probes and collects — not one per adaptive query stage
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = {name: _spark_jobs(spark, run)
               for name, (run, _) in runs.items()}
        scc = _spark_jobs(
            spark, lambda: G.strongly_connected_components(g).collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert got == {name: pin for name, (_, pin) in runs.items()}
    assert hinted == 3
    # measured 18: one job of slack for the concurrent fwd/bwd jobs
    assert scc <= 19
