"""Checkpoint-strategy switch (VERDICT r4 #8): iterative operators route
lineage truncation through operators/ckpt.materialize, which picks
executor-local localCheckpoint (default) or a reliable checkpoint dir
(lossy-cluster mode) from the session conf."""

import tempfile

import pytest
from pyspark.sql import functions as F

from gqlite_spark import conf
from gqlite_spark.operators.ckpt import materialize

RELIABLE_KEY = conf.key("checkpoint.reliable")


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
    with _iterative_shuffle_scope(tiny, state_bytes=24):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    # a huge claimed state keeps AQE on
    with _iterative_shuffle_scope(tiny, state_bytes=10**15):
        assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_conf_forms(spark, reliable):
    """Byte confs read as Spark parses them (every suffix form Spark
    accepts at ``conf.set``, and -1); the engine's booleans parse like
    Spark's own — trimmed, case-insensitive — and a malformed value is
    an error naming the key, not a silent default.  A scoped override
    restores a set key and unsets a key that was unset."""
    import glob
    import os

    from gqlite_spark.errors import GQLiteError
    key = conf.BROADCAST_THRESHOLD
    old = spark.conf.get(key)
    nprobe = conf.key("knn.nprobe")
    with conf.scoped(spark, {key: "1k", nprobe: " 3"}):
        assert conf.get(spark, "knn.nprobe") == 3
        for raw, want in [("67108864", 64 << 20), ("64m", 64 << 20),
                          ("64MB", 64 << 20), ("1g", 1 << 30),
                          ("1p", 1 << 50), ("-1", -1)]:
            spark.conf.set(key, raw)
            assert conf.byte_conf(spark, key) == want, raw
    assert spark.conf.get(key) == old
    assert spark.conf.get(nprobe, None) is None
    spark.conf.set(RELIABLE_KEY, " True")
    assert materialize(spark.range(3)).count() == 3
    assert glob.glob(os.path.join(reliable, "**", "rdd-*", "part-*"),
                     recursive=True)
    spark.conf.set(RELIABLE_KEY, "yes")
    with pytest.raises(GQLiteError, match=RELIABLE_KEY):
        materialize(spark.range(3))


def _broadcast_hinted(out) -> bool:
    plan = out._jdf.queryExecution().analyzed().toString()
    return "broadcast" in plan.lower()


def test_guarded_broadcast_reads_suffixed_threshold(spark):
    """autoBroadcastJoinThreshold comes back verbatim ('1k'); the guard
    must scale the suffix, not fall back to the 10 MB default and
    broadcast a set 10x past what the user allowed."""
    from gqlite_spark.operators.sampling import _guarded_broadcast_ids

    def hinted(n):
        return _broadcast_hinted(
            _guarded_broadcast_ids(spark.range(n).toDF("id")))

    old = spark.conf.get(conf.BROADCAST_THRESHOLD)
    spark.conf.set(conf.BROADCAST_THRESHOLD, "1k")
    try:
        assert hinted(64)           # 64 long ids x 16 B = 1 KB fits
        assert not hinted(65)       # 1,040 B > 1 KB
    finally:
        spark.conf.set(conf.BROADCAST_THRESHOLD, old)


def test_guarded_broadcast_measures_string_ids(spark):
    """The guard weighs the ids it holds: 100 ids of 200 bytes are
    ~21 KB, so a 4 KB threshold refuses the broadcast (a fixed guess of
    32 B per id sized them at 3.2 KB and broadcast them)."""
    from gqlite_spark.operators.sampling import _guarded_broadcast_ids
    ids = spark.createDataFrame([(f"{i:03d}" + "x" * 197,)
                                 for i in range(100)], "id string")
    old = spark.conf.get(conf.BROADCAST_THRESHOLD)
    spark.conf.set(conf.BROADCAST_THRESHOLD, "4k")
    try:
        assert not _broadcast_hinted(_guarded_broadcast_ids(ids))
        spark.conf.set(conf.BROADCAST_THRESHOLD, "32k")
        assert _broadcast_hinted(_guarded_broadcast_ids(ids))
    finally:
        spark.conf.set(conf.BROADCAST_THRESHOLD, old)


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
    # near_dup_clusters' measured edge bytes (24 B per long-id edge):
    # the hint turns AQE off inside the loop, so this count holds on an
    # AQE session
    hinted = _spark_jobs(spark, lambda: G.connected_components(
        g, edge_bytes_hint=len(TINY) * 24).collect())
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
