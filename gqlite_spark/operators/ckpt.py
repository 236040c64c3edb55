"""Lineage-truncation policy for iterative / multi-consumer operators.

Every iterative operator (graph supersteps, funnel's chained per-step
state) must break lineage periodically or the plan grows without bound.
Two strategies, selected per-session:

- ``localCheckpoint`` (default): executor-local blocks — fast, no
  distributed filesystem needed, but NON-REPLAYABLE: losing an executor
  loses its partitions and fails the job.  Right for local mode and
  short interactive jobs.
- reliable ``checkpoint``: partitions written to the checkpoint dir
  (HDFS/S3 on a cluster) — survives executor loss, the right choice for
  long multi-hour jobs on lossy clusters, at the cost of a filesystem
  round-trip per materialization.

Enable the reliable path per-session (VERDICT r4 #8) with the
``checkpoint.reliable`` key of :mod:`gqlite_spark.conf` (the one list of
keys and defaults)::

    spark.sparkContext.setCheckpointDir("hdfs:///tmp/ckpt")
    spark.conf.set("spark.gqlite.checkpoint.reliable", "true")

All gqlite operators route through :func:`materialize`, so the switch
covers graph algorithms, funnel, and streaming graph state uniformly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import conf


def materialize(df: DataFrame, eager: bool = True,
                coalesce: bool = True) -> DataFrame:
    """Truncate lineage with the session's configured strategy.

    ``coalesce``: iterative state is usually far smaller than the shuffle-
    partition default — materializing 200 near-empty tasks per superstep
    dominates wall-clock, so first coalesce (narrow, no shuffle) to the
    cluster's core parallelism."""
    spark = df.sparkSession
    if coalesce:
        df = df.coalesce(spark.sparkContext.defaultParallelism)
    if conf.get(spark, "checkpoint.reliable"):
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            raise RuntimeError(
                f"{conf.key('checkpoint.reliable')}=true but no checkpoint "
                "dir is set; call spark.sparkContext.setCheckpointDir(...) "
                "first")
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_probed(df: DataFrame, *aggs, coalesce: bool = True):
    """Materialize ``df`` AND compute aggregate probes in ONE job where
    the strategy allows it — the iterative loops' convergence check
    (``sum(xxhash64(...))``) otherwise pays a second data-sized pass per
    batch on top of the eager checkpoint job.

    With local checkpoints (the default) the checkpoint is taken LAZILY
    and the aggregate action materializes it: an aggregate computes
    every partition, so the whole state is persisted and the lineage
    truncated by that same job.  (A ``take(1)``-style probe must NOT be
    fused this way — it computes only some partitions, and a partially
    materialized local checkpoint loses the rest when the lineage is
    truncated.)  Reliable checkpoints stay eager: a lazy reliable
    checkpoint re-runs the whole lineage a second time when the
    checkpoint files are written — strictly worse than the extra probe.

    Returns ``(materialized_df, probe_row)``."""
    eager = conf.get(df.sparkSession, "checkpoint.reliable")
    out = materialize(df, eager=eager, coalesce=coalesce)
    return out, out.agg(*aggs).collect()[0]
