"""Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md) and
property-graph views over them.

The graph views express the star schema as vertices + edges so the GQL
engine and the graph-algorithm operators run against real relational data:
- vertices: namespaced string ids ('n<k>' nation, 'c<k>' customer,
  'o<k>' order, 's<k>' supplier, 'r<k>' region)
- edges: customer→nation (lives_in), order→customer (placed_by),
  supplier→nation, nation→region

At 100 TB these edge DataFrames are just column projections of the base
tables — no copy, no shuffle; Catalyst prunes the scan to the two id
columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # epoch arithmetic on timestamp_ntz columns must be TZ-stable regardless
    # of which session the driver hands us
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if name == "events":
        # events.ts is parquet TIMESTAMP(MICROS) → Spark TIMESTAMP_NTZ at
        # every shipped sf (verified against parquet metadata).  Keep the
        # nanosAsLong flag defensively: if a future generator ever writes
        # TIMESTAMP(NANOS), Spark surfaces it as long nanoseconds and the
        # epoch helpers (operators/windows.epoch_seconds,
        # operators/temporal.epoch_micros) handle both encodings.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_t = df.schema["ts"].dataType
        if not isinstance(ts_t, (T.TimestampType, T.TimestampNTZType,
                                 T.LongType)):
            raise TypeError(
                f"events.ts read as {ts_t}; expected TimestampType/"
                "TimestampNTZType (parquet MICROS) or LongType (parquet "
                "NANOS with nanosAsLong) — the epoch helpers support only "
                "these encodings")
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All relationship edges with namespaced endpoint ids
    (src, dst, direction)."""
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")

    def ns(prefix: str, col: str):
        return F.concat(F.lit(prefix), F.col(col).cast("string"))

    e1 = customer.select(ns("c", "c_custkey").alias("src"),
                         ns("n", "c_nationkey").alias("dst"))
    e2 = orders.select(ns("o", "o_orderkey").alias("src"),
                       ns("c", "o_custkey").alias("dst"))
    e3 = supplier.select(ns("s", "s_suppkey").alias("src"),
                         ns("n", "s_nationkey").alias("dst"))
    e4 = nation.select(ns("n", "n_nationkey").alias("src"),
                       ns("r", "n_regionkey").alias("dst"))
    return (e1.unionByName(e2).unionByName(e3).unionByName(e4)
            .withColumn("direction", F.lit("->")))


def nation_dag_edges(spark: SparkSession, sf_dir: str,
                     n_nodes: int = 12) -> DataFrame:
    """Deterministic weighted DAG over the first ``n_nodes`` nations:
    i → i+1 and i → i+2 with weight ((i*7 + j*13) % 20) + 1.
    Used by the shortest-path oracle check (SQL-expressible via a
    recursive CTE)."""
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("i")).filter(F.col("i") < n_nodes)
    a, b = n.alias("a"), n.alias("b")
    pairs = (a.crossJoin(b)
             .select(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
             .filter((F.col("dst") - F.col("src")).isin(1, 2)))
    return pairs.withColumn(
        "w", ((F.col("src") * 7 + F.col("dst") * 13) % 20 + 1).cast("double")) \
        .withColumn("direction", F.lit("->"))


def nation_ring_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-regular digraph over all 25 nations:
    i → (i+1) % 25 and i → (i+7) % 25.  Every vertex has out-degree 2 and
    in-degree 2 — PageRank contributions are a 2-addend sum, which keeps
    floating-point results engine-exact."""
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("i"))
    e1 = n.select(F.col("i").alias("src"), ((F.col("i") + 1) % 25).alias("dst"))
    e2 = n.select(F.col("i").alias("src"), ((F.col("i") + 7) % 25).alias("dst"))
    return e1.unionByName(e2)


def region_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected chain linking the nations of each region in key order —
    connected components == regions (oracle: min key per region)."""
    from pyspark.sql import Window
    n = load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = (n.select(F.col("n_nationkey").cast("long").alias("src"),
                      F.lead("n_nationkey").over(w).cast("long").alias("dst"))
             .filter(F.col("dst").isNotNull()))
    return chain.withColumn("direction", F.lit("--"))


def region_clique_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete graph among the nations of each region (a<b) — for the
    triangle-count check (K5 per region → C(5,3)=10 triangles each)."""
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_regionkey"))
    a, b = n.alias("a"), n.alias("b")
    return (a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            .filter(F.col("a.k") < F.col("b.k"))
            .select(F.col("a.k").alias("src"), F.col("b.k").alias("dst")))


def clique_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two K10 cliques (nations 0-9 and 15-24) bridged by the path
    9-10-11-12-13-14.  The pendant path makes k-core peeling cascade
    (k=3 strips 14, then 13, ... then 10 — six supersteps) and gives
    label propagation / Jaccard similarity a non-uniform structure."""
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"))
    a, b = n.alias("a"), n.alias("b")
    c1 = (a.join(b, F.col("a.k") < F.col("b.k"))
          .filter(F.col("b.k") <= 9)
          .select(F.col("a.k").alias("src"), F.col("b.k").alias("dst")))
    c2 = (a.join(b, F.col("a.k") < F.col("b.k"))
          .filter(F.col("a.k") >= 15)
          .select(F.col("a.k").alias("src"), F.col("b.k").alias("dst")))
    path = (n.filter(F.col("k").between(9, 13))
            .select(F.col("k").alias("src"), (F.col("k") + 1).alias("dst")))
    return (c1.unionByName(c2).unionByName(path)
            .withColumn("direction", F.lit("--")))
