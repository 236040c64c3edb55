"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
beyond-reference data-pipeline operators) to a callable (spark, sf_dir) →
DataFrame; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL.  Both
sides alias columns identically and use engine-portable result encodings:

- money sums as SUM(CAST(ROUND(term*100) AS BIGINT)) — per-term rounding of
  identical doubles, so the integer sum is bit-exact in any engine;
- window starts as epoch seconds (BIGINT);
- ratios/averages rounded to 4 decimals;
- all top-k orderings carry an id tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gqlite_spark import conf

SF_SMALL = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _load(spark, sf_dir, name):
    from gqlite_spark.sources import testdata
    return testdata.load(spark, sf_dir, name)


def _cents(expr):
    """Engine-exact money sum: per-term round to cents, integer sum."""
    return F.sum(F.round(expr * 100).cast("long"))


def _avg_e4(expr):
    """Engine-exact average as a scaled integer (1e-4 units).

    Two failure modes force this shape (both observed at sf0.1):
    native AVG accumulates in engine-specific order, and even on identical
    quotient doubles the engines' ROUND(x, 4) implementations differ at
    boundary values (BigDecimal HALF_UP vs C round).  A single
    round-to-nearest-INTEGER of an identical double is the only portable
    rounding: avg_e4 = round(sum_cents * 100.0 / n).""" 
    return F.round(_cents(expr) * 100.0 / F.count("*")).cast("long")


_GQL_DB_CACHE: dict = {}


def _gql_db(spark, sf_dir):
    """GQL engine over the TPC-H tables registered as vertex groups
    (zero-copy bulk registration — the 100 TB ingestion path).  Cached per
    (session, sf_dir): registration only reads parquet footers."""
    cache_key = (id(spark), sf_dir)
    if cache_key in _GQL_DB_CACHE:
        return _GQL_DB_CACHE[cache_key]
    from gqlite_spark import GQLite
    db = GQLite(spark)
    g = db.catalog.create_graph("tpch")
    for table, key in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("part", "p_partkey"), ("lineitem", "l_orderkey"),
                       ("nation", "n_nationkey"), ("embeddings", "vec_id")]:
        grp = g.create_group(table)
        grp.register_df(_load(spark, sf_dir, table), key_col=key)
    # nation ring as an edge group: multi-hop walk patterns traverse it
    from gqlite_spark.sources.testdata import nation_ring_edges
    ring = g.create_group("nation_ring", is_edge=True,
                          src_group="nation", dst_group="nation")
    ring.register_df(nation_ring_edges(spark, sf_dir))
    _GQL_DB_CACHE[cache_key] = db
    return db


def _gql_query(spark, sf_dir, gql, key_alias):
    df = _gql_db(spark, sf_dir).query_df(gql)
    return df.withColumnRenamed("id", key_alias)


# --------------------------------------------------------------------------
# GQL-engine scan/filter/predicate queries (SURVEY §2.1-2.3)
# --------------------------------------------------------------------------

def q_scan_filter_eq(spark, sf_dir):
    """Equality predicate through the GQL engine (ScanPlan equality parity)."""
    return _gql_query(
        spark, sf_dir,
        "{query: 'customer', in: 'tpch', where: {c_mktsegment: 'BUILDING'}};",
        "c_custkey")


def _date_to_epoch(df, col):
    """Timestamp cols → epoch-second bigints so result schemas are
    engine-portable (pandas datetime64[ns] vs [us] drift)."""
    return df.withColumn(col + "_epoch",
                         F.unix_timestamp(F.col(col))).drop(col)


def q_filter_in(spark, sf_dir):
    """IN-list predicate (array → OR of equalities, ScanPlan.cpp:767-772)."""
    df = _gql_query(
        spark, sf_dir,
        "{query: 'orders', in: 'tpch',"
        " where: {o_orderpriority: ['1-URGENT', '2-HIGH']}};",
        "o_orderkey")
    return _date_to_epoch(df, "o_orderdate")


def q_filter_range_and(spark, sf_dir):
    """$gt/$lte ranges composed with $and (nested boolean trees — more
    general than the reference's two-slot model)."""
    df = _gql_query(
        spark, sf_dir,
        "{query: 'lineitem', in: 'tpch', where: {$and: ["
        "{l_quantity: {$gt: 45}}, {l_discount: {$lte: 0.02}}]}};",
        "l_orderkey")
    return _date_to_epoch(df, "l_shipdate")


def q_filter_or(spark, sf_dir):
    return _gql_query(
        spark, sf_dir,
        "{query: 'part', in: 'tpch', where: {$or: ["
        "{p_size: {$gt: 45}}, {p_brand: 'Brand#33'}]}};",
        "p_partkey")


def q_filter_datetime(spark, sf_dir):
    """Datetime range predicate on a timestamp column."""
    df = _gql_query(
        spark, sf_dir,
        "{query: 'orders', in: 'tpch',"
        " where: {o_orderdate: {$lt: '1996-07-01 00:00:00'}}};",
        "o_orderkey")
    return _date_to_epoch(df, "o_orderdate")


def q_point_lookup(spark, sf_dir):
    """Point query by id (the reference benchmark workload,
    test/benchmark/vertex.gs)."""
    return _gql_query(
        spark, sf_dir,
        "{query: 'customer', in: 'tpch', where: {id: 42}};",
        "c_custkey")


def q_projection(spark, sf_dir):
    """Column projection (fixes the reference's parsed-but-unapplied
    projection, ScanPlan.cpp:316-342)."""
    return _gql_query(
        spark, sf_dir,
        "{query: [customer.c_name, customer.c_acctbal], in: 'tpch',"
        " where: {c_mktsegment: 'MACHINERY'}};",
        "c_custkey")


def q_count(spark, sf_dir):
    """count(group) aggregate (README.md:190-197 surface)."""
    db = _gql_db(spark, sf_dir)
    res = db.exec("{query: count(orders), in: 'tpch'};")[0]
    return spark.createDataFrame([(res.value,)], "cnt bigint")


def q_knn(spark, sf_dir):
    """kNN $near+limit through the GQL engine — squared-L2, top-10
    (reference surface test/vertex/grammar.gql:34-35; HNSW replaced by
    TakeOrderedAndProject / LSH)."""
    db = _gql_db(spark, sf_dir)
    qvec = (_load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    vec_lit = ", ".join(repr(float(x)) for x in qvec)
    df = db.query_df(
        "{query: 'embeddings', in: 'tpch',"
        " where: {embedding: {limit: 10, $near: [" + vec_lit + "]}}};")
    return df.select(F.col("id").alias("vec_id"), "label")


def q_knn_routed(spark, sf_dir):
    """The ANN side of cost-routed $near+limit (VERDICT r6 next #1): a
    MATERIALIZED l2 IVF index (vectors stored in the index partitions)
    is built and attached, the ann_threshold conf forced low, so THIS
    query exercises the production above-threshold plan — partition-
    pruned index top-k over the query's 8 of 64 inverted lists, then a
    broadcast id join recovers the winning rows.  nlist is pinned to 64
    (not auto-√n) so the oracle is scale-independent.  The DuckDB oracle
    replays the whole pipeline: sampling centroids → per-row argmin-L2
    list assignment → probe-list filter → exact top-k.  Reference parity
    anchor: src/operand/query/HNSW.cpp:86-165 (the reference's own
    above-threshold $near answer is equally approximate; its persisted-
    index reload is HNSW.cpp:358-374).  Query vector = vec_id 3 to
    distinguish from the exact-path knn_near_limit."""
    import tempfile

    db = _gql_db(spark, sf_dir)
    qvec = (_load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 3).select("embedding").collect()[0][0])
    vec_lit = ", ".join(repr(float(x)) for x in qvec)
    grp = db.catalog.graphs["tpch"].group("embeddings")
    grp.build_ivf_index("embedding", tempfile.mkdtemp(prefix="gqlite_knnidx_"),
                        nlist=64)
    try:
        with conf.scoped(spark, {"spark.gqlite.knn.ann_threshold": "1",
                                 "spark.gqlite.knn.nprobe": "8"}):
            df = db.query_df(
                "{query: 'embeddings', in: 'tpch', where: {embedding:"
                " {limit: 10, $near: [" + vec_lit + "]}}};")
    finally:
        # detach so later entries on the shared cached engine see the
        # group in its default (exact-path) state
        grp._vindex.pop("embedding", None)
    return df.select(F.col("id").alias("vec_id"), "label")


def q_knn_filtered(spark, sf_dir):
    """Predicate + $near+limit over the MATERIALIZED index (VERDICT r7
    next #2): the oversample route takes the top-(c·k) nearest
    candidates off the partition-pruned index, applies the plain
    predicate (label IN half the classes, ~50% selective) to the
    recovered rows, and top-ks the survivors — the vector READ stays
    ~nprobe/nlist of the corpus even with a WHERE beside the $near
    (reference users mix them routinely: test/query/grammar.gql:34-35
    + predicate forms).  Pinned nlist=64/nprobe=8/c=4 so the DuckDB
    oracle replays the exact candidate set: at every test SF the first
    oversample (40 candidates) holds 21-23 matching rows >= k=10, so
    the bounded refill provably never fires and the result is a pure
    function of the data.  Query vector = vec_id 7."""
    import tempfile

    db = _gql_db(spark, sf_dir)
    qvec = (_load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 7).select("embedding").collect()[0][0])
    vec_lit = ", ".join(repr(float(x)) for x in qvec)
    grp = db.catalog.graphs["tpch"].group("embeddings")
    grp.build_ivf_index("embedding",
                        tempfile.mkdtemp(prefix="gqlite_knnfidx_"),
                        nlist=64)
    try:
        with conf.scoped(spark, {
                "spark.gqlite.knn.ann_threshold": "1",
                "spark.gqlite.knn.nprobe": "8",
                "spark.gqlite.knn.oversample": "4",
                "spark.gqlite.knn.oversample_retries": "2"}):
            df = db.query_df(
                "{query: 'embeddings', in: 'tpch', where: {$and: ["
                " {label: [0, 2, 4, 6, 8]},"
                " {embedding: {limit: 10, $near: [" + vec_lit + "]}}]}};")
    finally:
        grp._vindex.pop("embedding", None)
    return df.select(F.col("id").alias("vec_id"), "label")


def q_knn_compacted(spark, sf_dir):
    """Routed $near+limit AFTER incremental index compaction (VERDICT r7
    next #3 made oracle-checkable): build the materialized index, upsert
    two OLTP rows — vec_id 5 moved far away (every element +10.0) and a
    brand-new near-duplicate of the query vector (vec 11's elements
    +0.001, id 10,000,000) — then run ``{vindex ... compact: true}``,
    which folds the overlay into the index by rewriting ONLY the
    affected list partitions, and query through the zero-overlay routed
    plan.  The DuckDB oracle replays the whole lifecycle: centroids
    sampled from the PRE-upsert corpus (they are frozen at build time),
    the post-compaction corpus expressed as original-minus-shadow plus
    the two transform rows ROUNDED THROUGH FLOAT32 — compaction stores
    overlay vectors at the index's element type, the corpus's float —
    then argmin-L2 assignment → probe → exact top-k.  Correct iff
    compaction (a) dropped the shadowed id's OLD vector, (b) inserted
    both new vectors into the lists the build-time quantizer maps their
    STORED values to, and (c) left every untouched partition
    bit-identical.  Reference parity anchor: incremental
    GHNSW::insert (HNSW.cpp:86-165) — the reference mutates its ANN
    index in place on upsert; this is the batched, partition-scoped
    Spark equivalent."""
    import tempfile

    db = _gql_db(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    vecs = {r["vec_id"]: list(r["embedding"]) for r in
            emb.filter(F.col("vec_id").isin(5, 11)).collect()}
    v5, v11 = vecs[5], vecs[11]
    vec_lit = ", ".join(repr(float(x)) for x in v11)
    grp = db.catalog.graphs["tpch"].group("embeddings")
    saved_bulk = grp.bulk_df
    idx = tempfile.mkdtemp(prefix="gqlite_knncpidx_")
    grp.build_ivf_index("embedding", idx, nlist=64)
    try:
        with conf.scoped(spark, {"spark.gqlite.knn.ann_threshold": "1",
                                 "spark.gqlite.knn.nprobe": "8"}):
            grp.upsert_vertex(
                5, {"embedding": [float(x) + 10.0 for x in v5],
                    "label": 55})
            grp.upsert_vertex(10_000_000,
                              {"embedding": [float(x) + 0.001 for x in v11],
                               "label": 77})
            rep = db.exec("{vindex: 'embeddings', in: 'tpch', path: '"
                          + idx + "', on: 'embedding', compact: true};")[0]
            if rep.error or grp.rows:
                raise RuntimeError(f"compaction failed: {rep.error}")
            df = db.query_df(
                "{query: 'embeddings', in: 'tpch', where: {embedding:"
                " {limit: 10, $near: [" + vec_lit + "]}}};")
            return df.select(F.col("id").alias("vec_id"), "label")
    finally:
        # restore the shared cached engine's group to its pristine
        # bulk-only state (compaction replaced bulk_df with the merged
        # plan; the returned DataFrame holds its own immutable plan)
        grp.bulk_df = saved_bulk
        grp.rows = {}
        grp._mat_cache = None
        grp._count_cache = None
        grp._vindex.pop("embedding", None)
        grp._ann_cache = {}


# --------------------------------------------------------------------------
# Relational analytics (scan→agg→join plans; Catalyst-optimized)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-flavor pricing summary — the flagship aggregation."""
    l = _load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc * (F.lit(1) + F.col("l_tax"))
    return (l.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_cents(F.col("l_quantity")).alias("sum_qty_cents"),
                 _cents(F.col("l_extendedprice")).alias("sum_base_cents"),
                 _cents(disc).alias("sum_disc_cents"),
                 _cents(charge).alias("sum_charge_cents"),
                 _avg_e4(F.col("l_quantity")).alias("avg_qty_e4"),
                 _avg_e4(F.col("l_discount")).alias("avg_disc_e4"),
                 F.count("*").alias("count_order")))


def q_topk_orders(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(10).select("o_orderkey", "o_totalprice"))


def q_distinct(spark, sf_dir):
    return _load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def q_join_region_revenue(spark, sf_dir):
    """orders ⋈ customer ⋈ nation ⋈ region with explicit broadcast of the
    dimension chain — revenue per region."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    dims = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .select("c_custkey", "r_name"))
    return (o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
            .groupBy("r_name")
            .agg(_cents(F.col("o_totalprice")).alias("revenue_cents"),
                 F.count("*").alias("n_orders")))


def q_join_2hop_revenue(spark, sf_dir):
    """customer→orders→lineitem two-hop join, revenue per market segment."""
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(_cents(rev).alias("revenue_cents"),
                 F.count("*").alias("n_items")))


def q_bucketed_join_revenue(spark, sf_dir):
    """Co-located (bucketed) join: orders and lineitem written hash-
    bucketed on the order key, then joined AND pre-aggregated per order
    with ZERO Exchange — the write-once-shuffle-never layout for the
    repeated fact-fact join at 100 TB (the r8 bucketed-storage module;
    the sidecar spec makes the layout re-attachable on any cluster
    session, gqlite_spark/sources/bucketed.py).  Only the final 5-row
    priority rollup shuffles (per-order integer cent sums → identical
    totals).  Reference parity: the reference stores edges pre-keyed by
    source id in mdbx so traversals never re-sort (StorageEngine.cpp:
    132-181); bucketing is that idea for Spark tables.  Oracle: the
    layout cannot change the rows — plain join/rollup SQL."""
    import tempfile
    from gqlite_spark.sources import bucketed
    root = tempfile.mkdtemp(prefix="gqlite_bkt_")
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    l = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    ot = bucketed.save_bucketed(o, root + "/orders", "o_orderkey", 8,
                                table="bkt_orders_rev")
    lt = bucketed.save_bucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        root + "/lineitem", "o_orderkey", 8, table="bkt_lineitem_rev")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    # merge hint: at gate scale orders fits the broadcast threshold and
    # Catalyst would broadcast (also fine); the hint pins the plan this
    # entry demonstrates — the co-located SortMergeJoin, which at fact-
    # fact scale is the only option and here runs with NO Exchange
    per_order = (bucketed.cobucket_join(spark.table(lt),
                                        spark.table(ot).hint("merge"),
                                        "o_orderkey")
                 .groupBy("o_orderkey", "o_orderpriority")
                 .agg(_cents(rev).alias("_c"),
                      F.count("*").alias("_n")))
    return (per_order.groupBy("o_orderpriority")
            .agg(F.sum("_c").cast("long").alias("revenue_cents"),
                 F.sum("_n").cast("long").alias("n_items")))


def q_zorder_scan_revenue(spark, sf_dir):
    """Z-ordered (Morton-clustered) layout scan: lineitem rewritten
    sort-clustered on (l_orderkey, l_suppkey), then a selective range
    predicate on BOTH keys + revenue rollup.  The scan-side storage
    complement to `bucketed_join_revenue`: the z-layout makes every
    parquet file cover a narrow min/max box in both keys, so the
    pushed-down predicates skip most files — at 100 TB this is the
    first-order I/O reducer for selective scans, with the parquet
    footer stats as the only "index" (the reference's key-ordered mdbx
    range reads, StorageEngine.cpp:132-181, generalized to two
    dimensions).  Skipping is plan/footer-asserted in
    tests/test_clustered.py; the oracle checks the one thing a layout
    must guarantee — identical rows (plain filtered SQL).  The range
    bounds derive from min/max so the entry is scale-factor-independent
    (bounds via double arithmetic, bit-identical in DuckDB)."""
    import tempfile
    from gqlite_spark.sources import clustered
    root = tempfile.mkdtemp(prefix="gqlite_zord_") + "/lineitem"
    l = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag",
        "l_extendedprice", "l_discount")
    clustered.save_clustered(l, root, ["l_orderkey", "l_suppkey"],
                             n_files=16)
    t = spark.read.parquet(root)
    r = t.agg(F.min("l_orderkey"), F.max("l_orderkey"),
              F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    # integer bounds: a cast-wrapped column would NOT reach PushedFilters,
    # and pushdown to the footer stats is the whole point of the layout
    import math
    okey_hi = int(math.floor(r[0] + (r[1] - r[0]) / 10.0))
    skey_hi = int(math.floor(r[2] + (r[3] - r[2]) / 10.0))
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (t.filter((F.col("l_orderkey") <= F.lit(okey_hi))
                     & (F.col("l_suppkey") <= F.lit(skey_hi)))
            .groupBy("l_returnflag")
            .agg(_cents(rev).alias("revenue_cents"),
                 F.count("*").alias("n_items")))


def q_anti_join(spark, sf_dir):
    """Customers with no orders (left-anti; the remove-cascade join kind,
    RemovePlan.cpp:49-75)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_nationkey"))


def q_upsert_lww(spark, sf_dir):
    """Last-writer-wins upsert semantics at scale: latest event per user
    (window dedup — the deterministic merge that replaces mdbx
    put-overwrite, StorageEngine.cpp:446-467)."""
    from pyspark.sql import Window
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (e.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_id", "event_type", "value"))


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation over (region, mktsegment) — subtotal + grand-total
    rows (beyond-reference: reference has no grouping sets at all)."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    joined = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.rollup("r_name", "c_mktsegment")
            .agg(_cents(F.col("o_totalprice")).alias("revenue_cents"),
                 F.count("*").alias("n_orders")))


def q_correlated_subquery(spark, sf_dir):
    """Orders above their customer's average price — correlated scalar
    subquery through the SQL API (Catalyst decorrelates to an aggregate +
    join; no per-row re-execution)."""
    _load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o "
        "WHERE o_totalprice > (SELECT AVG(i.o_totalprice) FROM orders_v i "
        "                      WHERE i.o_custkey = o.o_custkey)")


def q_semi_join(spark, sf_dir):
    """Customers with at least one urgent order (left-semi join — the
    EXISTS shape; remove-cascade's positive dual)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


def q_window_rank(spark, sf_dir):
    """Analytic window functions: per-customer order ranking + running
    revenue total (rows-unbounded-preceding frame)."""
    from pyspark.sql import Window
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (o.withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("running_cents",
                        F.sum(cents).over(
                            w.rowsBetween(Window.unboundedPreceding, 0)))
            .filter(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank", "running_cents"))


# --------------------------------------------------------------------------
# Graph analytics (SURVEY §2.4, §2.7 — GraphX-model Pregel loops)
# --------------------------------------------------------------------------

def q_walk_2hop_cond(spark, sf_dir):
    """2-hop walk pattern through the GQL engine with a PROPERTY CONDITION
    on the middle node (reference surface: per-hop conditions in walk
    declarations, src/gql.y:886-905 a_link_condition; execution stubbed at
    ScanPlan.cpp:225-226 — implemented as iterated self-joins + endpoint
    semi-joins here).  Paths n0 -> n1 -> n2 over the nation ring where the
    middle nation is in region 2."""
    db = _gql_db(spark, sf_dir)
    return db.query_df(
        "{query: 'nation_ring', in: 'tpch',"
        " where: [*, ->, {n_regionkey: 2}, ->, *]};")


def q_motif_fork(spark, sf_dir):
    """Branching motif match (a)->(b), (a)->(c) over the nation ring —
    beyond chain walks (reference MatchPattern.cpp/CTreeStrategy.cpp
    stubs).  Multi-way join on the shared variable, pairwise-distinct
    bindings."""
    from gqlite_spark.operators.patterns import match_motif
    from gqlite_spark.sources.testdata import nation_ring_edges
    e = nation_ring_edges(spark, sf_dir)
    return match_motif(e, [("a", "->", "b"), ("a", "->", "c")])


def q_khop(spark, sf_dir):
    """2-hop neighborhood of nation n1 on the TPC-H property graph."""
    from gqlite_spark.operators.graph_algos import k_hop
    from gqlite_spark.sources.testdata import graph_edges
    return k_hop(graph_edges(spark, sf_dir), "n1", 2, direction="--")


def q_shortest_path(spark, sf_dir):
    """Weighted shortest path 0→11 on the deterministic nation DAG
    (A*/min() surface; Pregel frontier relaxation)."""
    from gqlite_spark.operators.graph_algos import shortest_path
    from gqlite_spark.sources.testdata import nation_dag_edges
    res = shortest_path(nation_dag_edges(spark, sf_dir), 0, 11,
                        weight_col="w")
    cost = int(res[0]) if res else -1
    return spark.createDataFrame([(cost,)], "cost bigint")


def q_connected_components(spark, sf_dir):
    """Label-propagation components on the region chains (components ==
    regions; oracle = min key per region)."""
    from gqlite_spark.operators.graph_algos import connected_components
    from gqlite_spark.sources.testdata import region_chain_edges
    return connected_components(region_chain_edges(spark, sf_dir))


def q_cc_twophase(spark, sf_dir):
    """Large-star/small-star components (Kiveris et al.) on the same
    region chains — the O(log n)-round scale path for high-diameter
    graphs (HashMin is O(diameter) supersteps); identical output
    contract, same SQL oracle."""
    from gqlite_spark.operators.graph_algos import \
        connected_components_twophase
    from gqlite_spark.sources.testdata import region_chain_edges
    return connected_components_twophase(region_chain_edges(spark, sf_dir))


def q_pagerank(spark, sf_dir):
    """10-iteration PageRank on the deterministic 2-regular nation digraph
    (reference stub PageRank.cpp:5-23, implemented for real)."""
    from gqlite_spark.operators.graph_algos import pagerank
    from gqlite_spark.sources.testdata import nation_ring_edges
    pr = pagerank(nation_ring_edges(spark, sf_dir), iterations=10)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank on the nation ring: teleport (and dangling)
    mass returns to the source set {0, 5} instead of spreading uniformly
    — the proximity/recommendation query (reference stub
    PageRank.cpp:5-23; personalization is beyond-reference).  Oracle:
    the same 10 unrolled supersteps as graph_pagerank with the teleport
    CASE, bit-matched literals for (1-d) and d."""
    from gqlite_spark.operators.graph_algos import pagerank
    from gqlite_spark.sources.testdata import nation_ring_edges
    pr = pagerank(nation_ring_edges(spark, sf_dir), iterations=10,
                  personalized_for=[0, 5])
    return pr.select("id", F.round("rank", 6).alias("rank"))


def q_graphml_roundtrip(spark, sf_dir):
    """GraphML interchange round trip: synthesize a GraphML document from
    the nation table (typed string/int node keys, double-typed ring
    edges), ingest via load_graphml (sources/loaders.py:159 — the 4th
    interchange format beside CSV/DOT/nGQL; reference converter parity
    tool/converter/), then query the vertices back through the GQL
    engine.  The oracle predicts the node set + coerced typed props
    straight from nation."""
    from gqlite_spark import GQLite
    from gqlite_spark.sources.loaders import load_graphml
    rows = (_load(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey").collect())
    nodes = "\n".join(
        f'    <node id="n{r["n_nationkey"]}">'
        f'<data key="d0">{r["n_name"]}</data>'
        f'<data key="d1">{r["n_regionkey"]}</data></node>' for r in rows)
    edges = "\n".join(
        f'    <edge source="n{r["n_nationkey"]}"'
        f' target="n{(r["n_nationkey"] + 1) % 25}">'
        f'<data key="d2">{r["n_nationkey"]}.5</data></edge>' for r in rows)
    text = (
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n'
        '  <key id="d0" for="node" attr.name="name" attr.type="string"/>\n'
        '  <key id="d1" for="node" attr.name="region" attr.type="int"/>\n'
        '  <key id="d2" for="edge" attr.name="w" attr.type="double"/>\n'
        '  <graph id="gmlrt" edgedefault="directed">\n'
        f'{nodes}\n{edges}\n  </graph>\n</graphml>\n')
    db = GQLite(spark)
    load_graphml(db, text)
    res = db.exec("{query: 'node', in: 'gmlrt'};")[0]
    if res.error:
        raise RuntimeError(res.error)
    return res.df.select(F.col("id").alias("node_id"), "name",
                         F.col("region").cast("long").alias("region"))


def q_degrees(spark, sf_dir):
    """Degree centrality on the order→customer graph
    (DegreeCentrality.cpp intent)."""
    from gqlite_spark.operators.graph_algos import degrees
    o = _load(spark, sf_dir, "orders")
    e = o.select(F.concat(F.lit("o"), F.col("o_orderkey")).alias("src"),
                 F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"))
    return degrees(e)


def q_scc(spark, sf_dir):
    """Strongly connected components on a directed ring per region
    (each region's nations form one cycle → SCC == region; reference
    Tarjan stub implemented as distributed FW-BW peeling)."""
    from gqlite_spark.operators.graph_algos import \
        strongly_connected_components
    from pyspark.sql import Window
    n = _load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    first = n.groupBy("n_regionkey").agg(
        F.min("n_nationkey").alias("first_key"))
    chain = (n.select(F.col("n_regionkey"),
                      F.col("n_nationkey").cast("long").alias("src"),
                      F.lead("n_nationkey").over(w).cast("long").alias("dst")))
    closing = (chain.filter(F.col("dst").isNull())
               .join(first, "n_regionkey")
               .select("src", F.col("first_key").cast("long").alias("dst")))
    ring = (chain.filter(F.col("dst").isNotNull()).select("src", "dst")
            .unionByName(closing))
    return strongly_connected_components(ring)


def q_entropy(spark, sf_dir):
    """Distributed entropy + conditional entropy + information gain of
    documents.lang given source (Entropy.cpp/GGain parity, groupBy form)."""
    from gqlite_spark.operators.stats import (conditional_entropy, entropy,
                                              information_gain)
    d = _load(spark, sf_dir, "documents")
    h = entropy(d, "lang")
    hc = conditional_entropy(d, "source", "lang")
    gain = h - hc
    return spark.createDataFrame(
        [(round(h, 6), round(hc, 6), round(gain, 6))],
        "entropy_lang double, cond_entropy double, info_gain double")


def q_random_walk(spark, sf_dir):
    """Deterministic random walks over the region-clique graph.  Oracle-
    checkable since r2: the md5 hash family ('walk_id:step:seed' →
    conv(substr(md5,1,15),16,10) mod degree) is reproduced step-by-step in
    DuckDB SQL with window-ranked neighbor tables."""
    from gqlite_spark.operators.graph_algos import random_walk
    from gqlite_spark.sources.testdata import region_clique_edges
    e = region_clique_edges(spark, sf_dir)
    starts = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("id")).filter(F.col("id") < 5)
    out = random_walk(e, starts, steps=4, directed=False, hash_family="md5")
    return out.select("walk_id",
                      F.concat_ws(",", F.col("path")).alias("path_str"))


def q_triangles(spark, sf_dir):
    """Per-vertex triangle counts on the per-region nation cliques."""
    from gqlite_spark.operators.graph_algos import triangle_count
    from gqlite_spark.sources.testdata import region_clique_edges
    return triangle_count(region_clique_edges(spark, sf_dir))


def q_kcore(spark, sf_dir):
    """3-core of the clique-bridge graph: the pendant path 10..14 peels
    off over six supersteps, the two K10 cliques survive (core_degree 9)."""
    from gqlite_spark.operators.graph_algos import k_core
    from gqlite_spark.sources.testdata import clique_bridge_edges
    return k_core(clique_bridge_edges(spark, sf_dir), k=3)


def q_label_prop(spark, sf_dir):
    """4-iteration synchronous label propagation (deterministic mode-label
    with min tie-break) on the clique-bridge graph."""
    from gqlite_spark.operators.graph_algos import label_propagation
    from gqlite_spark.sources.testdata import clique_bridge_edges
    return label_propagation(clique_bridge_edges(spark, sf_dir), iterations=4)


def q_node_jaccard(spark, sf_dir):
    """Neighborhood Jaccard similarity of every connected pair on the
    clique-bridge graph (wedge-join common-neighbor counting)."""
    from gqlite_spark.operators.graph_algos import neighborhood_jaccard
    from gqlite_spark.sources.testdata import clique_bridge_edges
    return neighborhood_jaccard(clique_bridge_edges(spark, sf_dir))


def q_clustering_coef(spark, sf_dir):
    """Local clustering coefficient on the clique-bridge graph (clique
    interiors 1.0, bridge-path nodes 0.0)."""
    from gqlite_spark.operators.graph_algos import clustering_coefficient
    from gqlite_spark.sources.testdata import clique_bridge_edges
    return clustering_coefficient(clique_bridge_edges(spark, sf_dir))


def q_closeness(spark, sf_dir):
    """Exact closeness centrality (all-sources multi-source BFS) on the
    clique-bridge graph — two components, so reachable counts differ."""
    from gqlite_spark.operators.graph_algos import closeness_centrality
    from gqlite_spark.sources.testdata import clique_bridge_edges
    return closeness_centrality(clique_bridge_edges(spark, sf_dir))


def q_betweenness(spark, sf_dir):
    """Exact Brandes betweenness on the region chains (path graphs: all
    sigma/delta values stay integral, so the float sums are
    order-independent and the oracle hashes bit-exact)."""
    from gqlite_spark.operators.graph_algos import betweenness_centrality
    from gqlite_spark.sources.testdata import region_chain_edges
    return betweenness_centrality(region_chain_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# Dedup / text analysis / similarity (beyond-reference pipeline operators)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from gqlite_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_load(spark, sf_dir, "documents"))


def q_dedup_url(spark, sf_dir):
    """URL-level dedup: synthesize messy URL variants per document
    (uppercase scheme/host, :80 default port + utm params, trailing
    slash, fragment — cycling by doc_id % 4), then canonicalize and
    exact-dedup on the canonical form.  The oracle predicts the
    canonical URL from the same arithmetic, so the whole normalization
    chain (case, port, utm, slash, fragment) is what is checked.  See
    operators/text.py canonicalize_urls (zero-shuffle regexp chain) +
    url_dedup (one keyed aggregate)."""
    from gqlite_spark.operators.text import url_dedup
    d = _load(spark, sf_dir, "documents")
    page = F.floor(F.col("doc_id") / 4).cast("string")
    url = (F.when(F.col("doc_id") % 4 == 0,
                  F.concat(F.lit("HTTP://WWW."), F.col("source"),
                           F.lit(".COM/"), page))
           .when(F.col("doc_id") % 4 == 1,
                 F.concat(F.lit("http://www."), F.col("source"),
                          F.lit(".com:80/"), page,
                          F.lit("?utm_source=feed&utm_medium=rss")))
           .when(F.col("doc_id") % 4 == 2,
                 F.concat(F.lit("http://www."), F.col("source"),
                          F.lit(".com/"), page, F.lit("/")))
           .otherwise(
               F.concat(F.lit("http://www."), F.col("source"),
                        F.lit(".com/"), page, F.lit("#section2"))))
    return url_dedup(d.select("doc_id", url.alias("url")))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from gqlite_spark.operators.dedup import ngram_jaccard_pairs
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return ngram_jaccard_pairs(d, threshold=0.5)


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs (banded candidates, exact verify).

    Oracle since r2: every emitted pair carries its TRUE Jaccard (exact
    verify), so output ⊆ the all-pairs jaccard ≥ 0.7 set by construction;
    banding recall is deterministic for fixed data + hash family and was
    verified exhaustively equal to the exact pair set at sf0.001/0.01/0.1
    (planted near-dups sit at j ≥ 0.8 where 4×4 banding recall is high)."""
    from gqlite_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_load(spark, sf_dir, "documents"), threshold=0.7)


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters (LSH pairs → connected components →
    min-id representative); oracle replays the closure with a recursive
    CTE over the exact-Jaccard pair set."""
    from gqlite_spark.operators.dedup import near_dup_clusters
    return near_dup_clusters(_load(spark, sf_dir, "documents"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs.  Oracle-checkable since r2: 7-chunk blocking
    guarantees exact recall for hamming ≤ 6 (pigeonhole), and the
    fingerprint is pure md5 + bit arithmetic, so DuckDB reproduces it
    bit-for-bit with an all-pairs oracle."""
    from gqlite_spark.operators.dedup import simhash_near_pairs
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return simhash_near_pairs(d, max_hamming=6)


def q_dedup_embedding(spark, sf_dir):
    from gqlite_spark.operators.dedup import embedding_near_dups
    return embedding_near_dups(_load(spark, sf_dir, "embeddings"),
                               threshold=0.45)


def q_dedup_lines(spark, sf_dir):
    """Corpus-wide duplicate-line scrub (CCNet/RefinedWeb-style boilerplate
    removal).  The synthetic corpus is single-line, so documents are first
    re-lined deterministically — consecutive 8-token windows become lines —
    and planted near-dup documents then share whole lines, which the
    corpus-frequency scrub removes (df >= 2)."""
    from gqlite_spark.operators.dedup import line_dedup
    d = _load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("_t"))
    nch = F.ceil(F.size("_t") / F.lit(8)).cast("int")
    relined = toks.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), nch),
                lambda i: F.array_join(
                    F.slice(F.col("_t"), (i - 1) * 8 + 1, 8), " ")),
            "\n").alias("text"))
    return line_dedup(relined, min_doc_frequency=2)


def q_text_stats(spark, sf_dir):
    from gqlite_spark.operators.text import token_stats
    return token_stats(_load(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    from gqlite_spark.operators.text import quality_score
    return quality_score(_load(spark, sf_dir, "documents"))


def q_text_langid(spark, sf_dir):
    from gqlite_spark.operators.text import lang_id
    return lang_id(_load(spark, sf_dir, "documents"))


def q_text_fingerprint(spark, sf_dir):
    from gqlite_spark.operators.text import fingerprint
    return fingerprint(_load(spark, sf_dir, "documents"))


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition/boilerplate metrics (zero-shuffle array
    expressions)."""
    from gqlite_spark.operators.text import repetition_metrics
    return repetition_metrics(_load(spark, sf_dir, "documents"))


def q_text_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document (broadcast idf join)."""
    from gqlite_spark.operators.text import tfidf_top_terms
    return tfidf_top_terms(_load(spark, sf_dir, "documents"), k=5)


def q_text_lm_score(spark, sf_dir):
    """Corpus-trained char-trigram LM quality score (CCNet-style
    filtering signal); integer micro-nat model keeps the cross-engine
    comparison exact."""
    from gqlite_spark.operators.text import lm_score
    return lm_score(_load(spark, sf_dir, "documents"))


def q_text_chunking(spark, sf_dir):
    """Fixed-size overlapping token chunks per document (64-token chunks,
    8-token overlap) — the pre-embedding segmentation stage.  Pure map
    (split + sequence + posexplode), no shuffle."""
    from gqlite_spark.operators.text import chunk_documents
    return chunk_documents(_load(spark, sf_dir, "documents"),
                           chunk_tokens=64, overlap=8)


def q_text_redact_pii(spark, sf_dir):
    """PII scrub (emails/IPv4/phones/SSNs/cards/IBANs → tokens) with
    per-pattern audit counts; oracle mirrors all 6 patterns."""
    from gqlite_spark.operators.text import redact_pii
    return redact_pii(_load(spark, sf_dir, "documents"))


def q_cosine_topk(spark, sf_dir):
    from gqlite_spark.operators.similarity import cosine_topk
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return (cosine_topk(emb, [float(x) for x in qvec], k=10)
            .withColumnRenamed("id", "vec_id"))


def q_knn_join(spark, sf_dir):
    """Batch kNN join: 5 query vectors × corpus, top-5 each."""
    from gqlite_spark.operators.similarity import knn_join
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = knn_join(emb, queries, k=5)
    return out.withColumnRenamed("id", "vec_id")


def q_knn_join_ivf(spark, sf_dir):
    """Distributed ANN join (r8): every (vec_id % 11 == 3) embedding
    queries the WHOLE corpus for its top-3 cosine neighbours through the
    IVF join — corpus assigned to nlist=16 inverted lists, each query
    probing its nprobe=4 nearest lists, equi-join on list_id, exact
    re-rank.  No broadcast of either side, no cross join: the 100 TB
    shape for large-queries × large-corpus semantic search, vs
    sim_knn_join's broadcast-the-queries plan.  Pinned nlist=16/nprobe=4;
    the nearest-centroid kernel ranks by the same in-order fold as the
    DuckDB oracle, which replays assignment, per-query probe lists, the
    joined candidate set and the final rank bit-for-bit.  Reference
    parity: the reference loops single-query HNSW searches
    (HNSW.cpp:167-215); this is the set-oriented equivalent."""
    from gqlite_spark.operators.similarity import ivf_knn_join
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 11 == 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = ivf_knn_join(emb, queries, k=3, nlist=16, nprobe=4)
    return out.withColumnRenamed("id", "vec_id")


def q_decontaminate_semantic(spark, sf_dir):
    """Embedding-space train-vs-benchmark decontamination (r8): flag
    training embeddings whose top-1 benchmark (vec_id % 7 == 0)
    neighbour has cosine ≥ 0.4 — the semantic complement of the n-gram
    `decontaminate` entry (paraphrased leakage shares no 8-gram but sits
    on top of the benchmark in embedding space).  Runs the IVF join with
    nprobe = nlist = 8, i.e. every list probed: candidate generation is
    EXACT here, so the oracle is the plain per-train-row top-1 over the
    benchmark — while the operator itself exercises the full
    assignment → probe → list-join pipeline."""
    from gqlite_spark.operators.sampling import semantic_contamination
    emb = _load(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 7 == 0)
    train = emb.filter(F.col("vec_id") % 7 != 0)
    return semantic_contamination(train, bench, threshold=0.4,
                                  nlist=8, nprobe=8)


def q_ann_lsh(spark, sf_dir):
    """Approximate NN via sign-random-projection LSH buckets + exact
    re-rank.  Oracle since r2: the hyperplanes are deterministic
    (md5-seeded), so the oracle inlines them as literal arrays and
    reproduces bucket membership + exact-cosine top-k in DuckDB."""
    from gqlite_spark.operators.similarity import ann_topk
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return (ann_topk(emb, [float(x) for x in qvec], dim=len(qvec), k=10,
                     n_planes=4)
            .withColumnRenamed("id", "vec_id"))


def q_ann_pq(spark, sf_dir):
    """PQ ANN: deterministic sampling codebooks (ksub lowest-id vectors'
    sub-vectors), in-plan encoding, inlined ADC table lookup ranking +
    exact cosine re-rank.  DuckDB rebuilds the identical codebooks."""
    from gqlite_spark.operators.similarity import pq_codebooks, pq_topk
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    books = pq_codebooks(emb, m=4, ksub=16)
    return (pq_topk(emb, [float(x) for x in qvec], books, k=10,
                    candidates=50)
            .withColumnRenamed("id", "vec_id"))


def q_ann_pq_indexed(spark, sf_dir):
    """PQ ANN against a PERSISTED index (reference index persistence
    HNSW.cpp:282-328): save_pq_index writes the (id, codes) parquet +
    codebook sidecar, topk_indexed ADC-ranks the codes table only
    (no corpus vector math) and exact-cosine re-ranks the broadcast
    candidate ids.  Sampling codebooks (refine_iters=0) so DuckDB
    rebuilds the identical index; query vector = vec_id 1,
    candidates=100 to distinguish from the in-query sim_ann_pq."""
    import tempfile

    from gqlite_spark.operators.similarity import (load_index,
                                                   save_pq_index,
                                                   topk_indexed)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    path = tempfile.mkdtemp(prefix="gqlite_pqidx_")
    save_pq_index(emb, path, m=4, ksub=16, refine_iters=0)
    codes, params = load_index(spark, path, "pq")
    return (topk_indexed(emb, [float(x) for x in qvec], codes, params,
                         k=10, candidates=100)
            .withColumnRenamed("id", "vec_id"))


def q_ann_lsh_indexed(spark, sf_dir):
    """LSH ANN against a PERSISTED bucket index (HNSW.cpp:282-328
    persistence parity): save_ann_index writes the (table, bucket, id)
    parquet sorted for row-group pruning; topk_indexed prunes by the
    query's bucket keys, semi-joins the corpus, exact-cosine re-ranks —
    no projection recomputation over the corpus.  Query vec_id 2 to
    distinguish from in-query sim_ann_lsh."""
    import tempfile

    from gqlite_spark.operators.similarity import (load_index,
                                                   save_ann_index,
                                                   topk_indexed)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 2).select("embedding").collect()[0][0]
    path = tempfile.mkdtemp(prefix="gqlite_lshidx_")
    save_ann_index(emb, path, dim=len(qvec), n_planes=4, n_tables=2)
    index, params = load_index(spark, path, "lsh")
    return (topk_indexed(emb, [float(x) for x in qvec], index, params,
                         k=10)
            .withColumnRenamed("id", "vec_id"))


def q_ann_ivf_indexed(spark, sf_dir):
    """IVF ANN against a PERSISTED inverted file: save_ivf_index writes
    (id, list_id) partitioned by list_id (probes read only their
    partitions) + centroid sidecar; topk_indexed partition-prunes,
    semi-joins, exact-cosine re-ranks.  Sampling centroids
    (refine_iters=0) so DuckDB rebuilds the identical index; query
    vec_id 2."""
    import tempfile

    from gqlite_spark.operators.similarity import (load_index,
                                                   save_ivf_index,
                                                   topk_indexed)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 2).select("embedding").collect()[0][0]
    path = tempfile.mkdtemp(prefix="gqlite_ivfidx_")
    save_ivf_index(emb, path, nlist=16, refine_iters=0)
    index, params = load_index(spark, path, "ivf")
    return (topk_indexed(emb, [float(x) for x in qvec], index, params,
                         nprobe=4, k=10)
            .withColumnRenamed("id", "vec_id"))


def q_ann_ivfpq_indexed(spark, sf_dir):
    """IVF+PQ (IVFADC) ANN against a PERSISTED index: inverted lists
    partitioned by list_id whose rows hold PQ CODES, not vectors —
    the probed read is pruned (nprobe/nlist of the partitions) AND
    each read row is m ints instead of dim floats.  ADC ranks the
    pruned codes, the candidate ids exact-cosine re-rank against the
    corpus.  Sampling quantizers (refine_iters=0) so DuckDB rebuilds
    centroids, codebooks, assignments, codes, ADC sums, and the
    re-rank bit-for-bit.  Query vec_id 3; l2 coarse metric (the
    $near-routing form)."""
    import tempfile

    from gqlite_spark.operators.similarity import (load_index,
                                                   save_ivfpq_index,
                                                   topk_indexed)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").collect()[0][0]
    path = tempfile.mkdtemp(prefix="gqlite_ivfpqidx_")
    save_ivfpq_index(emb, path, nlist=16, m=4, ksub=16, refine_iters=0,
                     metric="l2")
    index, params = load_index(spark, path, "ivfpq")
    return (topk_indexed(emb, [float(x) for x in qvec], index, params,
                         nprobe=4, k=10, candidates=100)
            .withColumnRenamed("id", "vec_id"))


def q_knn_pq(spark, sf_dir):
    """Routed $near+limit served by a PERSISTED IVFPQ index (VERDICT r8
    missing #2 / next #3): only the codes-sized index is attached
    (attach_index — the 100 TB form, ~dim·4/m smaller than a
    full-vector index), so the router reads the query's nprobe
    inverted lists as (id, codes) rows, ranks them by ADC, and
    exact-re-ranks the top-`candidates` ids against the corpus via a
    broadcast id join (executor._apply_knn_routed).  Sampling quantizers
    (refine_iters=0) + pinned nlist/nprobe/candidates so the DuckDB
    oracle replays the WHOLE route bit-for-bit: centroids → codebooks
    → assignments → codes → ADC sums on the probed rows only → top-100
    candidates by (adc, vec_id) → exact squared-L2 top-k.  Both sides
    take the identical deterministic top-100 by (adc, vec_id), and the
    pure-kNN query always recovers ≥ k of them, so the bounded refill
    never fires.  Reference parity anchor: HNSW.cpp:86-165 (the
    reference's $near is equally approximate above its own threshold);
    the candidates default follows the measured candidates law
    (PLANS.md 'IVFPQ at 256d')."""
    import tempfile

    from gqlite_spark.operators.similarity import save_ivfpq_index
    db = _gql_db(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").collect()[0][0]
    vec_lit = ", ".join(repr(float(x)) for x in qvec)
    grp = db.catalog.graphs["tpch"].group("embeddings")
    idx = tempfile.mkdtemp(prefix="gqlite_knnpqidx_")
    save_ivfpq_index(emb, idx, nlist=16, m=4, ksub=16, refine_iters=0,
                     metric="l2")
    grp.attach_index("embedding", idx, "ivfpq")
    try:
        with conf.scoped(spark, {"spark.gqlite.knn.ann_threshold": "1",
                                 "spark.gqlite.knn.nprobe": "4",
                                 "spark.gqlite.knn.pq_candidates": "100"}):
            df = db.query_df(
                "{query: 'embeddings', in: 'tpch', where: {embedding:"
                " {limit: 10, $near: [" + vec_lit + "]}}};")
    finally:
        # shared cached engine: leave the group in its default state
        grp._vindex.pop("embedding", None)
    return df.select(F.col("id").alias("vec_id"), "label")


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: deterministic sampling coarse quantizer (nlist lowest-id
    vectors), max-inner-product list assignment as an inlined scalar
    expression (no shuffle), nprobe-list probe + exact cosine re-rank.
    Fully oracle-able: DuckDB rebuilds the identical inverted file."""
    from gqlite_spark.operators.similarity import ivf_centroids, ivf_topk
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cents = ivf_centroids(emb, nlist=16)
    return (ivf_topk(emb, [float(x) for x in qvec], cents, nprobe=4, k=10)
            .withColumnRenamed("id", "vec_id"))


# --------------------------------------------------------------------------
# Event windows (batch forms; streaming versions in gqlite_spark.streaming)
# --------------------------------------------------------------------------

def q_window_tumbling(spark, sf_dir):
    from gqlite_spark.operators.windows import epoch_seconds
    e = _load(spark, sf_dir, "events")
    es = epoch_seconds(e, "ts")
    win = (es - es % 3600).alias("window_start")
    return (e.groupBy(win, "event_type")
            .agg(F.count("*").alias("n_events"),
                 _cents(F.col("value")).alias("sum_value_cents"),
                 _avg_e4(F.col("value")).alias("avg_value_e4")))


def q_window_sliding(spark, sf_dir):
    from gqlite_spark.operators.windows import epoch_seconds
    e = _load(spark, sf_dir, "events")
    ev = e.withColumn("_es", epoch_seconds(e, "ts"))
    starts = F.array(*[(F.floor(F.col("_es") / 3600) - i) * 3600
                       for i in range(2)])
    return (ev.withColumn("window_start", F.explode(starts))
            .groupBy("window_start")
            .agg(F.count("*").alias("n_events"),
                 _cents(F.col("value")).alias("sum_value_cents")))


def q_window_session(spark, sf_dir):
    from gqlite_spark.operators.windows import sessionize
    return sessionize(_load(spark, sf_dir, "events"), gap_minutes=30)


def q_interval_join(spark, sf_dir):
    """Event-time interval join (purchase within 1h after a click by the
    same user) — batch twin of the stream-stream watermarked join."""
    from gqlite_spark.operators.windows import interval_join
    return interval_join(_load(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Inference (reference README §4.6 declared surface, 0 LoC in reference)
# --------------------------------------------------------------------------

def q_hmm_viterbi(spark, sf_dir):
    """Most-likely hidden path per user over their first 5 events
    (3-state HMM, fixed generic constants).  Sequence-parallel Viterbi via
    applyInPandas; the oracle enumerates all 3^5 paths with the same
    double literals, so logp_e4 matches bit-for-bit."""
    from gqlite_spark.operators.inference import events_hmm_spec, hmm_viterbi
    e = _load(spark, sf_dir, "events")
    return hmm_viterbi(e.select("user_id", "ts", "event_id", "event_type"),
                       events_hmm_spec(), max_len=5)


def q_hmm_forward(spark, sf_dir):
    """Observation-sequence log-likelihood per user (forward algorithm)."""
    from gqlite_spark.operators.inference import events_hmm_spec, hmm_forward
    e = _load(spark, sf_dir, "events")
    return hmm_forward(e.select("user_id", "ts", "event_id", "event_type"),
                       events_hmm_spec(), max_len=5)


def q_bayes_classify(spark, sf_dir):
    """Multinomial naive Bayes over document tokens predicting lang
    (resubstitution) — pure relational algebra, argmax label only."""
    from gqlite_spark.operators.inference import naive_bayes_predict
    return naive_bayes_predict(_load(spark, sf_dir, "documents"))


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: concat-then-chunk document placement
    into 10k-char sequences over 8 parallel packing streams (bucket =
    doc_id % 8 for SQL portability; production uses xxhash64 buckets).
    One window pass partitioned by bucket — parallelism = stream count."""
    from gqlite_spark.operators.sampling import pack_sequences
    d = _load(spark, sf_dir, "documents") \
        .withColumn("bucket", (F.col("doc_id") % 8).cast("long"))
    return pack_sequences(d, "n_chars", budget=10000, bucket_col="bucket")


def q_text_token_budget(spark, sf_dir):
    """BPE-ish regex token estimate + chars-per-token (packing profile).
    Built-in regexp_count — codegen, no UDF."""
    from gqlite_spark.operators.text import token_budget
    return token_budget(_load(spark, sf_dir, "documents"))


def q_text_winnow_fp(spark, sf_dir):
    """Winnowing fingerprints (rolling-hash minima): k=8 char shingles,
    w=4 windows over docs < 200.  Pure array expressions per row."""
    from gqlite_spark.operators.text import winnow_fingerprints
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return winnow_fingerprints(d, k=8, w=4, hash_fn="md5")


def q_asof_attribution(spark, sf_dir):
    """As-of join (point-in-time lookup): for each click event, the most
    recent prior-or-same-time view by the same user.  Union+ordered-window
    algorithm — one keyed shuffle, no range join (operators/temporal.py).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from gqlite_spark.operators.temporal import asof_join, epoch_micros
    e = _load(spark, sf_dir, "events")
    # events.ts is parquet TIMESTAMP(MICROS) → Spark TIMESTAMP_NTZ; join on
    # epoch microseconds (bigint) so the as-of window orders on a long and
    # the output matches DuckDB's epoch_us() exactly
    us = epoch_micros(e, "ts")
    clicks = e.filter(F.col("event_type") == "click") \
              .select("event_id", "user_id", us.alias("ts"))
    views = e.filter(F.col("event_type") == "view") \
             .select("user_id", us.alias("ts"),
                     F.col("event_id").alias("view_id"))
    j = asof_join(clicks, views, on="ts", by="user_id",
                  right_cols=["view_id"])
    return j.select("event_id", "user_id",
                    F.col("ts").alias("click_ts_us"), "view_id",
                    F.col("_match_time").alias("view_ts_us"))


# --------------------------------------------------------------------------
# Sampling / quantiles / decontamination (training-pipeline operators)
# --------------------------------------------------------------------------

def q_event_funnel(spark, sf_dir):
    """Ordered view→click→purchase conversion funnel (first-touch,
    strictly step-ordered per user); per-step reach counts."""
    from gqlite_spark.operators.temporal import funnel
    e = _load(spark, sf_dir, "events")
    return funnel(e, ["view", "click", "purchase"])


def q_event_cohort_retention(spark, sf_dir):
    """Daily cohort retention matrix over the events stream — all-integer
    bucket arithmetic (epoch-day cohorts, offset in days)."""
    from gqlite_spark.operators.temporal import cohort_retention
    e = _load(spark, sf_dir, "events")
    return cohort_retention(e)


def q_sample_mixture(spark, sf_dir):
    """Mixture sampling to a target language recipe (en 30 / zh 20 /
    es 20 / de 15 / fr 15): largest no-upsampling total, md5-prefix
    membership, rates computed in-plan."""
    from gqlite_spark.operators.sampling import mixture_sample
    d = _load(spark, sf_dir, "documents")
    out = mixture_sample(d, "lang",
                         {"en": 0.30, "zh": 0.20, "es": 0.20,
                          "de": 0.15, "fr": 0.15})
    return out.select("doc_id", "lang", "source")


def q_sample_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: md5(salt||id) sort
    key + range-partitioned total order (operators/sampling.py
    shuffle_rows).  Checked via the first 100 rows of the order — a
    TakeOrderedAndProject, not a full materialized sort — which pins the
    exact key values AND the orderings cross-engine."""
    from gqlite_spark.operators.sampling import shuffle_rows
    d = _load(spark, sf_dir, "documents")
    return (shuffle_rows(d.select("doc_id"), id_col="doc_id")
            .limit(100))


def q_training_shards(spark, sf_dir):
    """Deterministic epoch-shard export round trip (VERDICT r6 next #2):
    write_training_shards lays documents out as md5-assigned shards
    (shard = first-4-hex-digits(md5(salt||id)) mod n, within-shard sort
    by the full key, one file per shard, NO global range exchange), then
    the written export is read back and audited per shard.  Both the
    assignment and the min/max keys are pure md5 functions of (salt,
    id), so the DuckDB oracle replays (shard, n_rows, min_key, max_key)
    exactly from the source table — proving the write→read round trip
    end to end."""
    import tempfile

    from gqlite_spark.operators.sampling import write_training_shards
    docs = _load(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="gqlite_shards_")
    write_training_shards(docs, path, n_shards=16, id_col="doc_id",
                          salt="ep1")
    return (spark.read.parquet(path)
            .groupBy(F.col("_shard").cast("long").alias("shard"))
            .agg(F.count("*").alias("n_rows"),
                 F.min("shuffle_key").alias("min_key"),
                 F.max("shuffle_key").alias("max_key")))


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-language sampling (md5-prefix membership): keep
    50% of en, 25% of zh, 12.5% of everything else.  Pure Column predicate
    — one scan, no shuffle, reproducible on any engine with md5."""
    from gqlite_spark.operators.sampling import stratified_sample
    d = _load(spark, sf_dir, "documents")
    out = stratified_sample(d, "lang", {"en": 0.5, "zh": 0.25},
                            id_col="doc_id", default_rate=0.125)
    return out.select("doc_id", "lang", "n_chars")


def q_sample_cluster(spark, sf_dir):
    """Embedding-cluster-balanced sampling: partition the vector space
    with the deterministic sampling-quantizer centroids (nlist lowest
    vec_ids, min-L2 assignment — the same quantizer the IVF index
    uses), keep the 5 md5-smallest rows per cluster.  Assignment is a
    zero-shuffle scalar expression; the cut is one shuffle on
    cluster_id; output is nlist x 5 rows regardless of corpus size —
    the anti-skew topic-balancing primitive for corpus curation."""
    from gqlite_spark.operators.sampling import cluster_sample
    from gqlite_spark.operators.similarity import ivf_centroids
    emb = _load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, nlist=8)
    out = cluster_sample(emb, cents, per_cluster=5, metric="l2")
    return out.select("vec_id", "label", "cluster_id")


def q_doc_length_percentiles(spark, sf_dir):
    """Exact per-language p50/p90/p99 of document length via the value-
    histogram algorithm (shuffle O(distinct lengths), never a per-stratum
    row sort) — integer-exact percentile_disc semantics."""
    from gqlite_spark.operators.sampling import length_percentiles
    d = _load(spark, sf_dir, "documents")
    return length_percentiles(d, "lang", "n_chars", (0.5, 0.9, 0.99))


def q_decontaminate(spark, sf_dir):
    """Train-test decontamination: flag training docs sharing any word
    8-gram with the benchmark subset (doc_id % 7 == 0).  Benchmark shingles
    broadcast; corpus side streams; one shuffle (per-doc aggregate)."""
    from gqlite_spark.operators.sampling import benchmark_contamination
    d = _load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 7 == 0)
    train = d.filter(F.col("doc_id") % 7 != 0)
    return benchmark_contamination(train, bench, n=8)


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation as ONE declarative plan: exact dedup (keep
    the min-id representative per content hash) → quality gate (score ≥
    0.5) → 8-gram benchmark decontamination → per-language corpus
    report.  The point is COMPOSABILITY without materialization: the
    per-doc metrics (token count, quality, language) are Column
    expressions projected in the SAME scan (text.quality_exprs /
    langid_exprs), so the whole pipeline is three shuffles — the dedup
    window, the contamination per-doc aggregate, and the final 4-row
    rollup — no intermediate writes, and Catalyst prunes/pushes across
    all stages.  This is the operators' intended composition at 100 TB
    (each stage alone is oracle-proven by its own entry; this entry
    proves the CHAIN).  Quality sum reported as e4-scaled integers so
    the cross-engine aggregate is order-independent."""
    from gqlite_spark.operators.sampling import curate_corpus
    d = _load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 7 == 0)
    train = d.filter(F.col("doc_id") % 7 != 0)
    return curate_corpus(train, bench, quality_min=0.5, ngram=8)


# --------------------------------------------------------------------------
# Multimodal plumbing (binary columns + Arrow-batched pandas processing)
# --------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Real image decode, end-to-end: synthesize a REAL image blob per
    document (format cycling png/gif/bmp/jpeg, dims derived from doc
    fields, multi-frame APNG/GIF), then parse the binary headers back
    with the stdlib-only decoder (no PIL needed — VERDICT r4 #2).  The
    oracle predicts the decoded metadata from the same arithmetic, so the
    encode→parse round trip over real bytes is what's being checked."""
    from gqlite_spark.operators.multimodal import (decode_image_headers,
                                                   extract_meta,
                                                   synth_image_payloads)
    d = _load(spark, sf_dir, "documents")
    return extract_meta(synth_image_payloads(d),
                        decoder=decode_image_headers)


def q_multimodal_av_meta(spark, sf_dir):
    """Real audio/video container decode, end-to-end: synthesize a REAL
    WAV (RIFF/WAVE PCM) or MP4 (ISO BMFF ftyp+moov) blob per document —
    alternating by doc_id — then parse the container headers back with
    the stdlib-only decoder (chunk/box walk, no media libraries).  The
    oracle predicts duration/rate/channels/dims from the same integer
    arithmetic, so the encode→parse round trip over real container bytes
    is what's being checked.  See gqlite_spark/operators/multimodal.py
    (synth_media / decode_media_headers)."""
    from gqlite_spark.operators.multimodal import (extract_av_meta,
                                                   synth_media_payloads)
    d = _load(spark, sf_dir, "documents")
    return extract_av_meta(synth_media_payloads(d))


def q_multimodal_bytes(spark, sf_dir):
    """Opaque-binary column processing via mapInPandas: encode text as a
    binary payload column, then batch-process (size + digest).  Real image
    decode runs in q_multimodal_meta (stdlib header parser over real
    bytes); this entry covers the generic blob-stats plumbing.  See
    gqlite_spark/operators/multimodal.py."""
    from gqlite_spark.operators.multimodal import payload_stats, to_payload
    d = _load(spark, sf_dir, "documents")
    return payload_stats(to_payload(d))


def q_multimodal_resize(spark, sf_dir):
    """Fit-longest-side image resize over REAL synthesized image blobs
    (multimodal.resize_images): header decode + integer fit math +
    format-preserving re-synthesis, Arrow-batched.  The oracle predicts
    the decode→fit round trip: orig dims from the synth formulas, out
    dims = fit-into-32 floor math."""
    from gqlite_spark.operators.multimodal import (resize_images,
                                                   synth_image_payloads)
    d = _load(spark, sf_dir, "documents")
    out = resize_images(synth_image_payloads(d), max_side=32)
    return out.select("doc_id", "media_type", "orig_width", "orig_height",
                      "width", "height")


def q_multimodal_frames(spark, sf_dir):
    """Evenly-spaced frame sampling over multi-frame image blobs
    (multimodal.sample_frames): REAL header frame counts (APNG acTL /
    GIF descriptor walk), 1→k fan-out, deterministic md5 frame refs.
    The oracle rebuilds frames-per-format, the j*frames//k spacing and
    the md5 placeholder."""
    from gqlite_spark.operators.multimodal import (sample_frames,
                                                   synth_image_payloads)
    d = _load(spark, sf_dir, "documents")
    return sample_frames(synth_image_payloads(d), n=3)


def q_multimodal_features(spark, sf_dir):
    """Byte-histogram feature extraction (multimodal.extract_features —
    REAL numpy bincount per blob, no image lib): 16 exact integer bin
    counts per payload, stringified for drift-free compare.  The corpus
    text is ASCII at every SF (verified), so the oracle reproduces the
    byte histogram with per-char ord() binning."""
    from gqlite_spark.operators.multimodal import (extract_features,
                                                   to_payload)
    d = _load(spark, sf_dir, "documents")
    out = extract_features(to_payload(d), n_bins=16)
    return out.select(
        "doc_id", "n_bytes",
        F.concat_ws(",", F.col("features").cast("array<string>"))
        .alias("features"))


def q_rollup_incremental(spark, sf_dir):
    """Incremental time-bucket rollup lifecycle, end-to-end: build the
    rollup from 2/3 of events, `append_rollup` the remaining 1/3 (the
    mergeable-partials fold that rewrites only touched buckets under the
    crash-safe rewrite-then-swap), then read the stored table.  The
    DuckDB oracle is the plain one-shot GROUP BY over ALL events —
    mergeability means incremental == one-shot exactly; integer-cent
    sums make the equality bit-exact cross-engine.  Reference anchor:
    the reference re-scans storage per aggregate query
    (ScanPlan.cpp full-group walk); this is the maintain-don't-rescan
    form that survives 100 TB of history."""
    import tempfile
    from gqlite_spark.operators.rollup import append_rollup, save_rollup
    ev = (_load(spark, sf_dir, "events")
          .withColumn("v_cents",
                      F.floor(F.col("value") * 100 + F.lit(0.5))
                      .cast("long")))
    p = "file:" + tempfile.mkdtemp(prefix="gqlite_r9ru_") + "/rollup"
    save_rollup(ev.filter(F.col("event_id") % 3 != 0), p, "ts", 3600,
                dims=["event_type"], metrics={"v_cents": ["sum", "max"]})
    append_rollup(ev.filter(F.col("event_id") % 3 == 0), p)
    return (spark.read.parquet(p)
            .select("bucket_start", "event_type", "n",
                    F.col("sum_v_cents").alias("sum_cents"),
                    F.col("max_v_cents").alias("max_cents")))


def q_distinct_kmv(spark, sf_dir):
    """Per-event-type KMV distinct-user ESTIMATE (k=64 of the md5-60bit
    hash family).  The oracle replays the estimator itself — min-k
    hashes then (k-1)*2^60/h_k floor-half-up — so the estimate VALUES
    must match, not just the input rows.  The sketch rows are mergeable
    (same lattice the rollup kmv metric rides), which is what lets a
    100 TB scan keep per-partition partials instead of a global
    distinct shuffle."""
    from gqlite_spark.operators.stats import kmv_estimate, kmv_sketch
    ev = _load(spark, sf_dir, "events")
    return kmv_estimate(
        kmv_sketch(ev, "user_id", k=64, by=["event_type"]),
        k=64, by=["event_type"])


def q_layout_attach_scan(spark, sf_dir):
    """Layout-attach machinery oracled end-to-end (promoted from the
    r9 rehearsal, tests/test_r10_oracle_candidates.py): export lineitem
    range-clustered on l_quantity, ATTACH the copy into the GQL query
    path ({layout ... attach: true}), then run a GQL range query — the
    oracle is the plain predicate SQL, so parity proves the attached
    copy is faithful AND the routed (footer-stats-skipping) scan
    returns exactly the group's rows.  Reference anchor: the mdbx
    key-ordered table IS the reference's only scan path
    (StorageEngine.cpp:552-564)."""
    import tempfile
    from gqlite_spark import GQLite
    db = GQLite(spark)
    g = db.catalog.create_graph("r10lay")
    grp = g.create_group("lineitem")
    grp.register_df(
        _load(spark, sf_dir, "lineitem")
        .withColumn("_rid", F.monotonically_increasing_id())
        .select(F.col("_rid").alias("lid"), "l_orderkey", "l_quantity",
                "l_extendedprice"),
        key_col="lid")
    p = tempfile.mkdtemp(prefix="gqlite_r10la_") + "/lay"
    r = db.exec("{layout: 'lineitem', in: 'r10lay', path: '" + p +
                "', by: 'l_quantity', files: 8, attach: true};")[0]
    assert r.error is None, r.error
    return (db.query_df("{query: 'lineitem', in: 'r10lay',"
                        " where: {l_quantity: {$gt: 45}}};")
            .groupBy("l_quantity")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("price_cents")))


def q_rollup_coarsen(spark, sf_dir):
    """Rollup coarsen cascade oracled end-to-end (promoted from the r9
    rehearsal): hourly rollup of events → coarsen_rollup to daily →
    read; the oracle is the daily GROUP BY over the raw events —
    coarsening is EXACT for mergeable metrics, so hour→day never
    rescans history (the hypertable cascade shape at 100 TB)."""
    import tempfile
    from gqlite_spark.operators.rollup import (coarsen_rollup,
                                               read_rollup, save_rollup)
    ev = (_load(spark, sf_dir, "events")
          .withColumn("v_cents",
                      F.floor(F.col("value") * 100 + F.lit(0.5))
                      .cast("long")))
    root = tempfile.mkdtemp(prefix="gqlite_r10rc_")
    ph, pd_ = f"file:{root}/hr", f"file:{root}/dy"
    save_rollup(ev, ph, "ts", 3600, dims=["event_type"],
                metrics={"v_cents": ["sum", "min", "max"]})
    coarsen_rollup(spark, ph, pd_, 86400)
    return (read_rollup(spark, pd_)
            .select("bucket_start", "event_type", "n",
                    F.col("sum_v_cents").alias("sum_cents"),
                    F.col("min_v_cents").alias("min_cents"),
                    F.col("max_v_cents").alias("max_cents")))


_CMS_D, _CMS_W = 4, 1024
_CMS_KEYS = [1, 2, 3, 42, 999999]


def q_topcount_cms(spark, sf_dir):
    """Count-min estimates oracled value-for-value (promoted from the
    r9 rehearsal): per-event-type estimates of five fixed user_ids
    (d=4, w=1024) — the DuckDB oracle rebuilds the WHOLE sketch in SQL
    (md5-60bit row hashes mod w, counter sums, min over rows, 0 where
    absent), so the estimate VALUES must match, not just the inputs.
    The third mergeable sketch (beside kmv/hist); the same estimator
    serves stored rollups via GQL {topcount:}
    (executor._topcount / operators/rollup.py::rollup_keycounts)."""
    from gqlite_spark.operators.stats import cms_query, cms_sketch
    ev = _load(spark, sf_dir, "events")
    keys = spark.createDataFrame([(k,) for k in _CMS_KEYS], "key long")
    # groups from the pre-sketch scan: enumerating them via the sketch
    # re-runs the 4-hash explode subtree a second time (plan-verified)
    return cms_query(
        cms_sketch(ev, "user_id", _CMS_D, _CMS_W, by=["event_type"]),
        keys, _CMS_D, _CMS_W, by=["event_type"],
        groups=ev.filter(F.col("user_id").isNotNull())
                 .select("event_type"))


def q_layout_fold_scan(spark, sf_dir):
    """Bucketed-layout FOLD lifecycle oracled end-to-end (promoted from
    the r10 rehearsal, tests/test_r11_oracle_candidates.py): export
    orders hash-bucketed on id, ATTACH it, upsert 3 NEW rows + 1 UPDATE
    of an existing row, fold the overlay into the layout with
    {layout ... compact: true} (new ids route into their buckets and
    APPEND incrementally; the update stays an overlay-local LWW win),
    then run a selective GQL id query spanning base + folded + updated
    rows — served from the attached copy with bucket pruning live
    (plan-asserted in the rehearsal test).  The oracle is the same
    relation in pure SQL (base minus the updated id, UNION ALL the
    literal upserts), so parity proves the maintain-don't-re-export
    fold is value-faithful — what keeps pruning alive across ingest at
    100 TB.  Reference anchor: the reference maintains its key-ordered
    mdbx layout per-write (StorageEngine.cpp:729-841); this is that
    lifecycle on an attached bucketed parquet layout."""
    import tempfile
    from gqlite_spark import GQLite
    db = GQLite(spark)
    g = db.catalog.create_graph("r11fold")
    grp = g.create_group("orders")
    grp.register_df(
        _load(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("id"), "o_custkey",
                "o_totalprice"),
        key_col="id")
    p = tempfile.mkdtemp(prefix="gqlite_r11fo_") + "/fold"
    r = db.exec("{layout: 'orders', in: 'r11fold', path: '" + p +
                "', bucket_by: 'id', buckets: 8, attach: true};")[0]
    assert r.error is None, r.error
    for q in db.exec(
            "{upset: 'orders', in: 'r11fold', vertex: ["
            " [90000001, {o_custkey: 7, o_totalprice: 111.25}],"
            " [90000002, {o_custkey: 8, o_totalprice: 222.5}],"
            " [90000003, {o_custkey: 7, o_totalprice: 333.75}],"
            " [1, {o_custkey: 9999, o_totalprice: 1.5}]]};"):
        assert q.error is None, q.error
    r = db.exec("{layout: 'orders', in: 'r11fold', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None, r.error
    # computed while the attach's bucketed-scan pin holds, then detached:
    # a lazy frame would be planned after this engine is dropped, and
    # the pin released whenever the GC ran
    out = db.query_df(
        "{query: 'orders', in: 'r11fold', where:"
        " {id: [1, 3, 90000001, 90000002, 90000003]}};").localCheckpoint()
    db.catalog.graphs["r11fold"].group("orders")._detach_layout()
    return out


def q_bucketed_ingest_scan(spark, sf_dir):
    """Bucketed INGEST lifecycle oracled end-to-end (promoted from the
    r10 rehearsal): save 2/3 of lineitem hash-bucketed on l_orderkey,
    `append_bucketed` the remaining 1/3 (hash-routed insertInto — one
    narrow shuffle of the BATCH only; pruning and exchange-free joins
    survive the append), `rebucket` back to one file per bucket (the
    swap-atomic re-export), then aggregate.  The oracle is the plain
    GROUP BY over ALL of lineitem, so parity proves nothing is lost,
    doubled, or misrouted across the append and the swap — the 100 TB
    ingest shape where a firehose lands in the layout without ever
    re-exporting the table."""
    import tempfile
    from gqlite_spark.sources import bucketed as B
    li = (_load(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"))
    root = tempfile.mkdtemp(prefix="gqlite_r11in_")
    p = root + "/ing"
    tbl = "t_ing_" + root.rsplit("_", 1)[-1]
    B.save_bucketed(li.filter(F.col("l_orderkey") % 3 != 0), p,
                    key="l_orderkey", n_buckets=8, table=tbl)
    B.append_bucketed(li.filter(F.col("l_orderkey") % 3 == 0), p)
    B.rebucket(spark, p)
    return (spark.table(tbl)
            .groupBy("l_quantity")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("price_cents")))


def q_stream_ingest_scan(spark, sf_dir):
    """STREAMING bucketed-ingest lifecycle oracled end-to-end (promoted
    from the r11 rehearsal, tests/test_r12_oracle_candidates.py): save
    2/3 of lineitem hash-bucketed on l_orderkey, STREAM the remaining
    1/3 in as micro-batches (`stream_append_bucketed`: checkpointed
    foreachBatch -> epoch-guarded `append_bucketed`, each batch one
    narrow hash-routed shuffle of the batch only), then aggregate.  The
    oracle is the plain GROUP BY over ALL of lineitem, so parity proves
    the continuous-ingest path is exactly-once end-to-end — nothing
    lost, doubled, or misrouted across micro-batches.  The 100 TB shape:
    a firehose lands in the pruned layout without re-exporting the
    table, and a replayed batch is repaired or skipped, never
    double-appended."""
    import tempfile
    from gqlite_spark.sources import bucketed as B
    from gqlite_spark.streaming.events import (stream_append_bucketed,
                                               stream_from_directory)
    li = (_load(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"))
    root = tempfile.mkdtemp(prefix="gqlite_r12si_")
    p = root + "/sing"
    tbl = "t_sing_" + root.rsplit("_", 1)[-1]
    B.save_bucketed(li.filter(F.col("l_orderkey") % 3 != 0), p,
                    key="l_orderkey", n_buckets=8, table=tbl)
    src = root + "/src"
    (li.filter(F.col("l_orderkey") % 3 == 0)
     .repartition(4)                      # several source files ->
     .write.parquet(src))                 # several micro-batches
    schema = ("l_orderkey bigint, l_quantity double,"
              " l_extendedprice double")
    q = stream_append_bucketed(
        stream_from_directory(spark, src, schema=schema, fmt="parquet"),
        p, checkpoint=root + "/ckpt")
    # fail loudly on a stalled stream (ADVICE r12 #2): silently
    # aggregating a partially-ingested table would surface as a
    # confusing value mismatch, with the query still appending behind
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "stream_ingest_scan: stream did not drain within 300s")
    return (spark.table(tbl)
            .groupBy("l_quantity")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("price_cents")))


def q_stream_clustered_scan(spark, sf_dir):
    """STREAMING clustered-ingest lifecycle oracled end-to-end (promoted
    from the r11 rehearsal): save 2/3 of lineitem range-clustered on
    l_quantity, STREAM the remaining 1/3 in as sorted micro-batches
    (`stream_append_clustered`: checkpointed -> epoch-guarded
    `append_clustered`, each batch sorted by the STORED spec so old and
    new rows bin identically), `recluster` back to the write-time
    layout (the swap-atomic rewrite), then run a selective range
    aggregate.  The oracle is the predicate GROUP BY over ALL of
    lineitem, so parity proves the clustered continuous-ingest path is
    exactly-once and the rewrite loses nothing — footer-stats skipping
    stays live over rows that arrived seconds ago."""
    import tempfile
    from gqlite_spark.sources import clustered as C
    from gqlite_spark.streaming.events import (stream_append_clustered,
                                               stream_from_directory)
    li = (_load(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"))
    root = tempfile.mkdtemp(prefix="gqlite_r12sc_")
    p = root + "/scl"
    C.save_clustered(li.filter(F.col("l_orderkey") % 3 != 0), p,
                     ["l_quantity"], n_files=8)
    src = root + "/src"
    (li.filter(F.col("l_orderkey") % 3 == 0)
     .repartition(4).write.parquet(src))
    schema = ("l_orderkey bigint, l_quantity double,"
              " l_extendedprice double")
    q = stream_append_clustered(
        stream_from_directory(spark, src, schema=schema), p,
        checkpoint=root + "/ckpt")
    # fail loudly on a stalled stream (ADVICE r12 #2)
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "stream_clustered_scan: stream did not drain within 300s")
    C.recluster(spark, p)
    return (spark.read.parquet(p)
            .where(F.col("l_quantity") > 45)
            .groupBy("l_quantity")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("price_cents")))


def q_rollup_quantiles_read(spark, sf_dir):
    """The `{quantiles:}` GQL read surface oracled value-for-value
    (promoted from the r11 rehearsal): build an hourly rollup of events
    with a hist metric on value ((0, 512, 64) binning), then serve
    per-(bucket, event_type) p50/p99 through `{quantiles: path, on:
    'value', qs: [...]}` — the DuckDB oracle replays the ESTIMATOR
    itself (width_bucket binning, cumulative walk to the first bin
    covering rank q*total, linear interpolation inside it), so the
    estimate VALUES must match bit-for-bit, not just the sketch inputs.
    Probe cost is buckets x dims rows, never event-sized — the
    histogram sketch's 100 TB read path."""
    import tempfile
    from gqlite_spark import GQLite
    from gqlite_spark.operators.rollup import save_rollup
    ev = _load(spark, sf_dir, "events")
    p = tempfile.mkdtemp(prefix="gqlite_r12qr_") + "/qru"
    save_rollup(ev, p, "ts", 3600, dims=["event_type"],
                metrics={"value": ["hist"]},
                hist_params={"value": (0.0, 512.0, 64)})
    db = GQLite(spark)
    return db.query_df("{quantiles: '" + p +
                       "', on: 'value', qs: [0.5, 0.99]};")


def q_dedup_keep_best(spark, sf_dir):
    """Quality survivor selection per near-dup cluster (promoted from
    the r11 rehearsal): LSH pairs -> connected components, then each
    cluster keeps its LONGEST member (tie -> min doc_id) instead of the
    arbitrary min-id canonical — what a training-data purge actually
    wants.  The oracle replays the whole chain (exact-Jaccard pair
    closure via recursive CTE, then argmax-by-length via row_number),
    so cluster membership AND the survivor choice are value-checked.
    The argmax window runs over the pair-graph-sized cluster
    membership only, never the corpus."""
    from gqlite_spark.operators.dedup import (keep_best_per_cluster,
                                              near_dup_clusters)
    d = _load(spark, sf_dir, "documents")
    clusters = near_dup_clusters(d)
    scores = d.select("doc_id",
                      F.length("text").cast("long").alias("score"))
    return keep_best_per_cluster(clusters, scores)


def q_curation_keep_best(spark, sf_dir):
    """The one-plan curation pipeline with the purge step driven by
    NEAR-dup quality survivor selection, END-TO-END through the GQL
    `{curate: method: 'clusters'}` statement (promoted from the r12
    rehearsal, tests/test_r13_oracle_candidates.py): LSH pairs over
    the train split -> connected components -> keep each cluster's
    longest member (tie -> min id) -> quality gate -> 8-gram benchmark
    decontamination -> per-language report.  The oracle replays the
    WHOLE chain (recursive-CTE pair closure + argmax survivor pick
    spliced into the proven curation_pipeline fragments), so the
    parse -> validate -> lower -> survivor-purge -> report path is
    value-checked end to end.  The survivor argmax windows over the
    pair-graph-sized cluster membership only, never the corpus —
    the keep-best purge at 100 TB costs what the near-dup join costs,
    nothing more (probed at 1M docs, PLANS.md)."""
    from gqlite_spark import GQLite
    d = _load(spark, sf_dir, "documents")
    db = GQLite(spark)
    g = db.catalog.create_graph("r13kbe")
    g.create_group("docs").register_df(
        d.filter(F.col("doc_id") % 7 != 0), key_col="doc_id")
    g.create_group("bench").register_df(
        d.filter(F.col("doc_id") % 7 == 0), key_col="doc_id")
    return db.query_df(
        "{curate: 'docs', in: 'r13kbe', benchmark: 'bench',"
        " quality_min: 0.5, ngram: 8, method: 'clusters'};")


def q_curation_best_by(spark, sf_dir):
    """The one-plan curation pipeline with the EXACT-hash purge keeping
    the best member per duplicate group (max n_tokens, tie -> min id)
    instead of the min-id canonical, END-TO-END through the GQL
    `{curate: best_by:}` statement (promoted from the r12 rehearsal).
    Same window as `curation_pipeline`, different ordering — identical
    cost profile; the oracle is curation_pipeline's proven SQL with
    the dedup CTE's ordering swapped to the argmax form, so the
    best_by parse/lower path and the argmax semantics are what the
    gate value-checks."""
    from gqlite_spark import GQLite
    d = _load(spark, sf_dir, "documents")
    db = GQLite(spark)
    g = db.catalog.create_graph("r13bbe")
    g.create_group("docs").register_df(
        d.filter(F.col("doc_id") % 7 != 0), key_col="doc_id")
    g.create_group("bench").register_df(
        d.filter(F.col("doc_id") % 7 == 0), key_col="doc_id")
    return db.query_df(
        "{curate: 'docs', in: 'r13bbe', benchmark: 'bench',"
        " quality_min: 0.5, ngram: 8, best_by: 'n_tokens'};")


def q_stream_upsert_scan(spark, sf_dir):
    """The streaming -> graph LWW ingestion lifecycle oracled end-to-end
    (promoted from the r13 rehearsal, tests/test_r14_oracle_candidates.py)
    — the last exactly-once streaming twin without its own gate row.
    Events stream into a vertex group as checkpointed micro-batches
    (`stream_upsert_vertices`, version_col='event_id' — a unique
    monotonic sequence), so the version-aware merge must leave exactly
    the GLOBAL max-version row per user regardless of how rows fall into
    micro-batches; the oracle is the plain argmax window over the raw
    table.  Parity proves the cross-batch re-reduce (old state UNION new
    batch -> max-version per key) is value-faithful — the continuous
    `upset` contract (reference intent: UpsetPlan.cpp:88-127) under
    streaming delivery.  100 TB shape: per-batch work is batch-sized
    (re-reduce against the keyed state, no full-corpus rescans), and an
    out-of-order or replayed batch can never regress a newer write."""
    import tempfile
    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_vertices
    ev = (_load(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", "event_id", "event_type",
                  F.round(F.col("value") * 100).cast("long")
                  .alias("value_cents")))
    root = tempfile.mkdtemp(prefix="gqlite_r14su_")
    src = root + "/src"
    ev.repartition(4).write.parquet(src)       # several micro-batches
    g = Graph(spark, "gsu_" + root.rsplit("_", 1)[-1]).create_group("user")
    stream = (spark.readStream.format("parquet")
              .schema("user_id bigint, event_id bigint,"
                      " event_type string, value_cents bigint")
              .option("maxFilesPerTrigger", 1).load(src))
    q = stream_upsert_vertices(stream, g, checkpoint=root + "/ckpt",
                               key_col="user_id", version_col="event_id")
    # fail loudly on a stalled stream (ADVICE r12 #2)
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "stream_upsert_scan: stream did not drain within 300s")
    return g.to_df().select(F.col("id").alias("user_id"), "event_id",
                            "event_type", "value_cents")


def q_stream_rollup_scan(spark, sf_dir):
    """The exactly-once ROLLUP streaming twin oracled end-to-end
    (promoted from the r13 rehearsal): build the hourly rollup from 2/3
    of events, STREAM the remaining 1/3 in as checkpointed micro-batches
    (`stream_rollup`: foreachBatch -> epoch-guarded `append_rollup`,
    only touched buckets rewritten under the crash-safe swap), read the
    stored table.  The oracle is rollup_incremental's proven SQL (the
    one-shot hourly GROUP BY over ALL events) — mergeability means
    streamed == one-shot exactly, and the epoch fence means a replayed
    batch never double-counts.  With this and stream_upsert_scan in the
    contract, EVERY exactly-once streaming twin (bucketed, clustered,
    rollup, graph-upsert) carries a driver oracle."""
    import tempfile
    from gqlite_spark.operators.rollup import read_rollup, save_rollup
    from gqlite_spark.streaming.events import (stream_from_directory,
                                               stream_rollup)
    ev = (_load(spark, sf_dir, "events")
          .withColumn("v_cents",
                      F.floor(F.col("value") * 100 + F.lit(0.5))
                      .cast("long")))
    root = tempfile.mkdtemp(prefix="gqlite_r14sr_")
    p = "file:" + root + "/sroll"
    save_rollup(ev.filter(F.col("event_id") % 3 != 0), p, "ts", 3600,
                dims=["event_type"], metrics={"v_cents": ["sum", "max"]})
    src = root + "/src"
    (ev.filter(F.col("event_id") % 3 == 0)
     .select("ts", "event_type", "v_cents")
     .repartition(4).write.parquet(src))       # several micro-batches
    q = stream_rollup(
        stream_from_directory(
            spark, src,
            schema="ts timestamp, event_type string, v_cents bigint"),
        p, checkpoint=root + "/ckpt")
    # fail loudly on a stalled stream (ADVICE r12 #2)
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "stream_rollup_scan: stream did not drain within 300s")
    return (read_rollup(spark, p)
            .select("bucket_start", "event_type", "n",
                    F.col("sum_v_cents").alias("sum_cents"),
                    F.col("max_v_cents").alias("max_cents")))


def q_gql_similar_topk(spark, sf_dir):
    """Top-k vector search END-TO-END through the GQL `{similar:}`
    statement (promoted from the r13 rehearsal) — the statement route's
    first gate row, mirroring what r13's curation promotions did for
    `{curate:}`: parse -> validate -> lower onto
    operators/similarity.cosine_topk, against the PROVEN sim_cosine_topk
    oracle.  The query vector is embeddings.vec_id=0 formatted as a GQL
    float-list literal (repr round-trips float64 exactly, so the scores
    are bit-identical to the library path the oracle already covers)."""
    import tempfile
    from gqlite_spark import GQLite
    emb = _load(spark, sf_dir, "embeddings")
    db = GQLite(spark)
    gname = "gsim_" + tempfile.mkdtemp(
        prefix="gqlite_r14gs_").rsplit("_", 1)[-1]
    g = db.catalog.create_graph(gname)
    g.create_group("vecs").register_df(emb, key_col="vec_id")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0]]
    lit = "[" + ", ".join(repr(x) for x in qvec) + "]"
    return (db.query_df("{similar: 'vecs', in: '" + gname + "', to: " +
                        lit + ", top: 10, method: 'brute'};")
            .withColumnRenamed("id", "vec_id"))


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, SF_SMALL)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION POLICY (the standing invariant, VERDICT r9 next #2 —
    # future rounds follow this, not a per-round ad-hoc pick): the
    # driver's correctness gate checks the FIRST 50 entries in dict
    # order, and the contract now has 117 entries, so ≤1-round
    # staleness is arithmetically impossible.  The rule, in priority
    # order, is:
    #   (1) RED rows and entries NEW this round always jump the queue
    #       (a red row must re-enter until green; a new entry earns its
    #       first driver row immediately);
    #   (2) remaining slots go to entries by STALENESS, oldest driver
    #       row first — so every entry cycles through the window at
    #       least every ceil(117/50) = 3 rounds, and in practice every
    #       2 (the deferred remainder is small);
    #   (3) when a staleness tier must be split, defer entries whose
    #       FAMILY stays redundantly covered in-window and that are
    #       additionally pinned by unit/golden tests; NAME them here so
    #       the next round puts them first.
    # Every entry (in-window or not) is additionally verified each
    # round by `python tools/oracle_check.py --json
    # CORRECTNESS_FULL.json /root/testdata/sf0.01` (and the sf0.1
    # stress run → CORRECTNESS_SF01.json) plus pytest; since r10 the
    # comparator treats any pandas dtype drift as FAILURE, matching
    # the driver's hash.
    #
    # ROUND-14 WINDOW (per the policy): (1) FIRST the 14 entries
    # deferred in r12 AND r13 (two rounds driver-stale — the oldest
    # tier, exactly the set named in the r13 comment and NOTES.md):
    # sim_ann_lsh / sim_ann_pq / sim_ann_ivf / knn_near_limit_pq /
    # window_tumbling / text_fingerprint / multimodal_meta /
    # multimodal_av_meta / graph_closeness / graph_scc / graph_khop /
    # graph_triangles / dedup_simhash / dedup_embedding_cosine;
    # (2) the three NEW promotions stream_upsert_scan +
    # stream_rollup_scan + gql_similar_topk (rehearsed entry-shaped in
    # tests/test_r14_oracle_candidates.py since r13 — contract -> 117;
    # with the first two, EVERY exactly-once streaming twin — bucketed,
    # clustered, rollup, graph-upsert — carries a driver oracle, and
    # the third puts the first gate row on the {similar:} statement
    # route); (3) 33 of the 50 r12-green (one-round-stale) entries;
    # (4) deferred to r15 and FIRST there (two rounds stale by then;
    # families covered in-window): knn_near_limit +
    # knn_near_limit_filtered + knn_compacted (knn_near_limit_pq
    # in-window — same cost-router and codes path), sim_ann_pq_indexed
    # (sim_ann_pq in-window), sim_ann_ivf_indexed (sim_ann_ivf
    # in-window), sim_cosine_topk (gql_similar_topk in-window — the
    # SAME kernel and oracle through the statement route),
    # sim_knn_join_ivf (sim_ann_ivf + dedup_embedding_cosine
    # in-window), multimodal_bytes + multimodal_features
    # (multimodal_meta + multimodal_av_meta in-window — same
    # header-decode core), graph_degrees (graph_triangles + graph_khop
    # in-window, same module), graph_connected_components (graph_scc
    # in-window), dedup_url + dedup_lines + dedup_clusters
    # (dedup_simhash + dedup_embedding_cosine in-window),
    # rollup_incremental (stream_rollup_scan in-window — the SAME
    # oracle row through the streaming twin) + rollup_coarsen
    # (stream_rollup_scan + rollup_quantiles_read in-window),
    # text_tfidf (text_fingerprint in-window — same text module) —
    # all seventeen also pinned by unit tests (test_operators.py,
    # test_similarity.py, test_graph_algos.py, test_dedup.py,
    # test_rollup.py, test_text.py).  The 50 r13-green entries are
    # fresh and sit past the cap; r15 takes the 17 named above FIRST,
    # then the rehearsed promotions (late-r14 grew the certified
    # candidate pool to FOURTEEN — tests/test_r15_oracle_candidates.py,
    # green at sf0.001/0.01/0.1; the revised split in NOTES.md: 3
    # statement routes + text_bm25_topk + split_leakage_safe +
    # curation_token_budget + sim_hybrid_topk + decontaminate_neardup
    # in r15, contract -> 125; the 6 gql_* routes of the new
    # statements in r16 -> 131), then
    # the remaining slots to the 50 r13-green entries by staleness.
    return {
        # ==== (1) oldest tier: the 14 r12/r13-deferred (r12-green) ====
        "sim_ann_lsh": q_ann_lsh,
        "sim_ann_pq": q_ann_pq,
        "sim_ann_ivf": q_ann_ivf,
        "knn_near_limit_pq": q_knn_pq,
        "window_tumbling": q_window_tumbling,
        "text_fingerprint": q_text_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_av_meta": q_multimodal_av_meta,
        "graph_closeness": q_closeness,
        "graph_scc": q_scc,
        "graph_khop": q_khop,
        "graph_triangles": q_triangles,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding,
        # ==== (2) r14 promotions (rehearsed since r13): every exactly-
        # ==== once streaming twin + the {similar:} statement route ====
        "stream_upsert_scan": q_stream_upsert_scan,
        "stream_rollup_scan": q_stream_rollup_scan,
        "gql_similar_topk": q_gql_similar_topk,
        # ==== (3) r12-stale: 33 of 50 (17 named above -> r15) ====
        "window_session": q_window_session,
        "stream_ingest_scan": q_stream_ingest_scan,
        "stream_clustered_scan": q_stream_clustered_scan,
        "rollup_quantiles_read": q_rollup_quantiles_read,
        "dedup_keep_best": q_dedup_keep_best,
        "filter_datetime": q_filter_datetime,
        "projection": q_projection,
        "layout_attach_scan": q_layout_attach_scan,
        "topcount_cms": q_topcount_cms,
        "decontaminate_semantic": q_decontaminate_semantic,
        "sample_cluster": q_sample_cluster,
        "bucketed_join_revenue": q_bucketed_join_revenue,
        "zorder_scan_revenue": q_zorder_scan_revenue,
        "curation_pipeline": q_curation_pipeline,
        "graph_pagerank_personalized": q_pagerank_personalized,
        "graphml_roundtrip": q_graphml_roundtrip,
        "filter_in": q_filter_in,
        "count_group": q_count,
        "distinct_segments": q_distinct,
        "rollup_revenue": q_rollup_revenue,
        "correlated_subquery": q_correlated_subquery,
        "semi_join_urgent": q_semi_join,
        "graph_label_prop": q_label_prop,
        "hmm_forward": q_hmm_forward,
        "doc_length_percentiles": q_doc_length_percentiles,
        "text_token_budget": q_text_token_budget,
        "text_chunking": q_text_chunking,
        "sample_mixture": q_sample_mixture,
        "event_cohort_retention": q_event_cohort_retention,
        "asof_attribution": q_asof_attribution,
        "text_redact_pii": q_text_redact_pii,
        "text_token_stats": q_text_stats,
        "text_quality": q_text_quality,
        # ==== past the cap: the 17 deferred r12-green — FIRST in r15
        # ==== (still oracle-checked locally every round at sf0.01 AND
        # ==== sf0.1; families covered in-window per the policy) ====
        "knn_near_limit": q_knn,
        "knn_near_limit_filtered": q_knn_filtered,
        "knn_compacted": q_knn_compacted,
        "sim_ann_pq_indexed": q_ann_pq_indexed,
        "sim_ann_ivf_indexed": q_ann_ivf_indexed,
        "sim_cosine_topk": q_cosine_topk,
        "sim_knn_join_ivf": q_knn_join_ivf,
        "multimodal_bytes": q_multimodal_bytes,
        "multimodal_features": q_multimodal_features,
        "graph_degrees": q_degrees,
        "graph_connected_components": q_connected_components,
        "dedup_url": q_dedup_url,
        "dedup_lines": q_dedup_lines,
        "dedup_clusters": q_dedup_clusters,
        "rollup_incremental": q_rollup_incremental,
        "rollup_coarsen": q_rollup_coarsen,
        "text_tfidf": q_text_tfidf,
        # ==== past the cap: r13 driver-green (fresh) ====
        "filter_or": q_filter_or,
        "window_sliding": q_window_sliding,
        "sim_knn_join": q_knn_join,
        "text_winnow_fp": q_text_winnow_fp,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "sim_ann_lsh_indexed": q_ann_lsh_indexed,
        "sim_ann_ivfpq_indexed": q_ann_ivfpq_indexed,
        "graph_cc_twophase": q_cc_twophase,
        "graph_kcore": q_kcore,
        "graph_node_jaccard": q_node_jaccard,
        "graph_random_walk": q_random_walk,
        "curation_keep_best": q_curation_keep_best,
        "curation_best_by": q_curation_best_by,
        "text_repetition": q_text_repetition,
        "text_langid": q_text_langid,
        "graph_clustering_coef": q_clustering_coef,
        "layout_fold_scan": q_layout_fold_scan,
        "bucketed_ingest_scan": q_bucketed_ingest_scan,
        "distinct_kmv": q_distinct_kmv,
        "knn_near_limit_routed": q_knn_routed,
        "pricing_summary": q_pricing_summary,
        "training_shards": q_training_shards,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash,
        "text_lm_score": q_text_lm_score,
        "event_funnel": q_event_funnel,
        "window_interval_join": q_interval_join,
        "sample_stratified": q_sample_stratified,
        "sample_shuffle": q_sample_shuffle,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "graph_betweenness": q_betweenness,
        "scan_filter_eq": q_scan_filter_eq,
        "filter_range_and": q_filter_range_and,
        "point_lookup": q_point_lookup,
        "topk_orders": q_topk_orders,
        "window_rank_running": q_window_rank,
        "join_region_revenue": q_join_region_revenue,
        "join_2hop_revenue": q_join_2hop_revenue,
        "anti_join_no_orders": q_anti_join,
        "upsert_lww": q_upsert_lww,
        "graph_walk_2hop_cond": q_walk_2hop_cond,
        "graph_motif_fork": q_motif_fork,
        "graph_shortest_path": q_shortest_path,
        "graph_pagerank": q_pagerank,
        "stats_entropy_gain": q_entropy,
        "hmm_viterbi": q_hmm_viterbi,
        "bayes_classify": q_bayes_classify,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    }


# DuckDB oracle SQL — every queries() entry has one as of r2 (the LSH/
# probabilistic operators are deterministic given their md5/xxhash-seeded
# hash families, so buckets and walks replay exactly in SQL).

_STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "for", "on", "it"]
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _occ_sql(word: str) -> str:
    pad = f"(' ' || text || ' ')"
    needle = f" {word} "
    return (f"CAST((length({pad}) - length(replace({pad}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


def _marker_sum_sql(words: list[str]) -> str:
    return "(" + " + ".join(_occ_sql(w) for w in words) + ")"


def _simhash_sql(max_hamming: int = 6, id_filter: str = "doc_id < 300") -> str:
    """All-pairs SimHash oracle: identical fingerprint construction
    (per-token md5 → 60-bit value → per-bit ±1 sums → sign bits) in pure
    DuckDB SQL.  The Spark side's chunk blocking is exact for
    hamming ≤ 6, so blocked output == this all-pairs result."""
    hexpos = " + ".join(
        f"(strpos('0123456789abcdef', substr(h16, {i}, 1)) - 1)"
        f" * CAST({16 ** (15 - i)} AS BIGINT)"
        for i in range(1, 16))
    bits = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60))
    fp = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for b in range(60))
    return (
        "WITH toks AS (SELECT doc_id AS id,"
        " unnest(string_split(text, ' ')) AS t"
        f" FROM documents WHERE {id_filter}),"
        " th AS (SELECT id, md5(t) AS h16 FROM toks WHERE t <> ''),"
        f" hh AS (SELECT id, ({hexpos}) AS h FROM th),"
        f" bits AS (SELECT id, {bits} FROM hh GROUP BY id),"
        f" sig AS (SELECT id, ({fp}) AS fp FROM bits)"
        " SELECT a.id AS doc_a, b.id AS doc_b,"
        " CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming"
        " FROM sig a JOIN sig b ON a.id < b.id"
        f" WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}")


def _md5_60bit(arg: str) -> str:
    """DuckDB expression: conv(substr(md5(arg),1,15),16,10) — DuckDB lacks
    conv(), so the 15 hex digits are summed positionally."""
    return ("(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({arg}), {i}, 1)) - 1)"
        f" * CAST({16 ** (15 - i)} AS BIGINT)" for i in range(1, 16)) + ")")


def _topcount_cms_sql(d: int, w: int, keys: "list[int]") -> str:
    """Full count-min replay in DuckDB (operators/stats.py::cms_sketch /
    cms_query): md5-60bit("<value>:<row>") mod w slots, per-(group, row,
    slot) counter sums, then the estimate = min over the d rows of the
    probed counters, 0 where absent.  The estimate VALUES must match
    Spark's, not just the input rows."""
    h_val = _md5_60bit("CAST(user_id AS VARCHAR) || ':' || r.r")
    h_key = _md5_60bit("CAST(k.key AS VARCHAR) || ':' || r.r")
    return (
        f"WITH rws AS (SELECT unnest(generate_series(0, {d - 1})) AS r),"
        f" ks AS (SELECT CAST(unnest({keys}) AS BIGINT) AS key),"
        " ev AS (SELECT event_type, user_id FROM events"
        "        WHERE user_id IS NOT NULL),"
        " cnt AS ("
        "   SELECT event_type, r.r AS rw,"
        f"         {h_val} % {w} AS slot,"
        "          count(*) AS n"
        "   FROM ev CROSS JOIN rws r GROUP BY 1, 2, 3),"
        " probe AS ("
        "   SELECT g.event_type, k.key, r.r AS rw,"
        f"         {h_key} % {w} AS slot"
        "   FROM (SELECT DISTINCT event_type FROM ev) g"
        "   CROSS JOIN ks k CROSS JOIN rws r)"
        " SELECT p.event_type, p.key,"
        "        CAST(min(coalesce(c.n, 0)) AS BIGINT) AS count_est"
        " FROM probe p LEFT JOIN cnt c"
        "   ON c.event_type = p.event_type AND c.rw = p.rw"
        "  AND c.slot = p.slot"
        " GROUP BY 1, 2")


def _random_walk_sql(steps: int = 4, seed: int = 42) -> str:
    """Unrolled deterministic random walk over the region cliques: per
    step, the md5-derived pick selects the rk-th neighbor (row_number over
    dst) of the current vertex — mirrors graph_algos.random_walk
    (hash_family='md5') exactly."""
    parts = [
        "WITH e AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src,"
        " CAST(b.n_nationkey AS BIGINT) AS dst FROM nation a"
        " JOIN nation b ON a.n_regionkey = b.n_regionkey"
        " AND a.n_nationkey <> b.n_nationkey),",
        "ranked AS (SELECT src, dst,"
        " ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,"
        " COUNT(*) OVER (PARTITION BY src) AS deg FROM e),",
        "w0 AS (SELECT CAST(n_nationkey AS BIGINT) AS walk_id,"
        " CAST(n_nationkey AS BIGINT) AS cur,"
        " CAST(n_nationkey AS VARCHAR) AS path FROM nation"
        " WHERE n_nationkey < 5),",
    ]
    for k in range(steps):
        h = _md5_60bit(f"w.walk_id::VARCHAR || ':{k}:{seed}'")
        parts.append(
            f"w{k + 1} AS (SELECT w.walk_id, COALESCE(r.dst, w.cur) AS cur,"
            f" CASE WHEN r.dst IS NULL THEN w.path"
            f" ELSE w.path || ',' || r.dst END AS path"
            f" FROM w{k} w LEFT JOIN ranked r ON r.src = w.cur"
            f" AND r.rk = ({h} % r.deg)),")
    body = "\n".join(parts).rstrip(",")
    return body + f"\nSELECT walk_id, path AS path_str FROM w{steps}"


def _ann_lsh_sql(dim: int = 64, n_planes: int = 4, n_tables: int = 2,
                 k: int = 10, seed: str = "gqlite",
                 query_id: int = 0) -> str:
    """Bucket-exact ANN oracle: the deterministic md5-seeded hyperplanes are
    inlined as literal arrays, bucket bits recomputed with
    list_inner_product, candidates restricted to the query's bucket in any
    table, then exact-cosine top-k — replicating similarity.ann_topk."""
    from gqlite_spark.operators.similarity import _projection_vectors

    def lit(vec):
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def bucket_expr(vcol: str, table: int) -> str:
        planes = _projection_vectors(dim, n_planes, f"{seed}:{table}")
        bits = " + ".join(
            f"(CASE WHEN list_inner_product({vcol}, {lit(p)}) >= 0"
            f" THEN {2 ** pi} ELSE 0 END)"
            for pi, p in enumerate(planes))
        return "(" + bits + ")"

    bsel = ", ".join(f"{bucket_expr('v', t)} AS b{t}"
                     for t in range(n_tables))
    qsel = ", ".join(f"{bucket_expr('qv', t)} AS qb{t}"
                     for t in range(n_tables))
    match = " OR ".join(f"b.b{t} = q.qb{t}" for t in range(n_tables))
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" b AS (SELECT vec_id, v, {bsel} FROM v),"
        f" q AS (SELECT {qsel}, qv FROM qv),"
        f" cand AS (SELECT b.vec_id, b.v, q.qv FROM b, q WHERE {match})"
        " SELECT vec_id, round(list_inner_product(v, qv) /"
        " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 4)"
        " AS cosine FROM cand"
        " ORDER BY list_inner_product(v, qv) /"
        " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)))"
        f" DESC, vec_id ASC LIMIT {k}")


def _ann_ivf_sql(nlist: int = 16, nprobe: int = 4, k: int = 10,
                 query_id: int = 0) -> str:
    """IVF oracle: rebuild the identical inverted file in SQL — sampling
    centroids (nlist lowest vec_ids), max-inner-product assignment with
    smallest-cid tie-break, probe the query's nprobe lists, exact-cosine
    top-k.  list_inner_product sums dims in order, matching F.aggregate's
    fold, so assignments are bit-identical."""
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" probe AS (SELECT cid FROM cents, qv"
        f" ORDER BY list_inner_product(cv, qv) DESC, cid ASC"
        f" LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        " ORDER BY list_inner_product(v.v, c.cv) DESC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        " cand AS (SELECT v.vec_id, v.v FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid)"
        " SELECT vec_id, round(list_inner_product(v, qv) /"
        " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 4)"
        " AS cosine FROM cand, qv"
        " ORDER BY list_inner_product(v, qv) /"
        " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)))"
        f" DESC, vec_id ASC LIMIT {k}")


def _ann_ivfpq_sql(nlist: int = 16, nprobe: int = 4, m: int = 4,
                   dsub: int = 16, ksub: int = 16, candidates: int = 100,
                   k: int = 10, query_id: int = 3) -> str:
    """IVFPQ oracle: rebuild the ENTIRE index in SQL — sampling coarse
    centroids (nlist lowest vec_ids) with min-squared-L2 assignment
    (ties -> smallest cid, the l2 metric form), sampling PQ codebooks
    (ksub lowest vec_ids' sub-vectors, code = rank) with min-sub-d2
    codes (ties -> smallest code), probe the query's nprobe nearest
    lists by the same L2, ADC-sum rank ONLY the probed rows (ordered
    SUM = the Spark side's left-assoc subspace fold), take the
    ``candidates`` best by (adc, vec_id), exact-cosine re-rank.  Every
    distance is an in-order element sum — the same fold as
    F.aggregate — so all doubles match bit-for-bit."""
    dim = m * dsub
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> ({A}[i] - {B}[i]) * ({A}[i] - {B}[i])), 'sum')")
    d2_vc = d2.replace("{A}", "v.v").replace("{B}", "c.cv")
    d2_qc = d2.replace("{A}", "qv.qv").replace("{B}", "c.cv")
    sub_d2 = (f"list_aggregate(list_transform(generate_series(1, {dsub}),"
              " i -> ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])"
              " * ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])), 'sum')"
              % (dsub, dsub, dsub, dsub))
    d2_vec = sub_d2.replace("{V}", "pr.v").replace("{J}", "s.j")
    d2_q = sub_d2.replace("{V}", "qv.qv").replace("{J}", "s.j")
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        " cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,"
        " v AS cv FROM (SELECT vec_id, v FROM v ORDER BY vec_id"
        f" LIMIT {ksub})),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" probe AS (SELECT c.cid FROM cents c, qv"
        f" ORDER BY {d2_qc} ASC, c.cid ASC LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2_vc} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        # probed rows only: codes/ADC are needed just where the engine
        # READS (the pruned partitions)
        " pr AS (SELECT v.vec_id, v.v FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid),"
        f" subs AS (SELECT unnest(generate_series(0, {m - 1})) AS j),"
        f" d2s AS (SELECT pr.vec_id, s.j, cb.code, {d2_vec} AS d"
        " FROM pr CROSS JOIN subs s CROSS JOIN cb),"
        " codes AS (SELECT vec_id, j, code FROM (SELECT *, row_number()"
        " OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn"
        " FROM d2s) WHERE rn = 1),"
        f" adc AS (SELECT s.j, cb.code, {d2_q} AS d"
        " FROM subs s CROSS JOIN cb CROSS JOIN qv),"
        " approx AS (SELECT c.vec_id, SUM(a.d ORDER BY c.j) AS ad"
        " FROM codes c JOIN adc a ON a.j = c.j AND a.code = c.code"
        " GROUP BY c.vec_id),"
        " cand AS (SELECT vec_id FROM approx"
        f" ORDER BY ad ASC, vec_id ASC LIMIT {candidates})"
        " SELECT v.vec_id, round(list_inner_product(v.v, qv) /"
        " (sqrt(list_inner_product(v.v, v.v)) *"
        " sqrt(list_inner_product(qv, qv))), 4) AS cosine"
        " FROM v JOIN cand USING (vec_id), qv"
        " ORDER BY list_inner_product(v.v, qv) /"
        " (sqrt(list_inner_product(v.v, v.v)) *"
        " sqrt(list_inner_product(qv, qv)))"
        f" DESC, vec_id ASC LIMIT {k}")


def _knn_pq_sql(nlist: int = 16, nprobe: int = 4, m: int = 4,
                dsub: int = 16, ksub: int = 16, candidates: int = 100,
                k: int = 10, query_id: int = 3) -> str:
    """Routed-$near-over-IVFPQ oracle (executor._apply_knn_routed replay):
    the same full-index rebuild as :func:`_ann_ivfpq_sql` — sampling
    centroids, sampling codebooks, argmin assignments/codes, ADC sums
    over the PROBED rows only, top-``candidates`` by (adc, vec_id) —
    then the routed path's exact squared-L2 re-rank + top-k (the
    identical downstream apply_knn plan), returning (vec_id, label)."""
    dim = m * dsub
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> ({A}[i] - {B}[i]) * ({A}[i] - {B}[i])), 'sum')")
    d2_vc = d2.replace("{A}", "v.v").replace("{B}", "c.cv")
    d2_qc = d2.replace("{A}", "qv.qv").replace("{B}", "c.cv")
    d2_vq = d2.replace("{A}", "v.v").replace("{B}", "qv.qv")
    sub_d2 = (f"list_aggregate(list_transform(generate_series(1, {dsub}),"
              " i -> ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])"
              " * ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])), 'sum')"
              % (dsub, dsub, dsub, dsub))
    d2_vec = sub_d2.replace("{V}", "pr.v").replace("{J}", "s.j")
    d2_q = sub_d2.replace("{V}", "qv.qv").replace("{J}", "s.j")
    return (
        "WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        " cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,"
        " v AS cv FROM (SELECT vec_id, v FROM v ORDER BY vec_id"
        f" LIMIT {ksub})),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" probe AS (SELECT c.cid FROM cents c, qv"
        f" ORDER BY {d2_qc} ASC, c.cid ASC LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2_vc} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        " pr AS (SELECT v.vec_id, v.v FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid),"
        f" subs AS (SELECT unnest(generate_series(0, {m - 1})) AS j),"
        f" d2s AS (SELECT pr.vec_id, s.j, cb.code, {d2_vec} AS d"
        " FROM pr CROSS JOIN subs s CROSS JOIN cb),"
        " codes AS (SELECT vec_id, j, code FROM (SELECT *, row_number()"
        " OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn"
        " FROM d2s) WHERE rn = 1),"
        f" adc AS (SELECT s.j, cb.code, {d2_q} AS d"
        " FROM subs s CROSS JOIN cb CROSS JOIN qv),"
        " approx AS (SELECT c.vec_id, SUM(a.d ORDER BY c.j) AS ad"
        " FROM codes c JOIN adc a ON a.j = c.j AND a.code = c.code"
        " GROUP BY c.vec_id),"
        " cand AS (SELECT vec_id FROM approx"
        f" ORDER BY ad ASC, vec_id ASC LIMIT {candidates})"
        " SELECT v.vec_id, v.label FROM v JOIN cand USING (vec_id), qv"
        f" ORDER BY {d2_vq} ASC, v.vec_id ASC LIMIT {k}")


def _knn_routed_sql(nlist: int = 64, nprobe: int = 8, k: int = 10,
                    query_id: int = 3, dim: int = 64) -> str:
    """Routed $near+limit oracle: rebuild the executor's L2 coarse
    quantizer in SQL — sampling centroids (nlist lowest vec_ids), per-row
    argmin squared-L2 list assignment (in-order element sum = the Spark
    side's F.aggregate fold, ties → smallest cid), probe the query's
    nprobe nearest lists by the SAME d2, then the exact squared-L2 top-k
    on the survivors (the identical downstream apply_knn plan)."""
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> ({A}[i] - {B}[i]) * ({A}[i] - {B}[i])), 'sum')")
    d2_vc = d2.replace("{A}", "v.v").replace("{B}", "c.cv")
    d2_qc = d2.replace("{A}", "qv.qv").replace("{B}", "c.cv")
    d2_vq = d2.replace("{A}", "v.v").replace("{B}", "qv.qv")
    return (
        "WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" probe AS (SELECT c.cid FROM cents c, qv"
        f" ORDER BY {d2_qc} ASC, c.cid ASC LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2_vc} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1)"
        " SELECT v.vec_id, v.label FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid, qv"
        f" ORDER BY {d2_vq} ASC, v.vec_id ASC LIMIT {k}")


def _knn_filtered_sql(nlist: int = 64, nprobe: int = 8, k: int = 10,
                      c: int = 4, query_id: int = 7,
                      dim: int = 64) -> str:
    """Predicate+$near oversample oracle (VERDICT r7 next #2): same
    quantizer replay as :func:`_knn_routed_sql`, then the oversample
    stage — candidates = top-(c·k) of the probed lists by (d2, vec_id)
    — then the plain predicate (label IN half the classes), then the
    exact top-k.  Valid because the first oversample deterministically
    holds >= k matches at every test SF (verified 21-23 of 40), so the
    engine's bounded refill never fires and both sides compute the
    identical candidate set."""
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> ({A}[i] - {B}[i]) * ({A}[i] - {B}[i])), 'sum')")
    d2_vc = d2.replace("{A}", "v.v").replace("{B}", "c.cv")
    d2_qc = d2.replace("{A}", "qv.qv").replace("{B}", "c.cv")
    d2_vq = d2.replace("{A}", "v.v").replace("{B}", "qv.qv")
    return (
        "WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" probe AS (SELECT c.cid FROM cents c, qv"
        f" ORDER BY {d2_qc} ASC, c.cid ASC LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2_vc} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        " cand AS (SELECT v.vec_id, v.label, v.v FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid, qv"
        f" ORDER BY {d2_vq} ASC, v.vec_id ASC LIMIT {c * k})"
        " SELECT cand.vec_id, cand.label FROM cand, qv"
        " WHERE cand.label IN (0, 2, 4, 6, 8)"
        f" ORDER BY {d2_vq.replace('v.v', 'cand.v')} ASC, cand.vec_id ASC"
        f" LIMIT {k}")


def _knn_join_ivf_sql(nlist: int = 16, nprobe: int = 4, k: int = 3,
                      q_mod: int = 11, q_rem: int = 3) -> str:
    """IVF-join oracle: sampling centroids, max-inner-product assignment
    for every corpus row (ties → smallest cid), per-QUERY top-nprobe
    probe lists by the same in-order fold, candidates = corpus rows
    whose list is probed by that query, exact-cosine top-k per query.
    Replays gqlite_spark.operators.similarity.ivf_knn_join exactly at
    any nlist."""
    cos = ("list_inner_product({V}, {Q}) /"
           " (sqrt(list_inner_product({V}, {V})) *"
           " sqrt(list_inner_product({Q}, {Q})))")
    cos_p = cos.replace("{V}", "p.v").replace("{Q}", "p.qv")
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        f" q AS (SELECT vec_id AS q_id, v AS qv FROM v"
        f" WHERE vec_id % {q_mod} = {q_rem}),"
        " probe AS (SELECT q_id, cid FROM"
        " (SELECT q.q_id, c.cid, row_number() OVER (PARTITION BY q.q_id"
        " ORDER BY list_inner_product(q.qv, c.cv) DESC, c.cid ASC) AS rn"
        f" FROM q CROSS JOIN cents c) WHERE rn <= {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        " ORDER BY list_inner_product(v.v, c.cv) DESC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        " pairs AS (SELECT q.q_id, q.qv, v.vec_id, v.v"
        " FROM q JOIN probe p ON p.q_id = q.q_id"
        " JOIN assign a ON a.cid = p.cid JOIN v ON v.vec_id = a.vec_id)"
        " SELECT q_id, vec_id, rank, round(cos, 4) AS cosine FROM"
        f" (SELECT p.q_id, p.vec_id, {cos_p} AS cos,"
        " row_number() OVER (PARTITION BY p.q_id"
        f" ORDER BY {cos_p} DESC, p.vec_id ASC) AS rank FROM pairs p)"
        f" WHERE rank <= {k}")


def _decontaminate_semantic_sql(threshold: float = 0.4,
                                b_mod: int = 7) -> str:
    """Semantic-decontamination oracle: the entry probes EVERY inverted
    list (nprobe = nlist), so its candidate set is exact and the oracle
    is the plain per-train-row top-1 over the benchmark, thresholded on
    the rounded cosine."""
    cos = ("list_inner_product(t.v, b.bv) /"
           " (sqrt(list_inner_product(t.v, t.v)) *"
           " sqrt(list_inner_product(b.bv, b.bv)))")
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" b AS (SELECT vec_id AS bench_id, v AS bv FROM v"
        f" WHERE vec_id % {b_mod} = 0),"
        f" t AS (SELECT vec_id, v FROM v WHERE vec_id % {b_mod} <> 0),"
        f" s AS (SELECT t.vec_id, b.bench_id, {cos} AS cos,"
        " row_number() OVER (PARTITION BY t.vec_id"
        f" ORDER BY {cos} DESC, b.bench_id ASC) AS rn"
        " FROM t CROSS JOIN b)"
        " SELECT vec_id, bench_id, round(cos, 4) AS cosine FROM s"
        f" WHERE rn = 1 AND round(cos, 4) >= {threshold}")


def _knn_compacted_sql(nlist: int = 64, nprobe: int = 8, k: int = 10,
                       query_id: int = 11, shadow_id: int = 5,
                       new_id: int = 10_000_000, dim: int = 64) -> str:
    """Post-compaction routed-kNN oracle: centroids come from the
    PRE-upsert corpus (frozen at index-build time — compaction assigns
    overlay rows with the index's OWN quantizer, never re-clusters),
    while the searched corpus is the post-compaction state: the shadowed
    id replaced by its moved vector (+10.0/elem), plus the new near-dup
    row (+0.001/elem of the query vector) — each transform rounded
    through REAL (float32), replaying the engine's storage of overlay
    vectors at the index's element type.  float32→double widening is
    exact and x+c is computed once in the same order on both engines, so
    assignment, probe and top-k replay bit-for-bit like
    _knn_routed_sql."""
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> ({A}[i] - {B}[i]) * ({A}[i] - {B}[i])), 'sum')")
    d2_vc = d2.replace("{A}", "v.v").replace("{B}", "c.cv")
    d2_qc = d2.replace("{A}", "qv.qv").replace("{B}", "c.cv")
    d2_vq = d2.replace("{A}", "v.v").replace("{B}", "qv.qv")
    return (
        "WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM base"
        f" ORDER BY vec_id LIMIT {nlist}),"
        f" qv AS (SELECT v AS qv FROM base WHERE vec_id = {query_id}),"
        " v AS ("
        f" SELECT vec_id, label, v FROM base WHERE vec_id <> {shadow_id}"
        f" UNION ALL SELECT {shadow_id}, 55,"
        f" list_transform(v, x -> CAST(CAST(x + 10.0 AS REAL) AS DOUBLE))"
        f" FROM base WHERE vec_id = {shadow_id}"
        f" UNION ALL SELECT {new_id}, 77,"
        f" list_transform(v, x -> CAST(CAST(x + 0.001 AS REAL) AS DOUBLE))"
        f" FROM base WHERE vec_id = {query_id}),"
        f" probe AS (SELECT c.cid FROM cents c, qv"
        f" ORDER BY {d2_qc} ASC, c.cid ASC LIMIT {nprobe}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2_vc} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1)"
        # CAST label: the engine stores overlay labels as long
        # (Spark returns int64) while the parquet column is int32 —
        # without the cast the oracle drifts and the driver hash fails
        " SELECT v.vec_id, CAST(v.label AS BIGINT) AS label FROM v"
        " JOIN assign a ON a.vec_id = v.vec_id"
        " JOIN probe p ON p.cid = a.cid, qv"
        f" ORDER BY {d2_vq} ASC, v.vec_id ASC LIMIT {k}")


def _shards_sql(n_shards: int = 16, salt: str = "ep1") -> str:
    """Epoch-shard export oracle: the shard id and within-shard keys are
    pure md5 functions of (salt, id) — DuckDB replays (shard, n_rows,
    min_key, max_key) per shard from the source table; the Spark side
    reads them back from the WRITTEN parquet layout."""
    key = f"md5('{salt}' || CAST(doc_id AS VARCHAR))"
    hex4 = "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({key}, {i}, 1)) - 1)"
        f" * {16 ** (4 - i)}" for i in range(1, 5)) + ")"
    return (
        f"WITH k AS (SELECT doc_id, {key} AS skey,"
        f" CAST({hex4} % {n_shards} AS BIGINT) AS shard FROM documents)"
        " SELECT shard, COUNT(*)::BIGINT AS n_rows,"
        " MIN(skey) AS min_key, MAX(skey) AS max_key"
        " FROM k GROUP BY shard")


def _sample_cluster_sql(nlist: int = 8, per_cluster: int = 5,
                        dim: int = 64) -> str:
    """Cluster-balanced-sampling oracle: rebuild the sampling quantizer
    (nlist lowest vec_ids), per-row argmin squared-L2 assignment
    (in-order element sum, ties -> smallest cid — the same replay as
    _knn_routed_sql), then keep the per_cluster md5-smallest rows per
    cluster (rank ties -> smallest vec_id)."""
    d2 = (f"list_aggregate(list_transform(generate_series(1, {dim}),"
          " i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), 'sum')")
    return (
        "WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        f" cents AS (SELECT vec_id AS cid, v AS cv FROM v"
        f" ORDER BY vec_id LIMIT {nlist}),"
        " assign AS (SELECT vec_id, cid FROM"
        " (SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id"
        f" ORDER BY {d2} ASC, c.cid ASC) AS rn"
        " FROM v CROSS JOIN cents c) WHERE rn = 1),"
        " ranked AS (SELECT v.vec_id, v.label, a.cid AS cluster_id,"
        " row_number() OVER (PARTITION BY a.cid"
        " ORDER BY substr(md5(CAST(v.vec_id AS VARCHAR)), 1, 8),"
        " v.vec_id) AS rn"
        " FROM v JOIN assign a ON a.vec_id = v.vec_id)"
        " SELECT vec_id, label, cluster_id FROM ranked"
        f" WHERE rn <= {per_cluster}")


def _ann_pq_sql(m: int = 4, dsub: int = 16, ksub: int = 16,
                candidates: int = 50, k: int = 10,
                query_id: int = 0) -> str:
    """PQ oracle: rebuild the identical codebooks in SQL (ksub lowest
    vec_ids' sub-vectors, code = rank), assign codes by min sub-d2 with
    smallest-code tie-break, rank by the ADC sum in subspace order
    (ordered SUM = the Spark side's left-assoc j fold), exact-cosine
    re-rank of the candidate set.  Sub-d2 is an in-order element sum —
    the same fold as F.aggregate — so every double matches bit-for-bit."""
    sub_d2 = (f"list_aggregate(list_transform(generate_series(1, {dsub}),"
              " i -> ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])"
              " * ({V}[{J}*%d + i] - cb.cv[{J}*%d + i])), 'sum')"
              % (dsub, dsub, dsub, dsub))
    d2_vec = sub_d2.replace("{V}", "v.v").replace("{J}", "s.j")
    d2_q = sub_d2.replace("{V}", "qv.qv").replace("{J}", "s.j")
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,"
        " v AS cv FROM (SELECT vec_id, v FROM v ORDER BY vec_id"
        f" LIMIT {ksub})),"
        f" qv AS (SELECT v AS qv FROM v WHERE vec_id = {query_id}),"
        f" subs AS (SELECT unnest(generate_series(0, {m - 1})) AS j),"
        f" d2 AS (SELECT v.vec_id, s.j, cb.code, {d2_vec} AS d"
        " FROM v CROSS JOIN subs s CROSS JOIN cb),"
        " codes AS (SELECT vec_id, j, code FROM (SELECT *, row_number()"
        " OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn"
        " FROM d2) WHERE rn = 1),"
        f" adc AS (SELECT s.j, cb.code, {d2_q} AS d"
        " FROM subs s CROSS JOIN cb CROSS JOIN qv),"
        " approx AS (SELECT c.vec_id, SUM(a.d ORDER BY c.j) AS ad"
        " FROM codes c JOIN adc a ON a.j = c.j AND a.code = c.code"
        " GROUP BY c.vec_id),"
        " cand AS (SELECT vec_id FROM approx"
        f" ORDER BY ad ASC, vec_id ASC LIMIT {candidates})"
        " SELECT v.vec_id, round(list_inner_product(v.v, qv) /"
        " (sqrt(list_inner_product(v.v, v.v)) *"
        " sqrt(list_inner_product(qv, qv))), 4) AS cosine"
        " FROM v JOIN cand USING (vec_id), qv"
        " ORDER BY list_inner_product(v.v, qv) /"
        " (sqrt(list_inner_product(v.v, v.v)) *"
        " sqrt(list_inner_product(qv, qv)))"
        f" DESC, vec_id ASC LIMIT {k}")


_MINHASH_ORACLE_SQL = """
WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(tk) - 2, 0)),
        i -> array_to_string(tk[i:i+2], ' ')))) AS s FROM toks),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)
SELECT doc_a, doc_b, round(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.id = doc_a JOIN sizes sb ON sb.id = doc_b
WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.7"""


def _hmm_sql(kind: str, t_steps: int = 5) -> str:
    """Exact HMM oracle by full path enumeration (S^T paths per sequence —
    243 for S=3, T=5; the ORACLE enumerates, the Spark side runs the DP).

    kind='viterbi': argmax path + logp_e4, summing the SAME log-prob double
    literals (driver-computed, repr round-trip) in the SAME left-assoc
    order as the DP, so scores are bit-identical.
    kind='forward': ln of the sum of path probabilities (all-positive sum;
    regrouping drift << 1e-4).
    """
    from gqlite_spark.operators.inference import (
        events_hmm_spec, viterbi_logprob_literals)
    spec = events_hmm_spec()
    lits = viterbi_logprob_literals(spec)
    def d(x) -> str:
        # DOUBLE cast: DuckDB parses bare decimals as DECIMAL, whose exact
        # arithmetic diverges from the DP's float64 accumulation
        return f"CAST({x} AS DOUBLE)"

    st = ", ".join(f"('{s}', {d(lits['init'][s])}, {d(spec['init'][s])})"
                   for s in spec["states"])
    tr = ", ".join(f"('{a}', '{b}', {d(lits['trans'][(a, b)])},"
                   f" {d(spec['trans'][(a, b)])})"
                   for (a, b) in spec["trans"])
    em = ", ".join(f"('{s}', '{o}', {d(lits['emit'][(s, o)])},"
                   f" {d(spec['emit'][(s, o)])})"
                   for (s, o) in spec["emit"])
    alias = [chr(ord("a") + i) for i in range(t_steps)]
    obs_cols = ", ".join(
        f"max(CASE WHEN rn = {i + 1} THEN event_type END) AS o{i + 1}"
        for i in range(t_steps))
    cross = " ".join(f"CROSS JOIN st {x}" for x in alias)
    tr_joins = " ".join(
        f"JOIN tr t{i} ON t{i}.s1 = {alias[i - 1]}.s"
        f" AND t{i}.s2 = {alias[i]}.s" for i in range(1, t_steps))
    em_joins = " ".join(
        f"JOIN em e{i} ON e{i}.s = {alias[i]}.s AND e{i}.o = q.o{i + 1}"
        for i in range(t_steps))
    path = " || '>' || ".join(f"{x}.s" for x in alias)
    # left-assoc order mirrors the DP: init, emit0, trans01, emit1, ...
    log_terms = [f"{alias[0]}.li", "e0.le"]
    prob_terms = [f"{alias[0]}.pi", "e0.pe"]
    for i in range(1, t_steps):
        log_terms += [f"t{i}.lt", f"e{i}.le"]
        prob_terms += [f"t{i}.pt", f"e{i}.pe"]
    base = (
        "WITH ev AS (SELECT user_id, event_type, row_number() OVER"
        " (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),"
        f" seq AS (SELECT user_id, {obs_cols} FROM ev WHERE rn <= {t_steps}"
        f" GROUP BY user_id HAVING count(*) = {t_steps}),"
        f" st(s, li, pi) AS (VALUES {st}),"
        f" tr(s1, s2, lt, pt) AS (VALUES {tr}),"
        f" em(s, o, le, pe) AS (VALUES {em}),"
        f" paths AS (SELECT q.user_id, {path} AS path,"
        f" {' + '.join(log_terms)} AS logp,"
        f" {' * '.join(prob_terms)} AS p"
        f" FROM seq q {cross} {tr_joins} {em_joins})")
    if kind == "viterbi":
        return (base +
                " SELECT user_id, path,"
                " CAST(floor(logp * 10000 + 0.5) AS BIGINT) AS logp_e4"
                " FROM (SELECT paths.*, row_number() OVER (PARTITION BY"
                " user_id ORDER BY logp DESC, path ASC) AS rnk FROM paths)"
                " WHERE rnk = 1")
    return (base +
            " SELECT user_id,"
            " CAST(floor(ln(sum(p)) * 10000 + 0.5) AS BIGINT) AS loglik_e4"
            " FROM paths GROUP BY user_id")


_BAYES_ORACLE_SQL = """
WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
              FROM documents),
ct AS (SELECT lang AS cand, token, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT lang AS cand, count(*) AS tot FROM toks GROUP BY 1),
vocab AS (SELECT count(DISTINCT token) AS v FROM toks),
pr AS (SELECT lang AS cand,
              ln(count(*) * 1.0 / (SELECT count(*) FROM documents))
                  AS log_prior
       FROM documents GROUP BY 1),
grid AS (SELECT t.doc_id, t.token, l.cand
         FROM (SELECT doc_id, token FROM toks) t
         CROSS JOIN (SELECT DISTINCT lang AS cand FROM documents) l),
sc AS (SELECT g.doc_id, g.cand,
              sum(ln((coalesce(ct.c, 0) + 1.0) / (tot.tot + 1.0 * vocab.v)))
                  + any_value(pr.log_prior) AS score
       FROM grid g
       LEFT JOIN ct ON ct.cand = g.cand AND ct.token = g.token
       JOIN tot ON tot.cand = g.cand
       CROSS JOIN vocab
       JOIN pr ON pr.cand = g.cand
       GROUP BY 1, 2)
SELECT s.doc_id, d.lang, s.cand AS pred_lang
FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, cand ASC) AS rnk FROM sc) s
JOIN documents d ON d.doc_id = s.doc_id
WHERE s.rnk = 1"""


# Clique-bridge fixture (testdata.clique_bridge_edges) as symmetric-edge
# CTE: two K10 cliques over nations 0-9 / 15-24 + path 9-10-...-14.
_CLIQUE_BRIDGE_E = (
    "raw AS ("
    " SELECT CAST(a.n_nationkey AS BIGINT) AS src,"
    " CAST(b.n_nationkey AS BIGINT) AS dst FROM nation a JOIN nation b"
    " ON a.n_nationkey < b.n_nationkey AND b.n_nationkey <= 9"
    " UNION ALL SELECT CAST(a.n_nationkey AS BIGINT),"
    " CAST(b.n_nationkey AS BIGINT) FROM nation a JOIN nation b"
    " ON a.n_nationkey < b.n_nationkey AND a.n_nationkey >= 15"
    " UNION ALL SELECT CAST(n_nationkey AS BIGINT),"
    " CAST(n_nationkey + 1 AS BIGINT) FROM nation"
    " WHERE n_nationkey BETWEEN 9 AND 13),\n"
    "e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw)")


def _kcore_sql(k: int = 3, rounds: int = 8) -> str:
    """Unrolled peeling, same trick as the pagerank oracle: round N
    recomputes degrees within round N-1's survivors.  The fixture
    converges in 6 rounds; 8 gives slack, and at the fixpoint the last
    degree table is the in-core degree (matches Spark's k_core)."""
    parts = [f"WITH {_CLIQUE_BRIDGE_E},",
             "a0 AS (SELECT DISTINCT src AS id FROM e),"]
    for n in range(1, rounds + 1):
        parts.append(
            f"d{n} AS MATERIALIZED (SELECT e.src AS id, COUNT(*) AS c FROM e"
            f" JOIN a{n-1} s ON e.src = s.id"
            f" JOIN a{n-1} t ON e.dst = t.id GROUP BY e.src),")
        parts.append(f"a{n} AS MATERIALIZED (SELECT id FROM d{n} WHERE c >= {k}),")
    body = "\n".join(parts).rstrip(",")
    return (body + f"\nSELECT id, c AS core_degree FROM d{rounds}"
            f" WHERE c >= {k}")


def _label_prop_sql(iterations: int = 4) -> str:
    """Synchronous LPA unroll: per round, count neighbor labels then pick
    (count DESC, label ASC) per vertex — exactly Spark's window pick."""
    parts = [f"WITH {_CLIQUE_BRIDGE_E},",
             "v AS (SELECT DISTINCT src AS id FROM e),",
             "l0 AS (SELECT id, id AS label FROM v),"]
    for n in range(1, iterations + 1):
        parts.append(
            f"c{n} AS MATERIALIZED (SELECT e.dst AS id, l.label, COUNT(*) AS c FROM e"
            f" JOIN l{n-1} l ON l.id = e.src GROUP BY e.dst, l.label),")
        parts.append(
            f"l{n} AS MATERIALIZED (SELECT id, label FROM (SELECT id, label,"
            f" row_number() OVER (PARTITION BY id ORDER BY c DESC,"
            f" label ASC) AS rn FROM c{n}) WHERE rn = 1),")
    body = "\n".join(parts).rstrip(",")
    return body + f"\nSELECT id, label FROM l{iterations}"


_CLUSTERING_COEF_SQL = f"""\
WITH {_CLIQUE_BRIDGE_E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
canon AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
tris AS (SELECT x.a AS a, x.b AS b, y.b AS c
  FROM canon x JOIN canon y ON y.a = x.b
  JOIN canon z ON z.a = x.a AND z.b = y.b),
per AS (SELECT id, COUNT(*) AS t FROM (
  SELECT a AS id FROM tris UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris) GROUP BY id)
SELECT deg.id, deg.d AS degree, COALESCE(per.t, 0) AS triangles,
  CASE WHEN deg.d >= 2
       THEN round(COALESCE(per.t, 0) / (deg.d * (deg.d - 1) / 2), 4)
       ELSE 0.0 END AS coefficient
FROM deg LEFT JOIN per ON per.id = deg.id"""


def _closeness_sql(rounds: int = 8) -> str:
    """Multi-source BFS unroll: round k takes the min distance over
    round k-1 ∪ one-step expansions; 8 rounds covers the fixture's
    diameter (6) with slack."""
    parts = [f"WITH {_CLIQUE_BRIDGE_E},",
             "v AS (SELECT DISTINCT src AS id FROM e),",
             "d0 AS (SELECT id AS s, id AS v, 0 AS d FROM v),"]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT s, v, MIN(d) AS d FROM ("
            f"SELECT s, v, d FROM d{k-1}"
            f" UNION ALL SELECT p.s, e.dst AS v, p.d + 1 AS d"
            f" FROM d{k-1} p JOIN e ON e.src = p.v) GROUP BY s, v),")
    body = "\n".join(parts).rstrip(",")
    return (body + f"\nSELECT s AS id, COUNT(*) AS reachable,"
            f" CASE WHEN SUM(d) > 0 THEN"
            f" round((COUNT(*) - 1) / SUM(d), 4)"
            f" ELSE 0.0 END AS closeness FROM d{rounds} GROUP BY s")


def _betweenness_sql(depth: int = 5) -> str:
    """Brandes unroll on the region-chain fixture (max layer 4, 5 gives
    slack): forward layers n1..nD count shortest paths (sigma, frontier
    anti-joined against the cumulative visited set a{k}); backward layers
    b{D}..b1 accumulate delta(u) = Σ σ(u)/σ(w)·(1+δ(w)) exactly as the
    Spark loop sums the per-successor terms.  On path graphs every term
    is integral, so cross-engine double sums are order-independent."""
    parts = [
        "WITH raw AS MATERIALIZED (SELECT CAST(a.n_nationkey AS BIGINT) AS src,"
        " CAST(b.n_nationkey AS BIGINT) AS dst FROM nation a"
        " JOIN nation b ON a.n_regionkey = b.n_regionkey"
        " AND b.n_nationkey = (SELECT MIN(c.n_nationkey) FROM nation c"
        " WHERE c.n_regionkey = a.n_regionkey"
        " AND c.n_nationkey > a.n_nationkey)),",
        "e AS MATERIALIZED (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),",
        "n0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(1 AS BIGINT) AS sigma FROM v),",
        "a0 AS MATERIALIZED (SELECT s, v FROM n0),",
    ]
    for k in range(1, depth + 1):
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma"
            f" FROM n{k-1} p JOIN e ON e.src = p.v"
            f" LEFT JOIN a{k-1} q ON q.s = p.s AND q.v = e.dst"
            f" WHERE q.v IS NULL GROUP BY p.s, e.dst),")
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT s, v FROM a{k-1}"
            f" UNION ALL SELECT s, v FROM n{k}),")
    parts.append(
        f"b{depth} AS MATERIALIZED (SELECT s, v, sigma, CAST(0 AS DOUBLE) AS delta"
        f" FROM n{depth}),")
    for k in range(depth - 1, 0, -1):
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT u.s, u.v, u.sigma,"
            f" COALESCE(SUM(u.sigma * 1.0 / w.sigma * (1.0 + w.delta)),"
            f" 0.0) AS delta"
            f" FROM n{k} u LEFT JOIN e ON e.src = u.v"
            f" LEFT JOIN b{k+1} w ON w.s = u.s AND w.v = e.dst"
            f" GROUP BY u.s, u.v, u.sigma),")
    body = "\n".join(parts).rstrip(",")
    unions = " UNION ALL ".join(
        f"SELECT s, v, delta FROM b{k}" for k in range(depth, 0, -1))
    return (body + f"\nSELECT v AS id, round(SUM(delta) / 2.0, 4)"
            f" AS betweenness FROM ({unions}) WHERE v <> s GROUP BY v")


_NODE_JACCARD_SQL = f"""\
WITH {_CLIQUE_BRIDGE_E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
canon AS (SELECT src, dst FROM e WHERE src < dst),
common AS (SELECT a.dst AS s, b.dst AS t, COUNT(*) AS cn
  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
  GROUP BY a.dst, b.dst)
SELECT c.src, c.dst,
  round(COALESCE(cn, 0) / (da.d + db.d - COALESCE(cn, 0)), 4) AS jaccard
FROM canon c
LEFT JOIN common ON common.s = c.src AND common.t = c.dst
JOIN deg da ON da.id = c.src
JOIN deg db ON db.id = c.dst"""


def _pagerank_sql(iterations: int = 10) -> str:
    parts = [
        "WITH e AS (SELECT CAST(n_nationkey AS BIGINT) AS src,"
        " CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation"
        " UNION ALL SELECT CAST(n_nationkey AS BIGINT),"
        " CAST((n_nationkey + 7) % 25 AS BIGINT) FROM nation),",
        "v AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),",
        "outdeg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT v.id AS id, 0.15 + 0.85 *"
            f" COALESCE(SUM(r{k-1}.rank / outdeg.d), 0) AS rank"
            f" FROM v LEFT JOIN e ON e.dst = v.id"
            f" LEFT JOIN r{k-1} ON r{k-1}.id = e.src"
            f" LEFT JOIN outdeg ON outdeg.id = e.src GROUP BY v.id),")
    body = "\n".join(parts).rstrip(",")
    return (body + f"\nSELECT id, round(rank, 6) AS rank FROM r{iterations}")


def _ppr_sql(iterations: int = 10, sources: tuple = (0, 5),
             damping: float = 0.85) -> str:
    """Personalized-PageRank oracle: the _pagerank_sql superstep unroll
    with the teleport CASE (mass N/|S| on the source set, 0 elsewhere).
    (1-d) and d are emitted as the exact doubles Python computes
    (%.17e), and each contribution sum has exactly 2 addends (2-regular
    ring) — a commutative-exact IEEE sum — so every double matches the
    Spark side bit-for-bit before the round-6."""
    src_list = ", ".join(str(s) for s in sources)
    mass = "%.17e" % (25.0 / len(sources))
    base_c = "%.17e" % (1.0 - damping)
    d_c = "%.17e" % damping

    def tele(alias: str) -> str:
        return (f"CASE WHEN {alias}.id IN ({src_list}) THEN {mass}"
                " ELSE CAST(0 AS DOUBLE) END")

    parts = [
        "WITH e AS (SELECT CAST(n_nationkey AS BIGINT) AS src,"
        " CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation"
        " UNION ALL SELECT CAST(n_nationkey AS BIGINT),"
        " CAST((n_nationkey + 7) % 25 AS BIGINT) FROM nation),",
        "v AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),",
        "outdeg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),",
        f"r0 AS (SELECT id, {tele('v')} AS rank FROM v),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT v.id AS id,"
            f" ({base_c} * {tele('v')}) + {d_c} *"
            f" COALESCE(SUM(r{k-1}.rank / outdeg.d), 0) AS rank"
            f" FROM v LEFT JOIN e ON e.dst = v.id"
            f" LEFT JOIN r{k-1} ON r{k-1}.id = e.src"
            f" LEFT JOIN outdeg ON outdeg.id = e.src GROUP BY v.id),")
    body = "\n".join(parts).rstrip(",")
    return (body + f"\nSELECT id, round(rank, 6) AS rank FROM r{iterations}")


from gqlite_spark.operators.text import (PII_EMAIL as _EMAIL,
                                         PII_IPV4 as _IPV4,
                                         PII_PHONE as _PHONE,
                                         PII_SSN as _SSN,
                                         PII_CC as _CC,
                                         PII_IBAN as _IBAN,
                                         det_ln_e6_sql as _det_ln)


def oracle_sql() -> dict[str, str]:
    langs = ["en", "es", "fr", "de"]
    marker = {L: _marker_sum_sql(ws) for L, ws in _LANG_MARKERS.items()}
    lang_case = (
        f"CASE WHEN {marker['en']} >= {marker['es']} AND {marker['en']} >= "
        f"{marker['fr']} AND {marker['en']} >= {marker['de']} THEN 'en' "
        f"WHEN {marker['es']} >= {marker['fr']} AND {marker['es']} >= "
        f"{marker['de']} THEN 'es' "
        f"WHEN {marker['fr']} >= {marker['de']} THEN 'fr' ELSE 'de' END")
    lang_best = (f"GREATEST({marker['en']}, {marker['es']}, {marker['fr']},"
                 f" {marker['de']})")
    stop_sum = _marker_sum_sql(_STOPWORDS)
    ntok = ("CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
            " length(text) - length(replace(text, ' ', '')) + 1 END")

    shingles_cte = (
        "sh AS (SELECT doc_id AS id, unnest(list_distinct(list_transform("
        "generate_series(1, greatest(length(text) - 2, 0)),"
        " i -> substr(text, i, 3)))) AS s FROM documents WHERE doc_id < 300)")

    # curation_pipeline: the chained form of dedup_exact + text_quality
    # + text_langid + decontaminate, each fragment identical to its own
    # proven oracle; the chain is what the entry adds.  Hoisted so the
    # two purge variants below derive from the SAME proven fragments.
    curation_sql = (
        f"WITH enriched AS (SELECT doc_id, text,"
        f" CAST({ntok} AS BIGINT) AS n_tokens,"
        f" round(LEAST(1.0, 0.5 * LEAST(1.0, {stop_sum} / 5.0)"
        f" + 0.5 * LEAST(1.0, CAST({ntok} AS BIGINT) / 20.0)), 4) AS quality,"
        f" {lang_case} AS predicted_lang"
        " FROM documents WHERE doc_id % 7 <> 0),"
        " dd AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep"
        " FROM enriched),"
        " kept AS (SELECT * FROM dd WHERE doc_id = rep AND quality >= 0.5),"
        " kw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),"
        " gk AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, greatest(len(ws) - 7, 0)),"
        " i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS s FROM kw),"
        " bw AS (SELECT string_split(text, ' ') AS ws FROM documents"
        " WHERE doc_id % 7 = 0),"
        " gb AS (SELECT DISTINCT unnest(list_transform("
        "generate_series(1, greatest(len(ws) - 7, 0)),"
        " i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS s FROM bw),"
        " dirty AS (SELECT DISTINCT gk.doc_id FROM gk JOIN gb USING (s))"
        " SELECT predicted_lang, COUNT(*)::BIGINT AS n_docs,"
        " SUM(n_tokens)::BIGINT AS sum_tokens,"
        " SUM(CAST(ROUND(quality * 10000) AS BIGINT))::BIGINT AS sum_quality_e4"
        " FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)"
        " GROUP BY predicted_lang")

    # curation_best_by: the same pipeline with the exact-hash purge's
    # ordering swapped to argmax (max n_tokens, tie -> min id)
    curation_best_by_sql = curation_sql.replace(
        " dd AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep"
        " FROM enriched),"
        " kept AS (SELECT * FROM dd WHERE doc_id = rep AND quality >= 0.5),",
        " dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text)"
        " ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM enriched),"
        " kept AS (SELECT * EXCLUDE (rn) FROM dd WHERE rn = 1"
        " AND quality >= 0.5),")
    assert curation_best_by_sql != curation_sql   # splice must land

    # curation_keep_best: the near-dup survivor purge (recursive-CTE
    # pair closure over the TRAIN split + argmax-by-length survivor
    # pick, the dedup_keep_best oracle's machinery) spliced in front of
    # the proven curation fragments — enriched CTE reused verbatim
    kb_enriched = curation_sql[curation_sql.index("enriched AS"):
                               curation_sql.index("), dd AS")] + ")"
    kb_pairs = _MINHASH_ORACLE_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id % 7 <> 0", 1)
    curation_keep_best_sql = (
        "WITH RECURSIVE pairs AS (" + kb_pairs + "),"
        " und AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
        " UNION SELECT doc_b, doc_a FROM pairs),"
        " reach(a, b) AS (SELECT a, b FROM und"
        " UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a"
        " WHERE r.a <> u.b),"
        " clus AS (SELECT a AS m, LEAST(a, MIN(b)) AS rep"
        " FROM reach GROUP BY a),"
        " sc AS (SELECT c.m, c.rep, CAST(length(d.text) AS BIGINT)"
        "        AS score FROM clus c"
        "        JOIN documents d ON d.doc_id = c.m),"
        " purge AS (SELECT m AS doc_id FROM ("
        "   SELECT m, row_number() OVER (PARTITION BY rep"
        "          ORDER BY score DESC, m ASC) AS rn FROM sc)"
        "   WHERE rn > 1),"
        " " + kb_enriched + ","
        " kept AS (SELECT * FROM enriched"
        "   WHERE doc_id NOT IN (SELECT doc_id FROM purge)"
        "   AND quality >= 0.5),"
        " kw AS (SELECT doc_id, string_split(text, ' ') AS ws"
        "        FROM kept),"
        " gk AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, greatest(len(ws) - 7, 0)),"
        " i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS s"
        " FROM kw),"
        " bw AS (SELECT string_split(text, ' ') AS ws FROM documents"
        " WHERE doc_id % 7 = 0),"
        " gb AS (SELECT DISTINCT unnest(list_transform("
        "generate_series(1, greatest(len(ws) - 7, 0)),"
        " i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS s"
        " FROM bw),"
        " dirty AS (SELECT DISTINCT gk.doc_id FROM gk JOIN gb"
        " USING (s))"
        " SELECT predicted_lang, COUNT(*)::BIGINT AS n_docs,"
        " SUM(n_tokens)::BIGINT AS sum_tokens,"
        " SUM(CAST(ROUND(quality * 10000) AS BIGINT))::BIGINT"
        " AS sum_quality_e4"
        " FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)"
        " GROUP BY predicted_lang")

    return {
        "curation_keep_best": curation_keep_best_sql,
        "curation_best_by": curation_best_by_sql,
        "rollup_incremental":
            "SELECT CAST(floor(date_part('epoch', ts) / 3600) * 3600"
            "            AS BIGINT) AS bucket_start,"
            " event_type, count(*) AS n,"
            # CAST the outer sum: DuckDB's sum(BIGINT) returns HUGEINT,
            # which fetchdf() lands as float64 and fails the driver's
            # dtype-strict hash against Spark's int64 (the r9 red row).
            " CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
            "      AS BIGINT) AS sum_cents,"
            " max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents"
            " FROM events GROUP BY 1, 2",
        "layout_attach_scan":
            "SELECT l_quantity, count(*) AS n,"
            " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            "      AS BIGINT) AS price_cents"
            " FROM lineitem WHERE l_quantity > 45 GROUP BY l_quantity",
        "layout_fold_scan":
            # base minus the LWW-updated id, UNION ALL the literal
            # upserts — incremental fold == this relation exactly
            "WITH t AS ("
            " SELECT o_orderkey AS id, o_custkey, o_totalprice"
            " FROM orders WHERE o_orderkey <> 1"
            " UNION ALL SELECT * FROM (VALUES"
            "  (CAST(90000001 AS BIGINT), CAST(7 AS BIGINT), 111.25),"
            "  (CAST(90000002 AS BIGINT), CAST(8 AS BIGINT), 222.5),"
            "  (CAST(90000003 AS BIGINT), CAST(7 AS BIGINT), 333.75),"
            "  (CAST(1 AS BIGINT), CAST(9999 AS BIGINT), 1.5))"
            "  v(id, o_custkey, o_totalprice))"
            " SELECT id, o_custkey, o_totalprice FROM t"
            " WHERE id IN (1, 3, 90000001, 90000002, 90000003)",
        "bucketed_ingest_scan":
            # save 2/3 + append 1/3 + rebucket == one-shot GROUP BY
            # over ALL of lineitem (nothing lost / doubled / misrouted)
            "SELECT l_quantity, count(*) AS n,"
            " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            "      AS BIGINT) AS price_cents"
            " FROM lineitem GROUP BY l_quantity",
        "stream_ingest_scan":
            # save 2/3 + STREAM 1/3 in as checkpointed micro-batches ==
            # one-shot GROUP BY over ALL of lineitem: the continuous
            # ingest path is exactly-once end-to-end
            "SELECT l_quantity, count(*) AS n,"
            " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            "      AS BIGINT) AS price_cents"
            " FROM lineitem GROUP BY l_quantity",
        "stream_clustered_scan":
            # save 2/3 clustered + STREAM 1/3 in + recluster == the
            # predicate GROUP BY over ALL of lineitem: the clustered
            # continuous-ingest path is exactly-once and the swap-
            # atomic rewrite loses nothing
            "SELECT l_quantity, count(*) AS n,"
            " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            "      AS BIGINT) AS price_cents"
            " FROM lineitem WHERE l_quantity > 45 GROUP BY l_quantity",
        "stream_upsert_scan":
            # STREAM events into a vertex group as micro-batches with
            # version_col=event_id == the plain argmax window over the
            # raw table: the version-aware cross-batch merge leaves the
            # GLOBAL max-version row per key no matter how rows fall
            # into batches
            "SELECT user_id, event_id, event_type,"
            " CAST(ROUND(value * 100) AS BIGINT) AS value_cents"
            " FROM (SELECT *, row_number() OVER (PARTITION BY user_id"
            "       ORDER BY event_id DESC) AS rn"
            "       FROM events WHERE user_id IS NOT NULL) WHERE rn = 1",
        "stream_rollup_scan":
            # build 2/3 + STREAM 1/3 in as checkpointed micro-batches ==
            # rollup_incremental's proven one-shot hourly GROUP BY over
            # ALL events: mergeable partials make streamed == one-shot
            # exactly, and the epoch fence means a replayed batch never
            # double-counts
            "SELECT CAST(floor(date_part('epoch', ts) / 3600) * 3600"
            "            AS BIGINT) AS bucket_start,"
            " event_type, count(*) AS n,"
            " CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
            "      AS BIGINT) AS sum_cents,"
            " max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents"
            " FROM events GROUP BY 1, 2",
        "gql_similar_topk":
            # the {similar:} GQL statement lowers onto the SAME
            # cosine_topk kernel sim_cosine_topk already proves; repr()
            # round-trips the query vector exactly, so the statement
            # route must match this oracle bit-for-bit
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
            " WHERE vec_id = 0),"
            " v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
            " SELECT vec_id, round(list_inner_product(v, qv) /"
            " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 4)"
            " AS cosine FROM v, q"
            " ORDER BY list_inner_product(v, qv) /"
            " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)))"
            " DESC, vec_id ASC LIMIT 10",
        "rollup_quantiles_read":
            # full estimator replay (operators/rollup.py::
            # rollup_quantiles): (0,512,64) width_bucket binning, then
            # per-(bucket, dims, q) the cumulative walk to the first
            # bin covering rank q*total with linear interpolation
            # inside it — the estimate VALUES must match bit-for-bit.
            # Bare decimal literals are DECIMAL in DuckDB (NOTES.md
            # pitfall) — every q is CAST to DOUBLE explicitly.
            "WITH binned AS ("
            " SELECT CAST(floor(date_part('epoch', ts) / 3600) * 3600"
            "             AS BIGINT) AS bucket_start,"
            " event_type,"
            " LEAST(GREATEST(CAST(floor(value / 8.0) AS BIGINT) + 1,"
            "                1), 64) AS bin,"
            " CAST(count(*) AS BIGINT) AS n"
            " FROM events WHERE value IS NOT NULL"
            " GROUP BY 1, 2, 3"
            "), cum AS ("
            " SELECT *,"
            " CAST(sum(n) OVER (PARTITION BY bucket_start, event_type"
            "                   ORDER BY bin) AS BIGINT) AS c,"
            " CAST(sum(n) OVER (PARTITION BY bucket_start, event_type)"
            "      AS BIGINT) AS tot"
            " FROM binned"
            "), hit AS ("
            " SELECT bucket_start, event_type, q, bin, n, c, tot,"
            " row_number() OVER (PARTITION BY bucket_start,"
            "                    event_type, q"
            "                    ORDER BY bin) AS rn"
            " FROM cum, (VALUES (CAST(0.5 AS DOUBLE)),"
            "               (CAST(0.99 AS DOUBLE))) qs(q)"
            " WHERE c >= q * tot"
            ")"
            " SELECT bucket_start, event_type, q,"
            " 0.0 + (bin - 1 + (q * tot - (c - n)) / n) * 8.0 AS value"
            " FROM hit WHERE rn = 1",
        "dedup_keep_best": (
            # the dedup_clusters closure verbatim, then argmax-by-
            # length (tie -> min id) via row_number — membership AND
            # the survivor choice are value-checked
            "WITH RECURSIVE pairs AS (" + _MINHASH_ORACLE_SQL + "),"
            " und AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
            " UNION SELECT doc_b, doc_a FROM pairs),"
            " reach(a, b) AS (SELECT a, b FROM und"
            " UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a"
            " WHERE r.a <> u.b),"
            " clus AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS"
            " cluster_rep FROM reach GROUP BY a),"
            " scored AS (SELECT c.doc_id, c.cluster_rep,"
            " CAST(length(d.text) AS BIGINT) AS score"
            " FROM clus c JOIN documents d ON d.doc_id = c.doc_id)"
            " SELECT doc_id, cluster_rep, score,"
            " row_number() OVER (PARTITION BY cluster_rep"
            " ORDER BY score DESC, doc_id ASC) = 1 AS keep"
            " FROM scored"),
        "rollup_coarsen":
            "SELECT CAST(floor(date_part('epoch', ts) / 86400) * 86400"
            "            AS BIGINT) AS bucket_start,"
            " event_type, count(*) AS n,"
            " CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
            "      AS BIGINT) AS sum_cents,"
            " min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS min_cents,"
            " max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents"
            " FROM events GROUP BY 1, 2",
        "topcount_cms": _topcount_cms_sql(_CMS_D, _CMS_W, _CMS_KEYS),
        "distinct_kmv":
            "WITH d AS ("
            "  SELECT DISTINCT event_type,"
            f"        {_md5_60bit('CAST(user_id AS VARCHAR)')} AS h"
            "  FROM events WHERE user_id IS NOT NULL"
            "), r AS ("
            "  SELECT event_type, h,"
            "         row_number() OVER (PARTITION BY event_type"
            "                            ORDER BY h) AS rn FROM d"
            "), s AS (SELECT * FROM r WHERE rn <= 64)"
            " SELECT event_type,"
            " CASE WHEN count(*) < 64 THEN count(*)"
            "      ELSE CAST(floor(63 * 1152921504606846976.0"
            "                      / max(h) + 0.5) AS BIGINT)"
            " END AS n_distinct_est"
            " FROM s GROUP BY event_type",
        "scan_filter_eq":
            "SELECT c_custkey, c_acctbal, c_mktsegment, c_name, c_nationkey"
            " FROM customer WHERE c_mktsegment = 'BUILDING'",
        "filter_in":
            "SELECT o_orderkey, o_custkey,"
            " CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,"
            " o_orderpriority, o_orderstatus, o_totalprice FROM orders"
            " WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
        "filter_range_and":
            "SELECT l_orderkey, l_discount, l_extendedprice, l_linenumber,"
            " l_linestatus, l_partkey, l_quantity, l_returnflag,"
            " CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) AS l_shipdate_epoch,"
            " l_suppkey, l_tax FROM lineitem"
            " WHERE l_quantity > 45 AND l_discount <= 0.02",
        "filter_or":
            "SELECT p_partkey, p_brand, p_name, p_retailprice, p_size, p_type"
            " FROM part WHERE p_size > 45 OR p_brand = 'Brand#33'",
        "filter_datetime":
            "SELECT o_orderkey, o_custkey,"
            " CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,"
            " o_orderpriority, o_orderstatus, o_totalprice FROM orders"
            " WHERE o_orderdate < TIMESTAMP '1996-07-01 00:00:00'",
        "point_lookup":
            "SELECT c_custkey, c_acctbal, c_mktsegment, c_name, c_nationkey"
            " FROM customer WHERE c_custkey = 42",
        "projection":
            "SELECT c_custkey, c_name, c_acctbal FROM customer"
            " WHERE c_mktsegment = 'MACHINERY'",
        "count_group":
            "SELECT COUNT(*)::BIGINT AS cnt FROM orders",
        "knn_near_limit":
            "SELECT vec_id, label FROM embeddings"
            " ORDER BY list_distance(embedding::DOUBLE[],"
            " (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)),"
            " vec_id LIMIT 10",
        "knn_near_limit_routed": _knn_routed_sql(64, 8, 10, 3, 64),
        "knn_near_limit_pq": _knn_pq_sql(16, 4, 4, 16, 16, 100, 10, 3),
        "knn_near_limit_filtered": _knn_filtered_sql(64, 8, 10, 4, 7, 64),
        "knn_compacted": _knn_compacted_sql(64, 8, 10, 11, 5,
                                            10_000_000, 64),
        "sim_knn_join_ivf": _knn_join_ivf_sql(16, 4, 3, 11, 3),
        "decontaminate_semantic": _decontaminate_semantic_sql(0.4, 7),
        "training_shards": _shards_sql(16, "ep1"),
        "pricing_summary":
            "SELECT l_returnflag, l_linestatus,"
            " SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))::BIGINT AS sum_qty_cents,"
            " SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_base_cents,"
            " SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))::BIGINT AS sum_disc_cents,"
            " SUM(CAST(ROUND(((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) * 100) AS BIGINT))::BIGINT AS sum_charge_cents,"
            " CAST(ROUND(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 100.0 / COUNT(*)) AS BIGINT) AS avg_qty_e4,"
            " CAST(ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) * 100.0 / COUNT(*)) AS BIGINT) AS avg_disc_e4,"
            " COUNT(*)::BIGINT AS count_order"
            " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"
            " GROUP BY l_returnflag, l_linestatus",
        "topk_orders":
            "SELECT o_orderkey, o_totalprice FROM orders"
            " ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
        "distinct_segments":
            "SELECT DISTINCT c_mktsegment FROM customer",
        "join_region_revenue":
            "SELECT r_name,"
            " SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS revenue_cents,"
            " COUNT(*)::BIGINT AS n_orders"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
        "join_2hop_revenue":
            "SELECT c_mktsegment,"
            " SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))::BIGINT AS revenue_cents,"
            " COUNT(*)::BIGINT AS n_items"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
        "bucketed_join_revenue":
            "SELECT o_orderpriority,"
            " SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))::BIGINT AS revenue_cents,"
            " COUNT(*)::BIGINT AS n_items"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " GROUP BY o_orderpriority",
        "zorder_scan_revenue":
            "SELECT l_returnflag,"
            " SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))::BIGINT AS revenue_cents,"
            " COUNT(*)::BIGINT AS n_items"
            " FROM lineitem"
            " WHERE l_orderkey <= (SELECT CAST(FLOOR(MIN(l_orderkey)"
            "   + (MAX(l_orderkey) - MIN(l_orderkey)) / 10.0) AS BIGINT) FROM lineitem)"
            " AND l_suppkey <= (SELECT CAST(FLOOR(MIN(l_suppkey)"
            "   + (MAX(l_suppkey) - MIN(l_suppkey)) / 10.0) AS BIGINT) FROM lineitem)"
            " GROUP BY l_returnflag",
        "anti_join_no_orders":
            "SELECT c_custkey, c_nationkey FROM customer"
            " WHERE NOT EXISTS (SELECT 1 FROM orders"
            " WHERE o_custkey = c_custkey AND o_totalprice > 400000)",
        "upsert_lww":
            "SELECT user_id, event_id, event_type, value FROM events"
            " QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id"
            " ORDER BY ts DESC, event_id DESC) = 1",
        "window_rank_running":
            "SELECT o_custkey, o_orderkey, rank, running_cents FROM ("
            " SELECT o_custkey, o_orderkey,"
            " ROW_NUMBER() OVER (PARTITION BY o_custkey"
            "   ORDER BY o_orderdate, o_orderkey) AS rank,"
            " SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
            "   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
            "   ROWS UNBOUNDED PRECEDING)::BIGINT AS running_cents"
            " FROM orders) WHERE rank <= 3",
        "graph_walk_2hop_cond":
            "WITH e AS (SELECT CAST(n_nationkey AS BIGINT) AS src,"
            " CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation"
            " UNION ALL SELECT CAST(n_nationkey AS BIGINT),"
            " CAST((n_nationkey + 7) % 25 AS BIGINT) FROM nation),"
            " m AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation"
            " WHERE n_regionkey = 2)"
            " SELECT DISTINCT a.src AS n0, a.dst AS n1, b.dst AS n2"
            " FROM e a JOIN e b ON a.dst = b.src"
            " JOIN m ON m.id = a.dst"
            " WHERE a.src <> b.dst",
        "graph_motif_fork":
            "WITH e AS (SELECT CAST(n_nationkey AS BIGINT) AS src,"
            " CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation"
            " UNION ALL SELECT CAST(n_nationkey AS BIGINT),"
            " CAST((n_nationkey + 7) % 25 AS BIGINT) FROM nation)"
            " SELECT DISTINCT x.src AS a, x.dst AS b, y.dst AS c"
            " FROM e x JOIN e y ON x.src = y.src"
            " WHERE x.dst <> y.dst AND x.src <> x.dst AND x.src <> y.dst",
        "graph_khop":
            "SELECT 'c' || c_custkey AS id FROM customer WHERE c_nationkey = 1"
            " UNION SELECT 's' || s_suppkey FROM supplier WHERE s_nationkey = 1"
            " UNION SELECT 'r' || n_regionkey FROM nation WHERE n_nationkey = 1"
            " UNION SELECT 'o' || o_orderkey FROM orders"
            "  JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 1"
            " UNION SELECT 'n' || n2.n_nationkey FROM nation n1"
            "  JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey"
            "  WHERE n1.n_nationkey = 1 AND n2.n_nationkey <> 1",
        "graph_shortest_path":
            "WITH RECURSIVE e AS ("
            " SELECT CAST(a.n_nationkey AS BIGINT) AS src,"
            " CAST(b.n_nationkey AS BIGINT) AS dst,"
            " CAST(((a.n_nationkey * 7 + b.n_nationkey * 13) % 20) + 1 AS DOUBLE) AS w"
            " FROM nation a JOIN nation b"
            " ON (b.n_nationkey - a.n_nationkey) IN (1, 2)"
            " WHERE a.n_nationkey < 12 AND b.n_nationkey < 12),"
            " p(node, cost) AS ("
            " SELECT CAST(0 AS BIGINT), CAST(0 AS DOUBLE)"
            " UNION ALL SELECT e.dst, p.cost + e.w FROM p JOIN e ON e.src = p.node)"
            " SELECT CAST(MIN(cost) AS BIGINT) AS cost FROM p WHERE node = 11",
        "graph_connected_components":
            "SELECT CAST(n_nationkey AS BIGINT) AS id,"
            " MIN(CAST(n_nationkey AS BIGINT))"
            " OVER (PARTITION BY n_regionkey) AS component FROM nation",
        "graph_cc_twophase":
            "SELECT CAST(n_nationkey AS BIGINT) AS id,"
            " MIN(CAST(n_nationkey AS BIGINT))"
            " OVER (PARTITION BY n_regionkey) AS component FROM nation",
        "graph_pagerank": _pagerank_sql(10),
        "graph_pagerank_personalized": _ppr_sql(10),
        "graphml_roundtrip":
            # the GraphML synthesize→import→query round trip must hand
            # back exactly the nation-derived node set with coerced
            # typed props
            "SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS node_id,"
            " n_name AS name, CAST(n_regionkey AS BIGINT) AS region"
            " FROM nation",
        "graph_kcore": _kcore_sql(3, 8),
        "graph_label_prop": _label_prop_sql(4),
        "graph_node_jaccard": _NODE_JACCARD_SQL,
        "graph_clustering_coef": _CLUSTERING_COEF_SQL,
        "graph_closeness": _closeness_sql(8),
        "graph_betweenness": _betweenness_sql(5),
        "graph_random_walk": _random_walk_sql(4, 42),
        "dedup_minhash_lsh": _MINHASH_ORACLE_SQL,
        "sim_ann_lsh": _ann_lsh_sql(64, 4, 2, 10),
        "sim_ann_ivf": _ann_ivf_sql(16, 4, 10),
        "sim_ann_pq": _ann_pq_sql(4, 16, 16, 50, 10),
        "sim_ann_pq_indexed": _ann_pq_sql(4, 16, 16, 100, 10, query_id=1),
        "sim_ann_lsh_indexed": _ann_lsh_sql(64, 4, 2, 10, query_id=2),
        "sim_ann_ivf_indexed": _ann_ivf_sql(16, 4, 10, query_id=2),
        "sim_ann_ivfpq_indexed": _ann_ivfpq_sql(16, 4, 4, 16, 16, 100, 10,
                                                query_id=3),
        "sample_cluster": _sample_cluster_sql(8, 5),
        "graph_degrees":
            "WITH e AS (SELECT 'o' || o_orderkey AS src,"
            " 'c' || o_custkey AS dst FROM orders),"
            " outd AS (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src),"
            " ind AS (SELECT dst AS id, COUNT(*) AS c FROM e GROUP BY dst)"
            " SELECT COALESCE(o.id, i.id) AS id,"
            " COALESCE(i.c, 0)::BIGINT AS in_degree,"
            " COALESCE(o.c, 0)::BIGINT AS out_degree,"
            " (COALESCE(i.c, 0) + COALESCE(o.c, 0))::BIGINT AS degree"
            " FROM outd o FULL OUTER JOIN ind i ON o.id = i.id",
        "graph_scc":
            "SELECT CAST(n_nationkey AS BIGINT) AS id,"
            " MIN(CAST(n_nationkey AS BIGINT))"
            " OVER (PARTITION BY n_regionkey) AS component FROM nation",
        "stats_entropy_gain":
            "WITH t AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),"
            " lc AS (SELECT lang, COUNT(*)::DOUBLE AS c FROM documents GROUP BY lang),"
            " h AS (SELECT round(SUM(-(c/n) * log2(c/n)), 6) AS entropy_lang"
            "       FROM lc, t),"
            " sc AS (SELECT source, lang, COUNT(*)::DOUBLE AS c FROM documents"
            "        GROUP BY source, lang),"
            " sn AS (SELECT source, SUM(c) AS fc FROM sc GROUP BY source),"
            " hc AS (SELECT round(SUM((sc.c/t.n) * -log2(sc.c/sn.fc)), 6)"
            "        AS cond_entropy FROM sc JOIN sn ON sc.source = sn.source, t)"
            " SELECT h.entropy_lang, hc.cond_entropy,"
            " round(h.entropy_lang - hc.cond_entropy, 6) AS info_gain"
            " FROM h, hc",
        "hmm_viterbi": _hmm_sql("viterbi"),
        "hmm_forward": _hmm_sql("forward"),
        "bayes_classify": _BAYES_ORACLE_SQL,
        "graph_triangles":
            "WITH e AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src,"
            " CAST(b.n_nationkey AS BIGINT) AS dst FROM nation a"
            " JOIN nation b ON a.n_regionkey = b.n_regionkey"
            " AND a.n_nationkey < b.n_nationkey),"
            " t AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c FROM e ab"
            " JOIN e bc ON ab.dst = bc.src"
            " JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst),"
            " u AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t"
            " UNION ALL SELECT c FROM t)"
            " SELECT id, COUNT(*)::BIGINT AS triangles FROM u GROUP BY id",
        "dedup_exact":
            "SELECT md5(text) AS text_hash, MIN(doc_id)::BIGINT AS representative,"
            " COUNT(*)::BIGINT AS n_copies FROM documents GROUP BY md5(text)",
        "dedup_url":
            # predicts the canonicalize→dedup round trip: every messy
            # variant (case, :80, utm params, trailing /, fragment) must
            # collapse to http://www.<lower(source)>.com/<doc_id//4>
            "SELECT 'http://www.' || lower(source) || '.com/' ||"
            " CAST(doc_id // 4 AS VARCHAR) AS url_canon,"
            " MIN(doc_id)::BIGINT AS rep_id, COUNT(*)::BIGINT AS n_copies"
            " FROM documents GROUP BY 1",
        "sample_shuffle":
            "SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key"
            " FROM documents ORDER BY shuffle_key, doc_id LIMIT 100",
        "dedup_ngram_jaccard":
            f"WITH {shingles_cte},"
            " sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),"
            " inter AS (SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS c"
            " FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)"
            " SELECT doc_a, doc_b,"
            " round(c / (sa.n + sb.n - c), 4) AS jaccard"
            " FROM inter JOIN sizes sa ON sa.id = doc_a"
            " JOIN sizes sb ON sb.id = doc_b"
            " WHERE c / (sa.n + sb.n - c) >= 0.5",
        "dedup_simhash": _simhash_sql(6),
        "dedup_lines": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
            " FROM documents),"
            " chunks AS (SELECT doc_id,"
            " unnest(generate_series(1, CAST(ceil(len(t)/8.0) AS BIGINT)))"
            " AS pos, t FROM toks),"
            " lines AS (SELECT doc_id, pos,"
            " array_to_string(list_slice(t, (pos-1)*8+1, pos*8), ' ')"
            " AS line FROM chunks),"
            " lh AS (SELECT doc_id, pos, line, md5(trim(lower(line))) AS h,"
            " length(trim(line)) >= 1 AS elig FROM lines),"
            " dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM lh"
            " WHERE elig) GROUP BY h HAVING COUNT(*) >= 2),"
            " flagged AS (SELECT l.doc_id, l.pos, l.line,"
            " (d.h IS NOT NULL AND l.elig) AS rm"
            " FROM lh l LEFT JOIN dup d ON l.h = d.h)"
            " SELECT doc_id,"
            " COALESCE(string_agg(CASE WHEN NOT rm THEN line END, chr(10)"
            " ORDER BY pos), '') AS text,"
            " COUNT(*)::BIGINT AS n_lines,"
            " SUM(CASE WHEN rm THEN 1 ELSE 0 END)::BIGINT AS n_removed"
            " FROM flagged GROUP BY doc_id"),
        "dedup_embedding_cosine":
            "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
            " n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM v)"
            " SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,"
            " round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine"
            " FROM n a JOIN n b ON a.vec_id < b.vec_id"
            " WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45",
        "text_token_stats":
            f"SELECT doc_id, length(text)::BIGINT AS n_chars,"
            f" CAST({ntok} AS BIGINT) AS n_tokens,"
            f" round(length(replace(text, ' ', '')) / CAST({ntok} AS BIGINT), 4)"
            f" AS avg_token_len FROM documents",
        "text_quality":
            f"SELECT doc_id, CAST({ntok} AS BIGINT) AS n_tokens,"
            f" round({stop_sum} / CAST({ntok} AS BIGINT), 4) AS stopword_ratio,"
            f" round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
            f" / length(text), 4) AS digit_ratio,"
            f" round(LEAST(1.0, 0.5 * LEAST(1.0, {stop_sum} / 5.0)"
            f" + 0.5 * LEAST(1.0, CAST({ntok} AS BIGINT) / 20.0)), 4) AS quality"
            f" FROM documents",
        "text_langid":
            f"SELECT doc_id, {lang_case} AS predicted_lang,"
            f" CAST({lang_best} AS BIGINT) AS marker_hits FROM documents",
        "text_fingerprint":
            "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents",
        "text_redact_pii": (
            # same 6 patterns, same order as operators/text.redact_pii —
            # patterns live in the Java∩RE2 subset so one string works in
            # both engines; counts are pre-redaction (on original text)
            "SELECT doc_id,"
            " regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(regexp_replace("
            f"text, '{_EMAIL}', '<EMAIL>', 'g'), '{_IPV4}', '<IP>', 'g'),"
            f" '{_PHONE}', '<PHONE>', 'g'), '{_SSN}', '<SSN>', 'g'),"
            f" '{_CC}', '<CC>', 'g'), '{_IBAN}', '<IBAN>', 'g') AS text,"
            f" len(regexp_extract_all(text, '{_EMAIL}'))::BIGINT AS n_emails,"
            f" len(regexp_extract_all(text, '{_IPV4}'))::BIGINT AS n_ipv4,"
            f" len(regexp_extract_all(text, '{_PHONE}'))::BIGINT AS n_phones,"
            f" len(regexp_extract_all(text, '{_SSN}'))::BIGINT AS n_ssn,"
            f" len(regexp_extract_all(text, '{_CC}'))::BIGINT AS n_cc,"
            f" len(regexp_extract_all(text, '{_IBAN}'))::BIGINT AS n_iban"
            " FROM documents"),
        "text_repetition":
            "WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks"
            " FROM documents),"
            " m AS (SELECT doc_id, len(toks) AS n,"
            " len(list_distinct(toks)) AS nd,"
            " CASE WHEN len(toks) >= 3 THEN"
            " list_transform(generate_series(1, len(toks) - 2),"
            " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
            " ELSE [] END AS grams FROM base),"
            " tokc AS (SELECT doc_id, tok, COUNT(*) AS c FROM"
            " (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY doc_id, tok),"
            " top AS (SELECT doc_id, MAX(c) AS mc FROM tokc GROUP BY doc_id)"
            " SELECT m.doc_id, n AS n_tokens, round(nd / n, 4) AS distinct_ratio,"
            " CASE WHEN n >= 3 THEN round((len(grams) -"
            " len(list_distinct(grams))) / len(grams), 4)"
            " ELSE 0.0 END AS dup_3gram_frac,"
            " round(mc / n, 4) AS top_token_frac"
            " FROM m JOIN top ON m.doc_id = top.doc_id",
        "text_tfidf":
            "WITH tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM"
            " (SELECT doc_id, unnest(string_split(text, ' ')) AS tok"
            " FROM documents) GROUP BY doc_id, tok),"
            " nn AS (SELECT COUNT(*) AS n FROM documents),"
            " idf AS (SELECT term, ln((1 + (SELECT n FROM nn)) /"
            " (1 + COUNT(DISTINCT doc_id))) + 1.0 AS idf"
            " FROM tf GROUP BY term),"
            " r AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS x,"
            " row_number() OVER (PARTITION BY tf.doc_id"
            " ORDER BY tf.tf * idf.idf DESC, tf.term ASC) AS rank"
            " FROM tf JOIN idf ON tf.term = idf.term)"
            " SELECT doc_id, rank, term, round(x, 4) AS tfidf FROM r"
            " WHERE rank <= 5",
        "sim_cosine_topk":
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
            " WHERE vec_id = 0),"
            " v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
            " SELECT vec_id, round(list_inner_product(v, qv) /"
            " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 4)"
            " AS cosine FROM v, q"
            " ORDER BY list_inner_product(v, qv) /"
            " (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)))"
            " DESC, vec_id ASC LIMIT 10",
        "sim_knn_join":
            "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
            " q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv"
            " FROM embeddings WHERE vec_id < 5),"
            " s AS (SELECT q.q_id, v.vec_id, list_inner_product(v.v, q.qv) /"
            " (sqrt(list_inner_product(v.v, v.v)) *"
            " sqrt(list_inner_product(q.qv, q.qv))) AS cos FROM v, q)"
            " SELECT q_id, vec_id, rank, round(cos, 4) AS cosine FROM ("
            " SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY q_id"
            " ORDER BY cos DESC, vec_id ASC) AS rank FROM s)"
            " WHERE rank <= 5",
        "window_interval_join":
            "WITH e AS (SELECT event_id, user_id, event_type,"
            " CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),"
            " t AS (SELECT user_id, event_id AS trigger_id, es AS trigger_es"
            "       FROM e WHERE event_type = 'click'),"
            " p AS (SELECT user_id, event_id AS effect_id, es AS effect_es"
            "       FROM e WHERE event_type = 'purchase')"
            " SELECT t.user_id, trigger_id, effect_id, trigger_es,"
            " effect_es, effect_es - trigger_es AS lag_s"
            " FROM t JOIN p ON p.user_id = t.user_id"
            " AND p.effect_es >= t.trigger_es"
            " AND p.effect_es <= t.trigger_es + 3600",
        "window_tumbling":
            "SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_start,"
            " event_type, COUNT(*)::BIGINT AS n_events,"
            " SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS sum_value_cents,"
            " CAST(ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100.0 / COUNT(*)) AS BIGINT) AS avg_value_e4"
            " FROM events GROUP BY 1, 2",
        "window_sliding":
            "WITH ev AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600"
            " AS h, value FROM events),"
            " w AS (SELECT h AS window_start, value FROM ev"
            " UNION ALL SELECT h - 3600, value FROM ev)"
            " SELECT window_start, COUNT(*)::BIGINT AS n_events,"
            " SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS sum_value_cents"
            " FROM w GROUP BY window_start",
        "window_session":
            "WITH ev AS (SELECT user_id, event_id,"
            " CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),"
            " l AS (SELECT *, LAG(es) OVER (PARTITION BY user_id"
            " ORDER BY es, event_id) AS prev FROM ev),"
            " m AS (SELECT *, CASE WHEN prev IS NULL OR es - prev > 1800"
            " THEN 1 ELSE 0 END AS brk FROM l),"
            " s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id"
            " ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM m)"
            " SELECT user_id, MIN(es)::BIGINT AS session_start,"
            " COUNT(*)::BIGINT AS n_events,"
            " (MAX(es) - MIN(es))::BIGINT AS duration_s"
            " FROM s GROUP BY user_id, sess",
        "multimodal_bytes":
            "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,"
            " md5(text) AS digest FROM documents",
        "multimodal_av_meta":
            # predicts the encode→header-parse round trip of REAL A/V
            # container bytes (synth_media_payloads →
            # decode_media_headers): wav/mp4 alternate by doc_id % 2;
            # WAV duration is all-integer samples*1000 // rate
            "SELECT doc_id,"
            " CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'"
            " ELSE 'video/mp4' END AS media_type,"
            " CAST(CASE WHEN doc_id % 2 = 0"
            " THEN ((doc_id % 500 + 1) * 1000) //"
            " (8000 + (n_chars % 8) * 1000)"
            " ELSE doc_id % 90000 + 1 END AS BIGINT) AS duration_ms,"
            " CAST(CASE WHEN doc_id % 2 = 0"
            " THEN 8000 + (n_chars % 8) * 1000"
            " ELSE 0 END AS INTEGER) AS sample_rate,"
            " CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) // 2 + 1"
            " ELSE 0 END AS INTEGER) AS channels,"
            " CAST(CASE WHEN doc_id % 2 = 1 THEN n_chars % 320 + 16"
            " ELSE 0 END AS INTEGER) AS width,"
            " CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 240 + 16"
            " ELSE 0 END AS INTEGER) AS height FROM documents",
        "multimodal_meta":
            # predicts the encode→header-parse round trip of REAL image
            # bytes (synth_image_payloads → decode_image_headers): format
            # cycles by doc_id % 4, dims from n_chars/doc_id, png+gif are
            # multi-frame — any parser or synthesizer defect breaks this
            "SELECT doc_id,"
            " CASE doc_id % 4 WHEN 0 THEN 'image/png'"
            " WHEN 1 THEN 'image/gif' WHEN 2 THEN 'image/bmp'"
            " ELSE 'image/jpeg' END AS media_type,"
            " CAST(n_chars % 64 + 1 AS INTEGER) AS width,"
            " CAST(doc_id % 48 + 1 AS INTEGER) AS height,"
            " CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN doc_id % 3 + 1"
            " ELSE 1 END AS INTEGER) AS n_frames FROM documents",
        "multimodal_resize":
            # predicts decode_image_headers -> _fit_dims over the synth
            # corpus: orig dims from the synth_image_payloads formulas,
            # out dims = fit-longest-side-into-32 floor math
            "WITH m AS (SELECT doc_id,"
            " CASE doc_id % 4 WHEN 0 THEN 'image/png'"
            " WHEN 1 THEN 'image/gif' WHEN 2 THEN 'image/bmp'"
            " ELSE 'image/jpeg' END AS media_type,"
            " (n_chars % 64 + 1)::INTEGER AS ow,"
            " (doc_id % 48 + 1)::INTEGER AS oh FROM documents)"
            " SELECT doc_id, media_type, ow AS orig_width,"
            " oh AS orig_height,"
            " CAST(CASE WHEN greatest(ow, oh) <= 32 THEN ow"
            " ELSE greatest(1, ow * 32 // greatest(ow, oh)) END"
            " AS INTEGER) AS width,"
            " CAST(CASE WHEN greatest(ow, oh) <= 32 THEN oh"
            " ELSE greatest(1, oh * 32 // greatest(ow, oh)) END"
            " AS INTEGER) AS height FROM m",
        "multimodal_frames":
            # frames-per-format (png/gif multi-frame, bmp/jpeg 1), k =
            # min(3, frames), frame_idx = frames*j//k, md5 placeholder
            "WITH m AS (SELECT doc_id,"
            " CASE doc_id % 4 WHEN 0 THEN 'image/png'"
            " WHEN 1 THEN 'image/gif' WHEN 2 THEN 'image/bmp'"
            " ELSE 'image/jpeg' END AS media_type,"
            " CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN doc_id % 3 + 1"
            " ELSE 1 END AS INTEGER) AS f FROM documents),"
            " j AS (SELECT m.*, unnest(generate_series(0,"
            " least(3, f) - 1)) AS j FROM m)"
            " SELECT doc_id, media_type, f AS n_frames,"
            " CAST(f * j // least(3, f) AS INTEGER) AS frame_idx,"
            " md5(doc_id::VARCHAR || ':' ||"
            " (f * j // least(3, f))::VARCHAR) AS frame_ref FROM j",
        "multimodal_features":
            # byte histogram of the utf-8 payload; the corpus text is
            # ASCII at every SF (bytes == codepoints), so per-char ord
            # binning reproduces numpy's byte bincount exactly
            "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,"
            " array_to_string(list_transform(generate_series(0, 15),"
            " b -> len(list_filter(list_transform("
            " generate_series(1, length(text)), i -> ord(text[i])),"
            " o -> o // 16 = b))), ',') AS features FROM documents",
        "pack_sequences":
            "SELECT doc_id, n_chars, (doc_id % 8)::BIGINT AS bucket,"
            " (SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)"
            " - n_chars)::BIGINT AS offset,"
            " ((SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)"
            " - n_chars) // 10000)::BIGINT AS seq_id"
            " FROM documents",
        "text_token_budget":
            f"SELECT doc_id, CAST({ntok} AS BIGINT) AS n_ws_tokens,"
            " len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))"
            "::BIGINT AS n_bpe_tokens,"
            " round(length(text) / len(regexp_extract_all(text,"
            " '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')), 4) AS chars_per_bpe_token"
            " FROM documents",
        "text_winnow_fp":
            "WITH d AS (SELECT doc_id, text FROM documents"
            " WHERE doc_id < 200 AND length(text) >= 11),"
            " h AS (SELECT doc_id, list_transform("
            "generate_series(1, length(text) - 7),"
            f" i -> {_md5_60bit('substr(text, i, 8)')}) AS hs FROM d),"
            " m AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, len(hs) - 3),"
            " j -> list_min(hs[j:j+3]))) AS fps FROM h)"
            " SELECT doc_id, unnest(fps) AS fp FROM m",
        "text_chunking":
            # 64-token chunks, 8-token overlap → step 56; chunk_idx from
            # the start offset; DuckDB list slice is inclusive-inclusive
            "WITH base AS (SELECT doc_id,"
            " string_split(coalesce(text, ''), ' ') AS tk FROM documents),"
            " ex AS (SELECT doc_id, tk, len(tk) AS n,"
            " unnest(generate_series(1, GREATEST(len(tk) - 8, 1), 56)) AS s"
            " FROM base)"
            " SELECT doc_id, ((s - 1) // 56 + 1)::BIGINT AS chunk_idx,"
            " LEAST(64, n - s + 1)::BIGINT AS n_chunk_tokens,"
            " array_to_string(tk[s : s + 63], ' ') AS chunk_text FROM ex",
        "text_lm_score":
            # integer micro-nat model — the ln is det_ln_e6_sql's libm-free
            # polynomial, bit-identical across engines by construction, so
            # the quantized model can never flip at a floor boundary
            "WITH d AS (SELECT doc_id, text FROM documents"
            " WHERE length(coalesce(text, '')) >= 3),"
            " g AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, length(text) - 2),"
            " i -> substr(text, i, 3))) AS g FROM d),"
            " c AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g),"
            " tot AS (SELECT SUM(c)::BIGINT AS t FROM c),"
            " m AS (SELECT g, " + _det_ln("c", "t", "duck") +
            " AS lp FROM c, tot)"
            " SELECT doc_id, COUNT(*)::BIGINT AS n_grams,"
            " ROUND(SUM(lp) / COUNT(*) / 1000000.0, 4) AS avg_logp"
            " FROM g JOIN m USING (g) GROUP BY doc_id",
        "asof_attribution":
            "SELECT c.event_id, c.user_id,"
            " epoch_us(c.ts)::BIGINT AS click_ts_us,"
            " v.event_id AS view_id, epoch_us(v.ts)::BIGINT AS view_ts_us"
            " FROM (SELECT * FROM events WHERE event_type = 'click') c"
            " ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v"
            " ON c.user_id = v.user_id AND v.ts <= c.ts",
        "dedup_clusters": (
            # transitive closure over the exact near-dup pair set (same
            # pair semantics as dedup_minhash_lsh's oracle), min-id rep
            "WITH RECURSIVE pairs AS (" + _MINHASH_ORACLE_SQL + "),"
            " und AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
            " UNION SELECT doc_b, doc_a FROM pairs),"
            " reach(a, b) AS (SELECT a, b FROM und"
            " UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a"
            " WHERE r.a <> u.b)"
            " SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_rep,"
            " a = LEAST(a, MIN(b)) AS keep FROM reach GROUP BY a"),
        "event_funnel": (
            "WITH e AS (SELECT user_id AS u, event_type AS t,"
            " epoch_us(ts)::BIGINT AS e FROM events),"
            " s1 AS (SELECT u, MIN(e) AS r FROM e WHERE t = 'view'"
            " GROUP BY u),"
            " s2 AS (SELECT e.u, MIN(e.e) AS r FROM e JOIN s1 ON e.u = s1.u"
            " WHERE e.t = 'click' AND e.e >= s1.r GROUP BY e.u),"
            " s3 AS (SELECT e.u, MIN(e.e) AS r FROM e JOIN s2 ON e.u = s2.u"
            " WHERE e.t = 'purchase' AND e.e >= s2.r GROUP BY e.u)"
            " SELECT 1::BIGINT AS step_idx, 'view' AS step,"
            " COUNT(*)::BIGINT AS n_users FROM s1"
            " UNION ALL SELECT 2::BIGINT, 'click', COUNT(*)::BIGINT FROM s2"
            " UNION ALL SELECT 3::BIGINT, 'purchase', COUNT(*)::BIGINT"
            " FROM s3"),
        "event_cohort_retention": (
            # all-integer day buckets: micros // 1e6 // 86400 (floor) —
            # DuckDB epoch() returns fractional DOUBLE seconds, avoid it
            "WITH ev AS (SELECT DISTINCT user_id AS u,"
            " (epoch_us(ts)::BIGINT // 1000000) // 86400 AS b FROM events),"
            " f AS (SELECT u, MIN(b) AS cohort FROM ev GROUP BY u)"
            " SELECT cohort AS cohort_bucket, b - cohort AS bucket_offset,"
            " COUNT(*)::BIGINT AS n_active"
            " FROM ev JOIN f USING (u) GROUP BY 1, 2"),
        "sample_mixture": (
            # rates computed with the SAME association as the Spark plan:
            # K = MIN(n/p); rate = (K*p)/n; threshold = first 8 hex chars
            # ('g' = keep-all sentinel, sorts above every hex digit)
            "WITH p AS (SELECT * FROM (VALUES"
            " ('en', 0.30::DOUBLE), ('zh', 0.20::DOUBLE),"
            " ('es', 0.20::DOUBLE), ('de', 0.15::DOUBLE),"
            " ('fr', 0.15::DOUBLE)) t(lang, prop)),"
            " c AS (SELECT lang, COUNT(*) AS n FROM documents"
            " WHERE lang IN (SELECT lang FROM p) GROUP BY lang),"
            " k AS (SELECT MIN(n / prop) AS k FROM c JOIN p USING (lang)),"
            " r AS (SELECT lang, LEAST(1.0, (k * prop) / n) AS rate"
            " FROM c JOIN p USING (lang), k),"
            " t AS (SELECT lang, CASE WHEN rate >= 1.0 THEN 'g' ELSE"
            # to_hex is UPPERCASE in DuckDB; md5 is lowercase — lower() or
            # the string compare silently diverges
            " lower(lpad(to_hex(CAST(FLOOR(rate * 4294967296.0) AS"
            " BIGINT)), 8, '0')) END AS thr FROM r)"
            " SELECT d.doc_id, d.lang, d.source FROM documents d"
            " JOIN t USING (lang)"
            " WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr"),
        "sample_stratified":
            "SELECT doc_id, lang, n_chars FROM documents"
            " WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <"
            " CASE lang WHEN 'en' THEN '80000000'"
            " WHEN 'zh' THEN '40000000' ELSE '20000000' END",
        "doc_length_percentiles":
            "WITH hist AS (SELECT lang, n_chars, COUNT(*) AS c"
            " FROM documents GROUP BY 1, 2),"
            " tot AS (SELECT lang, SUM(c) AS n FROM hist GROUP BY 1),"
            " cum AS (SELECT lang, n_chars,"
            " SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum"
            " FROM hist)"
            " SELECT cum.lang,"
            " MIN(CASE WHEN cum >= (50*n + 99) // 100 THEN n_chars END)::BIGINT AS p50,"
            " MIN(CASE WHEN cum >= (90*n + 99) // 100 THEN n_chars END)::BIGINT AS p90,"
            " MIN(CASE WHEN cum >= (99*n + 99) // 100 THEN n_chars END)::BIGINT AS p99,"
            " MAX(n)::BIGINT AS n_docs"
            " FROM cum JOIN tot USING (lang) GROUP BY cum.lang",
        "curation_pipeline": curation_sql,
        "decontaminate":
            "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws"
            " FROM documents),"
            " g AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(ws) - 7, 0)),"
            " i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS s"
            " FROM w),"
            " b AS (SELECT DISTINCT doc_id AS bench_id, s FROM g"
            " WHERE doc_id % 7 = 0),"
            " d AS (SELECT DISTINCT g.doc_id, b.bench_id FROM g"
            " JOIN b USING (s) WHERE g.doc_id % 7 <> 0)"
            " SELECT doc_id, COUNT(*)::BIGINT AS n_benchmark_matches"
            " FROM d GROUP BY doc_id",
        "rollup_revenue":
            "SELECT r_name, c_mktsegment,"
            " SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS revenue_cents,"
            " COUNT(*)::BIGINT AS n_orders"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY ROLLUP(r_name, c_mktsegment)",
        "correlated_subquery":
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders o"
            " WHERE o_totalprice > (SELECT AVG(i.o_totalprice) FROM orders i"
            "                       WHERE i.o_custkey = o.o_custkey)",
        "semi_join_urgent":
            "SELECT c_custkey, c_name FROM customer WHERE EXISTS ("
            " SELECT 1 FROM orders WHERE o_custkey = c_custkey"
            " AND o_orderpriority = '1-URGENT')",
    }
