"""The driver-side overlay (``Group.rows``) as an in-plan local relation.

Count-pinning guards (tiny data, no wall clocks): reading the overlay
runs no Spark job, and a local write keeps the loaded kNN index handle
and the bulk row count, so planning the next routed ``$near`` runs no
job either; the Spark jobs of each persisted-index build; and the
py4j commands of a ``$near`` plan, which must not grow with the
vector's dimension.  Plus a
type round-trip: the Arrow-built overlay reads back
the same rows as the list-of-tuples builder it replaced."""

import contextlib
import itertools

from pyspark.sql import functions as F

from gqlite_spark.catalog import Group
from gqlite_spark.gql.ast import BinaryLit, DatetimeLit

_GROUPS = itertools.count()


@contextlib.contextmanager
def _count_jobs(spark):
    """Count the Spark jobs the body submits (under its own job group)."""
    sc = spark.sparkContext
    group = f"overlay-test-{next(_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    out = {}
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _count_round_trips(spark):
    """Count the driver→JVM py4j commands the body sends.  Object
    releases (``m\\nd\\n…``) are left out: Python's garbage collector
    sends them whenever it frees a proxy, so they come in random
    bursts."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    out = {"n": 0}

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            out["n"] += 1
        return send(command, *args, **kwargs)
    client.send_command = counting
    try:
        yield out
    finally:
        client.send_command = send


def _group(spark, name, is_edge=False):
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph(name)
    g = db.catalog.graphs[name]
    return db, g.create_group("g", is_edge=is_edge)


def test_local_df_is_a_job_free_local_table_scan(spark):
    _, grp = _group(spark, "ov_scan")
    for i in range(20):
        grp.upsert_vertex(i, {"n": i, "vec": [float(i), 1.0]})
    df = grp._local_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    with _count_jobs(spark) as c:
        rows = df.collect()
    assert c["jobs"] == 0
    assert sorted(r["id"] for r in rows) == list(range(20))


def test_local_write_keeps_index_handle_and_bulk_count(spark, tmp_path):
    """After a local upsert on a group whose index was already probed,
    planning the routed $near and row_count() run no job; a bulk delete
    still detaches the index and re-counts."""
    db, grp = _group(spark, "ov_knn")
    grp.register_df(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(200)],
        "id long, vec array<double>"))
    gql = ("{query: 'g', in: 'ov_knn',"
           " where: {vec: {limit: 3, $near: [0, 0]}}};")
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        grp.build_ivf_index("vec", str(tmp_path / "ivf"))
        assert [r["id"] for r in db.query_df(gql).collect()] == [0, 1, 2]
        assert grp._vindex["vec"].df is not None

        grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
        with _count_jobs(spark) as c:
            routed = db.query_df(gql)
            n = grp.row_count()
        assert c["jobs"] == 0
        assert n == 201
        assert "list_id" in routed._jdf.queryExecution().toString()
        assert [r["id"] for r in routed.collect()] == [0, 999, 1]

        grp.delete_where(F.col("id") == F.lit(999))
        assert not grp._vindex and not grp._ann_cache
        with _count_jobs(spark) as c:
            n = grp.row_count()
        assert c["jobs"] >= 1
        assert n == 200
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_reattach_does_not_reuse_stale_index_handle(spark, tmp_path):
    """A rebuild at the same path must reload: local writes keep the
    loaded handle, so re-attaching is what replaces it."""
    _, grp = _group(spark, "ov_reattach")
    grp.register_df(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(60)],
        "id long, vec array<double>"))
    path = str(tmp_path / "ivf")
    grp.build_ivf_index("vec", path)
    grp._vindex["vec"].df = "stale"
    grp.upsert_vertex(1000, {"vec": [1.0, 1.0]})
    assert grp._vindex["vec"].df == "stale"
    grp.attach_index("vec", path)
    assert grp._vindex["vec"].df is None


def _list_local_df(self):
    """The list-of-tuples overlay builder the Arrow one replaced."""
    schema = self.schema_struct()
    prop_names = sorted(self.meta.props)
    data = []
    for key, props in self.rows.items():
        props = props or {}
        base = [key[0], key[2], key[1]] if self.meta.is_edge else [key]
        data.append(tuple(base + [props.get(p) for p in prop_names]))
    if not data and self.bulk_df is not None:
        return None
    return self.spark.createDataFrame(data, schema)


def _read_both(monkeypatch, grp, keycols):
    out = []
    for builder in (_list_local_df, Group._local_df):
        with monkeypatch.context() as m:
            m.setattr(Group, "_local_df", builder)
            grp._mat_cache = None
            df = grp.to_df()
            out.append((df.schema, sorted(
                df.collect(), key=lambda r: tuple(r[c] for c in keycols))))
    grp._mat_cache = None
    return out


def test_overlay_type_round_trip_vertex(spark, monkeypatch):
    _, grp = _group(spark, "ov_types_v")
    grp.register_df(spark.createDataFrame(
        [(1, 10, "bulk"), (2, 20, "shadowed")], "id long, n long, s string"))
    grp.upsert_vertex(2, {
        "n": 7, "x": 2.5, "s": "over", "d": DatetimeLit(1700000000.0),
        "b": BinaryLit(b"\x00\xffhi"), "v": [1, 2.5], "o": {"a": [1, 2]}})
    grp.upsert_vertex(3, {"n": True, "x": 4, "v": [0.0, -1.0]})
    grp.upsert_vertex(4, None)
    grp.upsert_vertex(5, {"s": None, "o": "plain", "b": b"raw"})
    (schema_old, old), (schema_new, new) = _read_both(
        monkeypatch, grp, ["id"])
    assert schema_old == schema_new
    assert old == new
    assert [r["id"] for r in new] == [1, 2, 3, 4, 5]
    assert new[2]["n"] == 1 and new[2]["x"] == 4.0      # bool, widened int
    assert bytes(new[1]["b"]) == b"\x00\xffhi"
    assert new[1]["d"] == 1700000000.0 and new[1]["o"] == '{"a": [1, 2]}'
    assert new[3]["n"] is None and new[3]["v"] is None

    # int -> number widening after the fact: cells written while the
    # column was integer stay Python ints in the dict; the Arrow column
    # reads them as doubles (the list builder refused them)
    grp.upsert_vertex(6, {"w": 3})
    grp.upsert_vertex(7, {"w": 0.5})
    got = {r["id"]: r["w"] for r in grp._local_df().collect()}
    assert got[6] == 3.0 and isinstance(got[6], float) and got[7] == 0.5


def test_overlay_type_round_trip_edge(spark, monkeypatch):
    _, grp = _group(spark, "ov_types_e", is_edge=True)
    grp.upsert_edge(1, "->", 2, {"w": 1.5, "label": "a", "k": 3})
    grp.upsert_edge(3, "<-", 2, {"w": 2, "v": [1.0, 0.0],
                                 "t": DatetimeLit(5.0)})
    grp.upsert_edge(4, "->", 5, None)
    grp.upsert_edge(1, "->", 5, {"k": False, "bin": BinaryLit(b"e"),
                                 "o": {"x": None}})
    (schema_old, old), (schema_new, new) = _read_both(
        monkeypatch, grp, ["src", "dst"])
    assert schema_old == schema_new
    assert old == new
    assert [(r["src"], r["direction"], r["dst"]) for r in new] == [
        (1, "->", 2), (1, "->", 5), (2, "->", 3), (4, "->", 5)]
    assert new[1]["k"] == 0 and new[2]["w"] == 2.0


def _line_group(spark, name, n=200):
    db, grp = _group(spark, name)
    grp.register_df(spark.createDataFrame(
        [(i, [float(i), 0.0], i % 2) for i in range(n)],
        "id long, vec array<double>, flag long"))
    return db, grp


def _route_jobs(spark, db, gql):
    """(jobs to plan, jobs to collect, ids) of a routed $near, measured
    after one warm-up run has loaded the index and the bulk count."""
    db.query_df(gql).collect()
    with _count_jobs(spark) as plan:
        df = db.query_df(gql)
    with _count_jobs(spark) as run:
        ids = [r["id"] for r in df.collect()]
    return plan["jobs"], run["jobs"], ids


def _routed_conf(spark, **extra):
    confs = {"spark.gqlite.knn.ann_threshold": "50", **extra}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return lambda: [spark.conf.unset(k) for k in confs]


def test_oversample_route_job_counts(spark, tmp_path):
    """Materialized IVF plus a plain predicate: the bounded refill loop
    ranks exact distances off the pruned index and pays one count job
    to see that k rows survived."""
    db, _ = _line_group(spark, "ov_jobs_os")
    db.exec(f"{{vindex: 'g', in: 'ov_jobs_os', on: 'vec',"
            f" path: '{tmp_path / 'ivf'}'}};")
    reset = _routed_conf(spark)
    try:
        got = _route_jobs(spark, db, (
            "{query: 'g', in: 'ov_jobs_os', where: {$and: [{flag: 0},"
            " {vec: {limit: 3, $near: [0, 0]}}]}};"))
    finally:
        reset()
    assert got == (2, 2, [0, 2, 4]), got


def test_ivfpq_route_job_counts(spark, tmp_path):
    """IVFPQ with every list probed: the first 4 candidates hold k rows
    for the plain $near; ``id >= 3`` leaves one survivor among them, so
    the loop counts the pool and refills once at 8 candidates."""
    db, _ = _line_group(spark, "ov_jobs_pq")
    db.exec(f"{{vindex: 'g', in: 'ov_jobs_pq', on: 'vec',"
            f" path: '{tmp_path / 'pq'}', nlist: 8, pq: true, m: 2,"
            " ksub: 8};")
    reset = _routed_conf(spark, **{"spark.gqlite.knn.nprobe": "8",
                                   "spark.gqlite.knn.pq_candidates": "4"})
    try:
        pure = _route_jobs(spark, db, (
            "{query: 'g', in: 'ov_jobs_pq',"
            " where: {vec: {limit: 3, $near: [0, 0]}}};"))
        refill = _route_jobs(spark, db, (
            "{query: 'g', in: 'ov_jobs_pq', where: {id: {$gte: 3},"
            " vec: {limit: 3, $near: [0, 0]}}};"))
    finally:
        reset()
    assert pure == (2, 2, [0, 1, 2]), pure
    assert refill == (5, 2, [3, 4, 5]), refill


def test_index_build_job_counts(spark, tmp_path):
    """Spark jobs per persisted-index build on a cached 400×8 corpus:
    the sampling-quantizer fetch and the index write are one job each,
    the LSH centering pass two, and each Lloyd iteration two (one
    aggregation, however many quantizers the index refines)."""
    import math

    from gqlite_spark.operators import similarity as S
    df = spark.createDataFrame(
        [(i, [math.cos(i / (j + 2)) for j in range(8)]) for i in range(400)],
        "vec_id long, embedding array<double>").cache()
    df.count()
    builds = {
        "lsh": (lambda p: S.save_ann_index(df, p, dim=8), 2),
        "lsh_center": (lambda p: S.save_ann_index(df, p, dim=8,
                                                  center=True), 4),
        "ivf": (lambda p: S.save_ivf_index(df, p), 2),
        "ivf_refine": (lambda p: S.save_ivf_index(df, p, refine_iters=2), 6),
        "pq": (lambda p: S.save_pq_index(df, p), 6),
        "pq_norefine": (lambda p: S.save_pq_index(df, p, refine_iters=0), 2),
        "ivfpq": (lambda p: S.save_ivfpq_index(df, p), 2),
        # one fused Lloyd aggregation refines both quantizers
        "ivfpq_refine": (lambda p: S.save_ivfpq_index(df, p,
                                                      refine_iters=1), 4),
    }
    try:
        got = {}
        for name, (build, _) in builds.items():
            with _count_jobs(spark) as c:
                build(str(tmp_path / name))
            got[name] = c["jobs"]
    finally:
        df.unpersist()
    assert got == {name: n for name, (_, n) in builds.items()}, got


def test_near_plan_round_trips_do_not_grow_with_dimension(spark):
    """Planning a $near+limit over a few local rows runs no Spark job
    and sends as many py4j commands at dimension 128 as at dimension 8:
    the distance is one SQL fold over one vector literal (one F.lit per
    element sent ~960 more commands at 128 than at 8)."""
    counts = {}
    for dim in (8, 128):
        db, grp = _group(spark, f"ov_rt{dim}")
        for i in range(4):
            grp.upsert_vertex(i, {"vec": [float(i + j) for j in range(dim)]})
        gql = ("{query: 'g', in: 'ov_rt%d', where: {vec: {limit: 3,"
               " $near: %s}}};" % (dim, [0.5] * dim))
        db.query_df(gql)
        with _count_jobs(spark) as c, _count_round_trips(spark) as rt:
            db.query_df(gql)
        assert c["jobs"] == 0
        counts[dim] = rt["n"]
    assert abs(counts[128] - counts[8]) <= 10, counts
