"""{layout} tables serve the GQL query path (VERDICT r8 missing #1 /
next #2).

Before r9, `{layout}` was an export only: the group's `{query}` scans
kept reading the original parquet, so a user who paid the layout
shuffle got pruned scans / bucket pruning only by leaving GQL for the
library API.  `Group.attach_layout` (and `{layout ... attach: true}`)
closes the gap — the reference anchor is the mdbx key-ordered table
being the reference's ONLY scan path (StorageEngine.cpp:552-564):
layout and query path are one thing there.
"""
import re

import pytest
from pyspark.sql import functions as F

from gqlite_spark import GQLite
from gqlite_spark.errors import GQLiteError


@pytest.fixture()
def db(spark):
    d = GQLite(spark)
    d.exec("{create: 'lg', group: ['item', 'ord']};")
    item = d.catalog.graphs["lg"].group("item")
    item.register_df(
        spark.range(0, 4000).selectExpr(
            "id", "id % 50 as cat", "cast(id * 1.5 as double) as v"),
        key_col="id")
    ord_ = d.catalog.graphs["lg"].group("ord")
    ord_.register_df(
        spark.range(0, 3000).selectExpr("id", "id % 7 as pr"),
        key_col="id")
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_attach_range_scans_copy_with_pushdown(db, tmp_path):
    """After attach, a GQL {query} with a predicate on the clustering
    column (a) reads the LAYOUT COPY, (b) pushes the predicate into
    that scan, and (c) returns exactly the pre-attach rows."""
    p = str(tmp_path / "lr")
    before = sorted(
        (r["id"], r["cat"]) for r in db.query_df(
            "{query: 'item', in: 'lg',"
            " where: {cat: {$gte: 10, $lt: 12}}};").collect())
    r = db.exec("{layout: 'item', in: 'lg', path: '" + p +
                "', by: 'cat', files: 8, attach: true};")[0]
    assert r.error is None and r.rows == [["attach_range", p, 4000]]
    q = db.query_df("{query: 'item', in: 'lg',"
                    " where: {cat: {$gte: 10, $lt: 12}}};")
    plan = _plan(q)
    assert "lr" in plan, plan  # the copy, not the original source
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "GreaterThanOrEqual(cat,10)" in pushed.group(1), plan
    assert "LessThan(cat,12)" in pushed.group(1), plan
    assert sorted((r["id"], r["cat"]) for r in q.collect()) == before
    # the copy's footer stats actually make the pushed range selective:
    # a 2-of-50 cat slice overlaps a small fraction of the files
    from gqlite_spark.sources.clustered import file_stats, overlap_fraction
    frac = overlap_fraction(file_stats(p, "cat"), 10, 12)
    assert frac <= 0.25, frac


def test_attach_bucket_prunes_point_lookup(db, tmp_path):
    """After a bucketed attach, a GQL point lookup on the bucket key
    reads 1/n_buckets of the files: SelectedBucketsCount in the scan."""
    p = str(tmp_path / "lb")
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', bucket_by: 'id', buckets: 8, attach: true};")[0]
    assert r.error is None and r.rows == [["attach_bucket", p, 3000]]
    q = db.query_df("{query: 'ord', in: 'lg', where: {id: 123}};")
    plan = _plan(q)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert (int(m.group(1)), int(m.group(2))) == (1, 8)
    assert [(r["id"], r["pr"]) for r in q.collect()] == [(123, 123 % 7)]


def test_attach_keeps_local_overlay_lww(db, tmp_path):
    """OLTP upserts after the attach stay correct: to_df unions
    layout ∪ local with last-writer-wins, exactly like bulk."""
    p = str(tmp_path / "lwl")
    db.exec("{layout: 'item', in: 'lg', path: '" + p +
            "', by: 'cat', attach: true};")
    db.exec("{upset: 'item', vertex: [[777, {cat: 5, v: 1.0}],"
            " [9999, {cat: 5, v: 2.0}]]};")
    grp = db.catalog.graphs["lg"].group("item")
    assert grp._layout_attach is not None  # local writes keep it
    got = sorted((r["id"], r["v"]) for r in db.query_df(
        "{query: 'item', in: 'lg', where: {cat: 5}};").collect())
    # 777 overwritten (LWW), 9999 brand new, the original cat=5 rows
    # minus the shadowed 777
    want = sorted([(i, i * 1.5) for i in range(5, 4000, 50) if i != 777]
                  + [(777, 1.0), (9999, 2.0)])
    assert got == want
    assert db.query_df("{query: 'item', in: 'lg',"
                       " where: {id: 777}};").collect()[0]["cat"] == 5


def test_bulk_mutation_detaches(db, tmp_path, spark):
    p = str(tmp_path / "det")
    db.exec("{layout: 'item', in: 'lg', path: '" + p +
            "', by: 'cat', attach: true};")
    grp = db.catalog.graphs["lg"].group("item")
    assert grp._layout_attach is not None
    grp.register_df(
        spark.range(0, 10).selectExpr("id", "id % 3 as cat",
                                      "cast(id as double) as v"),
        key_col="id")
    assert grp._layout_attach is None
    assert db.query_df("{query: 'item', in: 'lg'};").count() == 10


def test_attach_only_fresh_group(db, tmp_path, spark):
    """Attach an EXISTING layout to a group with no bulk registered
    (the fresh-session shape): schema accretes from the copy and the
    copy serves every query."""
    p = str(tmp_path / "fre")
    db.exec("{layout: 'item', in: 'lg', path: '" + p + "', by: 'cat'};")
    db.exec("{create: 'lg2', group: ['item']};")
    r = db.exec("{layout: 'item', in: 'lg2', path: '" + p +
                "', attach: true};")[0]
    assert r.error is None and r.rows == [["attach_range", p, 4000]]
    q = db.query_df("{query: 'item', in: 'lg2',"
                    " where: {cat: 11, id: {$lt: 200}}};")
    assert sorted(r["id"] for r in q.collect()) == [11, 61, 111, 161]
    assert "fre" in _plan(q)


def test_attach_errors(db, tmp_path):
    # no sidecar at path
    r = db.exec("{layout: 'item', in: 'lg', path: '" + str(tmp_path) +
                "/nope', attach: true};")[0]
    assert r.error and "no layout sidecar" in r.error
    # copy missing a group column
    p = str(tmp_path / "mis")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p + "', by: 'pr'};")
    grp = db.catalog.graphs["lg"].group("item")
    with pytest.raises(GQLiteError, match="lacks group column"):
        grp.attach_layout(p)
    # parser: by + bucket_by together still rejected
    r = db.exec("{layout: 'item', in: 'lg', path: '/tmp/x',"
                " by: 'cat', bucket_by: 'id'};")[0]
    assert r.error and "at most one" in r.error
    # parser: neither, without attach
    r = db.exec("{layout: 'item', in: 'lg', path: '/tmp/x'};")[0]
    assert r.error and "attach: true" in r.error


def test_cobucketed_pattern_join_exchange_free(db, tmp_path, spark):
    """A GQL 1-hop edge pattern with an endpoint condition over TWO
    attached co-bucketed layouts (vertices by id, edges by src) runs
    the semi-join exchange-free off the bucketed scans — and the
    endpoint key set is no longer force-broadcast (a non-selective
    condition at 100 TB must not be), the strategy is Catalyst/AQE's.
    """
    d = GQLite(spark)
    d.exec("{create: 'pat', group: ['person',"
           " ['person', 'knows', 'person']]};")
    g = d.catalog.graphs["pat"]
    pers, kn = g.group("person"), g.group("knows")
    pers.register_df(
        spark.range(0, 20000).selectExpr("id",
                                         "cast(id % 70 as long) as age"),
        key_col="id")
    kn.register_df(
        spark.range(0, 60000).selectExpr("id % 20000 as src",
                                         "(id * 7) % 20000 as dst"),
        src_col="src", dst_col="dst")
    pp, pk = str(tmp_path / "pv"), str(tmp_path / "pe")
    assert d.exec("{layout: 'person', in: 'pat', path: '" + pp +
                  "', bucket_by: 'id', buckets: 8,"
                  " attach: true};")[0].error is None
    assert d.exec("{layout: 'knows', in: 'pat', path: '" + pk +
                  "', bucket_by: 'src', buckets: 8,"
                  " attach: true};")[0].error is None
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        q = d.query_df("{query: 'knows', where:"
                       " [{age: {$gt: 65}}, ->, *]};")
        plan = _plan(q)
        # big-big shape: sort-merge semi-join, both scans bucketed,
        # ZERO shuffle exchange (the final orderBy range exchange is a
        # golden-format concern, not a join cost)
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # correctness: ids with id%70 in {66..69} -> 285 full 70-cycles
        # x 4 = 1140 vertices (remainder 0..49 adds none), 3 edges each
        assert q.count() == 3420
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucket_pin_restored_on_detach(db, tmp_path, spark):
    """The autoBucketedScan pin is scoped to the attach (VERDICT r9
    wrong #2): while a bucketed layout is attached the heuristic is
    off; after detach the PRIOR conf value is restored, so an
    unrelated bucketed table's full scan regains planner choice.  The
    pin is refcounted across groups, and a FAILED attach never pins."""
    import gc
    gc.collect()   # release pins of groups abandoned by earlier tests
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(conf)
    assert prior == "true"
    p1, p2 = str(tmp_path / "pa"), str(tmp_path / "pb")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p1 +
            "', bucket_by: 'id', buckets: 4, attach: true};")
    assert spark.conf.get(conf) == "false"
    # second attach on another group: refcount 2
    db.exec("{layout: 'item', in: 'lg', path: '" + p2 +
            "', bucket_by: 'id', buckets: 4, attach: true};")
    assert spark.conf.get(conf) == "false"
    # detach one (bulk mutation) -> still pinned by the other
    grp_ord = db.catalog.graphs["lg"].group("ord")
    grp_ord.register_df(spark.range(0, 10).selectExpr("id", "id as pr"),
                        key_col="id")
    assert grp_ord._layout_attach is None
    assert spark.conf.get(conf) == "false"
    # detach the last -> restored
    grp_item = db.catalog.graphs["lg"].group("item")
    grp_item.register_df(
        spark.range(0, 10).selectExpr("id", "id % 3 as cat",
                                      "cast(id as double) as v"),
        key_col="id")
    assert grp_item._layout_attach is None
    assert spark.conf.get(conf) == "true"
    # an unrelated bucketed table's FULL scan regains planner choice:
    # with the heuristic back on, the scan is NOT bucketed (no operator
    # above needs the distribution), i.e. parallelism is not capped
    from gqlite_spark.sources import bucketed as B
    p3 = str(tmp_path / "pc")
    B.save_bucketed(spark.range(0, 1000).selectExpr("id", "id % 9 as k"),
                    p3, key="id", n_buckets=4, table="pin_probe_t")
    full = B.attach_bucketed(spark, p3).groupBy().count()
    assert "Bucketed: true" not in _plan(full), _plan(full)
    # a failed attach (wrong schema) must not pin either
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p3 +
                "', attach: true};")[0]
    assert r.error is not None
    assert spark.conf.get(conf) == "true"


def test_layout_compact_folds_overlay(db, tmp_path, spark):
    """{layout ... compact: true} folds the overlay into the attached
    bucketed copy (VERDICT r9 missing #1): NEW ids are hash-routed
    into their bucket (pruning keeps working and finds them in the
    COPY), updates of existing ids stay in the overlay where LWW
    serves them, and the attach survives — ingest without re-export."""
    p = str(tmp_path / "cf")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    # overlay: 2 new ids + 1 update of an existing id
    db.exec("{upset: 'ord', vertex: [[5001, {pr: 1}], [5002, {pr: 2}],"
            " [123, {pr: 99}]]};")
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[2, 1]], r.error or r.rows
    grp = db.catalog.graphs["lg"].group("ord")
    assert grp._layout_attach is not None          # attach survives
    assert set(grp.rows) == {123}                  # update stays local
    # the new ids are served FROM the copy, bucket-pruned
    q = db.query_df("{query: 'ord', in: 'lg', where: {id: 5001}};")
    plan = _plan(q)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and (m.group(1), m.group(2)) == ("1", "8"), plan
    assert [(r["id"], r["pr"]) for r in q.collect()] == [(5001, 1)]
    # LWW still wins for the kept update
    assert db.query_df("{query: 'ord', in: 'lg', where: {id: 123}};"
                       ).collect()[0]["pr"] == 99
    # second compact: nothing new to fold, the update stays kept
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[0, 1]]
    # totals: 3000 base + 2 folded (+ the shadowed 123 served once)
    assert db.query_df("{query: 'ord', in: 'lg'};").count() == 3002


def test_layout_compact_range_and_errors(db, tmp_path, spark):
    """compact over a range layout appends sorted batches; error
    shapes: wrong path, nothing attached, edge group, params beside
    compact."""
    p = str(tmp_path / "cr")
    db.exec("{layout: 'item', in: 'lg', path: '" + p +
            "', by: 'cat', attach: true};")
    db.exec("{upset: 'item', vertex: [[8001, {cat: 3, v: 0.5}]]};")
    r = db.exec("{layout: 'item', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[1, 0]]
    grp = db.catalog.graphs["lg"].group("item")
    assert grp.rows == {} and grp._layout_attach is not None
    got = db.query_df("{query: 'item', in: 'lg', where: {id: 8001}};")
    assert [(x["id"], x["cat"]) for x in got.collect()] == [(8001, 3)]
    # wrong path while attached
    r = db.exec("{layout: 'item', in: 'lg', path: '/tmp/nope_cf',"
                " compact: true};")[0]
    assert r.error and "attached at" in r.error
    # params beside compact -> parse error
    r = db.exec("{layout: 'item', in: 'lg', path: '" + p +
                "', compact: true, buckets: 4};")[0]
    assert r.error and "ALREADY-attached" in r.error
    # nothing attached and no layout at path -> attach error
    db.exec("{create: 'lg3', group: ['x']};")
    db.exec("{upset: 'x', in: 'lg3', vertex: [[1, {a: 1}]]};")
    r = db.exec("{layout: 'x', in: 'lg3', path: '/tmp/nope_cf2',"
                " compact: true};")[0]
    assert r.error and "sidecar" in r.error


def test_folded_rows_survive_detach(db, tmp_path, spark):
    """Self-review r10: folded rows move from the overlay into the
    COPY — but a later BULK mutation detaches the copy and falls back
    to bulk_df, so the fold must absorb them into the bulk side too,
    or they'd vanish from view exactly when the layout goes away."""
    p = str(tmp_path / "fsd")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 4, attach: true};")
    db.exec("{upset: 'ord', vertex: [[7001, {pr: 42}]]};")
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[1, 0]]
    # a bulk mutation (remove) detaches the layout...
    r = db.exec("{remove: 'ord', in: 'lg', vertex: {id: 5}};")[0]
    assert r.error is None, r.error
    grp = db.catalog.graphs["lg"].group("ord")
    assert grp._layout_attach is None
    # ...and the folded row is still visible from the bulk side
    got = db.query_df("{query: 'ord', in: 'lg', where: {id: 7001}};")
    assert [(x["id"], x["pr"]) for x in got.collect()] == [(7001, 42)]
    assert db.query_df("{query: 'ord', in: 'lg'};").count() == 3000


def test_layout_compact_edge_group(db, tmp_path, spark):
    """Edge-group fold (r10): a co-bucketed EDGE layout grows by edge
    upserts too — {layout compact:} folds new (src, dst, direction)
    keys into the copy, keeps duplicates of existing keys local, and
    the pattern join over the co-bucketed pair still sees the folded
    edges."""
    d = GQLite(spark)
    d.exec("{create: 'eg', group: ['p', ['p', 'knows', 'p']]};")
    g = d.catalog.graphs["eg"]
    g.group("p").register_df(
        spark.range(0, 2000).selectExpr("id", "id % 9 as age"),
        key_col="id")
    g.group("knows").register_df(
        spark.range(0, 4000).selectExpr("id % 2000 as src",
                                        "(id * 3) % 2000 as dst"),
        src_col="src", dst_col="dst")
    pe = str(tmp_path / "efold")
    r = d.exec("{layout: 'knows', in: 'eg', path: '" + pe +
               "', bucket_by: 'src', buckets: 4, attach: true};")[0]
    assert r.error is None, r.error
    # two NEW edges + one duplicate of an existing (0 -> 0 exists:
    # id=0 gives src 0, dst 0)
    for q in d.exec("{upset: 'knows', in: 'eg', edge: [1999, ->, 7]};"
                    "{upset: 'knows', in: 'eg', edge: [1999, ->, 8]};"
                    "{upset: 'knows', in: 'eg', edge: [0, ->, 0]};"):
        assert q.error is None, q.error
    r = d.exec("{layout: 'knows', in: 'eg', path: '" + pe +
               "', compact: true};")[0]
    assert r.error is None and r.rows == [[2, 1]], r.error or r.rows
    grp = g.group("knows")
    assert grp._layout_attach is not None
    assert len(grp.rows) == 1              # the duplicate stays local
    got = d.query_df("{query: 'knows', in: 'eg', where:"
                     " [{id: 1999}, ->, *]};")
    assert sorted((x["src"], x["dst"]) for x in got.collect()) == sorted(
        [(1999, 7), (1999, 8)] +
        [(1999, (i * 3) % 2000) for i in range(4000) if i % 2000 == 1999])


def test_layout_compact_large_overlay_uses_semijoin(db, tmp_path,
                                                    monkeypatch, spark):
    """VERDICT r10 wrong #1: above _FOLD_ISIN_CAP keys the vertex fold
    must probe/filter with a broadcast SEMI-JOIN on a keyset DataFrame
    — never inline the working set as IN-list literals (a 100 k-row
    overlay would otherwise become a 100 k-literal Catalyst expression
    tree).  Cap is monkeypatched small so the test runs the large-path
    code with a small overlay; broadcast() calls are counted to prove
    the semi-join path actually ran (the vertex fold makes exactly two:
    the existence probe and the batch filter)."""
    from gqlite_spark import catalog as C
    monkeypatch.setattr(C, "_FOLD_ISIN_CAP", 8)
    calls = []
    real_broadcast = C.F.broadcast
    monkeypatch.setattr(C.F, "broadcast",
                        lambda df: calls.append(1) or real_broadcast(df))
    p = str(tmp_path / "lgsj")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    grp = db.catalog.graphs["lg"].group("ord")
    for k in range(6001, 6021):           # 20 new ids > cap of 8
        grp.upsert_vertex(k, {"pr": k % 7})
    grp.upsert_vertex(123, {"pr": 99})    # 1 update of an existing id
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[20, 1]], r.error or r.rows
    assert len(calls) == 2, calls         # probe + batch, both joins
    assert set(grp.rows) == {123}
    q = db.query_df("{query: 'ord', in: 'lg', where: {id: 6013}};")
    assert [(x["id"], x["pr"]) for x in q.collect()] == [(6013, 6013 % 7)]
    assert db.query_df("{query: 'ord', in: 'lg'};").count() == 3020


def test_layout_compact_100k_overlay_no_plan_blowup(db, tmp_path):
    """The real-cap end-to-end check: fold a 100 k-row overlay (the
    scale the r10 VERDICT flagged) — analysis/planning must not blow up
    on inlined literals, every row must land in the copy, and the
    attach must survive.  Wall is dominated by createDataFrame of the
    driver-held overlay, which is bounded by design (the overlay IS the
    update working set)."""
    p = str(tmp_path / "lg100k")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    grp = db.catalog.graphs["lg"].group("ord")
    n = 100_000
    for k in range(10_000, 10_000 + n):
        grp.upsert_vertex(k, {"pr": k % 7})
    r = db.exec("{layout: 'ord', in: 'lg', path: '" + p +
                "', compact: true};")[0]
    assert r.error is None and r.rows == [[n, 0]], r.error or r.rows
    assert grp.rows == {}
    assert db.query_df("{query: 'ord', in: 'lg'};").count() == 3000 + n
    q = db.query_df("{query: 'ord', in: 'lg', where: {id: 109999}};")
    assert [(x["id"], x["pr"]) for x in q.collect()] == [(109999,
                                                          109999 % 7)]


def test_layout_compact_accepts_path_spelling_variants(db, tmp_path):
    """ADVICE r10 #3: {layout ... compact:} used a raw string compare
    against the attached path, so a trailing-slash or file:-scheme
    spelling of the SAME directory was spuriously rejected as
    'attached elsewhere'.  All spellings of the attached dir must
    compact; a genuinely different path must still be rejected."""
    p = str(tmp_path / "pv")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 4, attach: true};")
    db.exec("{upset: 'ord', vertex: [[7001, {pr: 1}]]};")
    for variant in (p + "/", "file:" + p, "file://" + p + "/"):
        r = db.exec("{layout: 'ord', in: 'lg', path: '" + variant +
                    "', compact: true};")[0]
        assert r.error is None, (variant, r.error)
    r = db.exec("{layout: 'ord', in: 'lg', path: '/tmp/not_pv',"
                " compact: true};")[0]
    assert r.error and "attached at" in r.error


def test_group_replacement_releases_pin(db, tmp_path, spark):
    """ADVICE r10 #4: re-creating a group (create_group on an existing
    name) must release the OLD group's bucketed-scan pin immediately —
    not at GC time — so the session's autoBucketedScan conf never flips
    nondeterministically mid-query for unrelated work."""
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(conf)
    p = str(tmp_path / "pin")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 4, attach: true};")
    assert spark.conf.get(conf) == "false"        # pinned while attached
    g = db.catalog.graphs["lg"]
    g.create_group("ord")                         # replace, no GC needed
    assert spark.conf.get(conf) == prior          # pin released NOW


def test_layout_attach_survives_graph_save_load(db, tmp_path, spark):
    """Graph.save records attached layout paths in the schema sidecar
    and Graph.load re-attaches them — a saved graph keeps its pruned
    scan path across sessions instead of silently falling back to the
    snapshot parquet.  A vanished copy degrades LOUDLY to the snapshot
    (warning, not a failed load)."""
    from gqlite_spark.catalog import Graph
    p = str(tmp_path / "persist")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    root = str(tmp_path / "groot")
    db.catalog.graphs["lg"].save(root)
    g2 = Graph.load(spark, root, "lg")
    grp = g2.group("ord")
    assert grp._layout_attach is not None
    assert grp._layout_attach["kind"] == "bucket"
    q = grp.to_df().where(F.col("id") == 77)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", _plan(q))
    assert m and (m.group(1), m.group(2)) == ("1", "8"), _plan(q)
    assert [r["id"] for r in q.collect()] == [77]
    grp._detach_layout()          # release the pin for other tests
    # vanished copy: load falls back to the snapshot, data intact
    import shutil
    shutil.rmtree(p)
    g3 = Graph.load(spark, root, "lg")
    grp3 = g3.group("ord")
    assert grp3._layout_attach is None
    assert grp3.to_df().count() == 3000


def test_vindex_attach_survives_graph_save_load(spark, tmp_path):
    """Attached vector indexes persist across Graph.save/load too —
    otherwise a reloaded graph silently loses the routed $near path
    (exact-scan fallback) until a manual re-attach.  With IVFPQ and
    then IVF built on one property, the reloaded graph routes through
    the one the live session did: the last built.  A vanished index
    degrades loudly to exact, not a failed load."""
    import shutil

    from gqlite_spark import GQLite
    from gqlite_spark.catalog import Graph
    db = GQLite(spark)
    db.exec("{create: 'vp', group: ['pts']};")
    grp = db.catalog.graphs["vp"].group("pts")
    grp.register_df(
        spark.range(200).selectExpr(
            "id", "array(cast(id % 20 as double),"
            " cast(id % 7 as double)) as vec"),
        key_col="id")
    grp.build_ivfpq_index("vec", str(tmp_path / "pq_sl"), m=2, ksub=8)
    ip = str(tmp_path / "ivf_sl")
    grp.build_ivf_index("vec", ip)
    root = str(tmp_path / "vroot")
    db.catalog.graphs["vp"].save(root)
    g2 = Graph.load(spark, root, "vp")
    db.catalog.graphs["vp"] = g2
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        plan = (db.query_df("{query: 'pts', in: 'vp',"
                            " where: {vec: {limit: 3, $near: [0, 0]}}};")
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    assert "_vec" in plan and "element_at(codes" not in plan, plan
    assert {a: (r.kind, r.path) for a, r in g2.group("pts")._vindex
            .items()} == {"vec": ("ivf", ip)}
    # IVFPQ rebuilt at the IVF index's path: the saved kind, not the
    # stale IVF sidecar still beside it, is what the reload attaches
    g2.group("pts").build_ivfpq_index("vec", ip, m=2, ksub=8)
    root2 = str(tmp_path / "vroot2")
    g2.save(root2)
    g4 = Graph.load(spark, root2, "vp")
    assert {a: (r.kind, r.path) for a, r in g4.group("pts")._vindex
            .items()} == {"vec": ("ivfpq", ip)}
    # vanished index: load succeeds, $near attach state falls back
    shutil.rmtree(ip)
    g3 = Graph.load(spark, root, "vp")
    assert g3.group("pts")._vindex == {}


def test_layout_attach_save_load_preserves_overlay(db, tmp_path,
                                                   spark):
    """ADVICE r11 #1: a layout-attached group with a LIVE overlay must
    survive Graph.save/load with the overlay intact.  to_df prefers
    the re-attached copy over the (merged) snapshot, and the copy by
    design lacks overlay-local LWW updates of existing ids and
    unfolded new rows — the old save/load silently served them stale
    or missing.  The overlay now persists as its own sidecar parquet
    and is rehydrated into g.rows after a successful re-attach."""
    from gqlite_spark.catalog import Graph
    p = str(tmp_path / "ovl")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    g = db.catalog.graphs["lg"].group("ord")
    g.upsert_vertex(77, {"pr": 999})       # UPDATE of an existing id
    g.upsert_vertex(90001, {"pr": 123})    # NEW, unfolded row
    root = str(tmp_path / "oroot")
    db.catalog.graphs["lg"].save(root)
    g2 = Graph.load(spark, root, "lg")
    grp = g2.group("ord")
    assert grp._layout_attach is not None
    assert grp.rows.get(77) == {"pr": 999}
    assert grp.rows.get(90001) == {"pr": 123}
    out = {r["id"]: r["pr"] for r in
           grp.to_df().where(F.col("id").isin([77, 90001, 5]))
           .collect()}
    assert out == {77: 999, 90001: 123, 5: 5 % 7}
    assert grp.to_df().count() == 3001
    grp._detach_layout()          # release the pin for other tests
    g.rows.clear()                # and reset the fixture group's state
    g._detach_layout()


def test_layout_attach_save_load_empty_overlay_writes_no_sidecar(
        db, tmp_path, spark):
    """A clean (empty-overlay) attach keeps the old save shape: no
    overlay sidecar, nothing rehydrated, rows == {} after load."""
    import json

    from gqlite_spark import fsio
    from gqlite_spark.catalog import Graph
    p = str(tmp_path / "clean")
    db.exec("{layout: 'ord', in: 'lg', path: '" + p +
            "', bucket_by: 'id', buckets: 8, attach: true};")
    root = str(tmp_path / "croot")
    db.catalog.graphs["lg"].save(root)
    doc = json.loads(fsio.read_text(
        spark, fsio.join(root, "lg", "_schema.json")))
    assert "overlays" not in doc
    assert not fsio.exists(spark,
                           fsio.join(root, "lg", "ord.overlay.parquet"))
    g2 = Graph.load(spark, root, "lg")
    assert g2.group("ord").rows == {}
    g2.group("ord")._detach_layout()
    db.catalog.graphs["lg"].group("ord")._detach_layout()


def test_overlay_cap_guard_is_loud(spark):
    """VERDICT r11 wrong #3: the driver-resident overlay refuses to
    grow past OVERLAY_CAP_ROWS with an actionable error — rewrites of
    existing keys still pass (the working set didn't grow)."""
    from gqlite_spark import catalog as C
    from gqlite_spark.catalog import Group, GroupMeta
    g = Group(spark, GroupMeta(name="t"))
    old = C.OVERLAY_CAP_ROWS
    C.OVERLAY_CAP_ROWS = 3
    try:
        for i in range(3):
            g.upsert_vertex(i, {"v": i})
        with pytest.raises(GQLiteError, match="OVERLAY_CAP_ROWS"):
            g.upsert_vertex(99, {"v": 99})
        g.upsert_vertex(1, {"v": 111})     # rewrite: allowed
        assert g.rows[1] == {"v": 111}
        with pytest.raises(GQLiteError, match="OVERLAY_CAP_ROWS"):
            g.update_props(42, {"v": 1})   # would create a new key
        g.update_props(2, {"w": 5})        # merge into existing: ok
    finally:
        C.OVERLAY_CAP_ROWS = old


def test_overlay_save_load_round_trips_every_prop_kind(spark,
                                                       tmp_path):
    """restore_overlay re-normalizes storage values: vector cells come
    back list[float], binary comes back bytes, datetime stays the
    epoch double, object stays its JSON string — the same storage
    forms upsert_vertex would have produced, so post-load mutations
    and LWW merges behave identically to the pre-save session."""
    from gqlite_spark import GQLite
    from gqlite_spark.catalog import Graph
    db = GQLite(spark)
    db.exec("{create: 'kv', group: ['rows']};")
    g = db.catalog.graphs["kv"].group("rows")
    g.register_df(
        spark.range(0, 100).selectExpr(
            "id", "cast(id as double) as score",
            "array(cast(id as double)) as vec",
            "cast(cast(id as string) as binary) as blob",
            "cast(id as string) as note"),
        key_col="id")
    p = str(tmp_path / "kvl")
    r = db.exec("{layout: 'rows', in: 'kv', path: '" + p +
                "', bucket_by: 'id', buckets: 4, attach: true};")[0]
    assert r.error is None, r.error
    g.upsert_vertex(7, {"score": 1.5, "vec": [1.0, 2.5],
                        "blob": b"\x00\xffbin", "note": "txt"})
    root = str(tmp_path / "kvroot")
    db.catalog.graphs["kv"].save(root)
    g2 = Graph.load(spark, root, "kv")
    grp = g2.group("rows")
    got = grp.rows[7]
    assert got["score"] == 1.5
    assert got["vec"] == [1.0, 2.5] and isinstance(got["vec"], list)
    assert got["blob"] == b"\x00\xffbin" and isinstance(got["blob"],
                                                       bytes)
    assert got["note"] == "txt"
    # the restored overlay keeps winning LWW through to_df
    row = grp.to_df().where(F.col("id") == 7).collect()[0]
    assert row["score"] == 1.5 and list(row["vec"]) == [1.0, 2.5]
    # and a post-load re-upsert merges over it exactly like pre-save
    grp.upsert_vertex(7, {"score": 2.0})
    assert grp.rows[7] == {"score": 2.0}
    grp._detach_layout()
    g._detach_layout()


def test_overlay_with_accreted_props_falls_back_to_snapshot(spark,
                                                            tmp_path):
    """An overlay upsert can ACCRETE props the layout copy predates;
    after save/load the re-attach then refuses (copy lacks the new
    column) and the load falls back to the MERGED snapshot — the data
    is complete and correct, the attach is dropped loudly.  Pins the
    fallback semantics the overlay-persistence fix preserves."""
    from gqlite_spark import GQLite
    from gqlite_spark.catalog import Graph
    db = GQLite(spark)
    db.exec("{create: 'acc', group: ['rows']};")
    g = db.catalog.graphs["acc"].group("rows")
    g.register_df(spark.range(0, 50).selectExpr(
        "id", "cast(id as double) as score"), key_col="id")
    p = str(tmp_path / "accl")
    r = db.exec("{layout: 'rows', in: 'acc', path: '" + p +
                "', bucket_by: 'id', buckets: 4, attach: true};")[0]
    assert r.error is None, r.error
    g.upsert_vertex(7, {"score": 1.5, "brand_new": "prop"})
    root = str(tmp_path / "accroot")
    db.catalog.graphs["acc"].save(root)
    g2 = Graph.load(spark, root, "acc")
    grp = g2.group("rows")
    assert grp._layout_attach is None          # attach refused (loud)
    row = grp.to_df().where(F.col("id") == 7).collect()[0]
    assert row["score"] == 1.5 and row["brand_new"] == "prop"
    assert grp.to_df().count() == 50
    g._detach_layout()
