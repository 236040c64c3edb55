"""End-to-end engine tests mirroring the reference golden corpora
(test/query/grammar.gql, test/edge/grammar.gql semantics — own fixtures)."""

import pytest


VERTEX_SETUP = """
{create: 'qdb', group: [{ruins: ['filename', 'datatime', 'feature_name'],
                         index: ['category', 'feature_name']}, 'addr']};
{upset: 'ruins', vertex: [['v1', {filename: 'a.jpg', datatime: 0d1653446732, feature_name: [0, 0]}],
                          ['v2', {category: 'HDR', filename: 'b.jpg', datatime: 0d1653446732}],
                          ['v3', {category: 'cyber', filename: 'c.jpg', datatime: 0d1653446732}]]};
{upset: 'ruins', vertex: [['v4', {filename: 'd.jpg', datatime: 0d1653315732, feature_name: [0, 0.5]}],
                          ['v5', {category: 'HDR', filename: 'e.jpg', datatime: 0d1653315732}]]};
{upset: 'ruins', vertex: ['3', '4', '5']};
{upset: 'ruins', vertex: [['ff', {filename: 'f.jpg', thumbnail: 0b'AQI='}]]};
{upset: 'addr', vertex: [[1, {filename: 'g.jpg', datatime: 0d1651105732}],
                         [2, {filename: 'h.jpg', loc: [131.24194, 37.12532]}]]};
"""


@pytest.fixture()
def qdb(db):
    for r in db.exec(VERTEX_SETUP):
        assert r.error is None, r.error
    return db


def _rows(db, gql):
    res = db.exec(gql)
    assert len(res) == 1 and res[0].error is None, res[0].error
    return res[0].rows


def test_full_scan_sorted(qdb):
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb'};")
    # id-sorted string keys; empty-prop vertices print null
    assert rows[0] == "[3, null]"
    assert rows[3].startswith("[ff,")
    assert rows[-1].startswith("[v5,")
    assert '"datatime":"0d1653446732"' in rows[4]


def test_eq_and_in_predicates(qdb):
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb', where: {category: 'HDR'}};")
    assert len(rows) == 2 and all("HDR" in r for r in rows)
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb', where: {category: ['HDR', 'cyber']}};")
    assert len(rows) == 3


def test_datetime_ranges(qdb):
    assert len(_rows(qdb, "{query: 'ruins', in: 'qdb', where: {datatime: {$lt: 0d1653446732}}};")) == 2
    assert len(_rows(qdb, "{query: 'ruins', in: 'qdb', where: {datatime: {$gte: 0d1653315732}}};")) == 5
    assert len(_rows(qdb, "{query: 'ruins', in: 'qdb', where: {datatime: *}};")) == 5


def test_near_geometry_squared_l2(qdb):
    # radius is SQUARED distance (Distance.cpp:133-157): 0.5²=0.25 < 0.3
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb',"
                      " where: {feature_name: {$near: {$geometry: [0, 0], $lte: 0.3}}}};")
    assert [r.split(",")[0] for r in rows] == ["[v1", "[v4"]


def test_knn_limit(qdb):
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb',"
                      " where: {feature_name: {limit: 1, $near: [0, 0.4]}}};")
    assert len(rows) == 1 and rows[0].startswith("[v4")


def test_errors_match_reference_text(qdb):
    res = qdb.exec("{query: 'ruins', in: 'nope'};")[0]
    assert res.error == "graph is not exist: nope"
    res = qdb.exec("{query: 'nope_group', in: 'qdb'};")[0]
    assert res.error == "group is not exist: nope_group"
    res = qdb.exec("{upset: 'ruins', vertex: [[1, {filename: 'x'}]]};")[0]
    assert res.error == "Input key type is integer, but require string"


def test_remove_vertex(qdb):
    qdb.exec("{remove: 'ruins', vertex: {id: '3'}};")
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb'};")
    assert not any(r.startswith("[3,") for r in rows)


def test_projection(qdb):
    rows = _rows(qdb, "{query: [ruins.filename], in: 'qdb', where: {category: 'HDR'}};")
    assert rows == ['[v2, {"filename":"b.jpg"}]', '[v5, {"filename":"e.jpg"}]']


def test_count(qdb):
    res = qdb.exec("{query: count(ruins), in: 'qdb'};")[0]
    assert res.value == 9  # v1..v5, '3','4','5', 'ff'


def test_upsert_replaces_props(qdb):
    qdb.exec("{upset: 'ruins', vertex: [['v2', {category: 'X'}]]};")
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb', where: {id: 'v2'}};")
    assert rows == ['[v2, {"category":"X"}]']


def test_property_update_merges(qdb):
    qdb.exec("{upset: 'ruins', property: {filename: 'new.jpg'}, where: {id: 'v2'}};")
    rows = _rows(qdb, "{query: 'ruins', in: 'qdb', where: {id: 'v2'}};")
    assert '"category":"HDR"' in rows[0] and '"filename":"new.jpg"' in rows[0]


EDGE_SETUP = """
{create: 'files', group: [{file_meta: ['filename','size']}, {tag: 'name'},
                          ['tag', 'rel_tag', 'file_meta']]};
{upset: 'file_meta', vertex: [[100, {filename: 'a.jpg', size: 10}],
                              [200, {filename: 'b.jpg', size: 20}],
                              [300, {filename: 'c.jpg', size: 30}]]};
{upset: 'tag', vertex: [['art', {name: 'art'}], ['pic', {name: 'pic'}]]};
{upset: 'rel_tag', edge: [['art', --, 100], ['art', --, 200], ['pic', --, 300]]};
"""


@pytest.fixture()
def edb(db):
    for r in db.exec(EDGE_SETUP):
        assert r.error is None, r.error
    return db


def test_edge_pattern_exact(edb):
    assert _rows(edb, "{query: 'rel_tag', in: 'files', where: ['art', --, 100]};") \
        == ["['art', --, 100]"]


def test_edge_pattern_wildcard_and_reverse(edb):
    rows = _rows(edb, "{query: 'rel_tag', in: 'files', where: ['art', --, *]};")
    assert rows == ["['art', --, 100]", "['art', --, 200]"]
    # int endpoint matches via reversed orientation of the undirected edge
    rows = _rows(edb, "{query: 'rel_tag', in: 'files', where: [300, --, *]};")
    assert rows == ["['pic', --, 300]"]


def test_remove_vertex_cascades_edges(edb):
    edb.exec("{remove: 'file_meta', vertex: {id: 100}};")
    rows = _rows(edb, "{query: 'rel_tag', in: 'files'};")
    assert rows == ["['art', --, 200]", "['pic', --, 300]"]


def test_remove_edge_pattern(edb):
    edb.exec("{remove: 'rel_tag', edge: ['art', --, *]};")
    rows = _rows(edb, "{query: 'rel_tag', in: 'files'};")
    assert rows == ["['pic', --, 300]"]


def test_edge_props_and_directed(edb):
    edb.exec("{upset: 'rel_tag', edge: [['pic', ->: {w: 5}, 100]]};")
    rows = _rows(edb, "{query: 'rel_tag', in: 'files', where: ['pic', ->, 100]};")
    assert rows == ["['pic', ->, 100, {\"w\":5}]"]
    # directed pattern must NOT match reversed orientation of directed edge
    assert _rows(edb, "{query: 'rel_tag', in: 'files', where: [100, ->, 'pic']};") == []


def test_dump_roundtrip(edb, spark):
    script = edb.dump("files")
    from gqlite_spark import GQLite
    db2 = GQLite(spark)
    for r in db2.exec(script.replace("'files'", "'files2'")):
        assert r.error is None, r.error
    orig = _rows(edb, "{query: 'rel_tag', in: 'files'};")
    copy = _rows(db2, "{query: 'rel_tag', in: 'files2'};")
    assert orig == copy
    assert _rows(edb, "{query: 'file_meta', in: 'files'};") == \
        _rows(db2, "{query: 'file_meta', in: 'files2'};")


def test_edge_pattern_endpoint_conditions(edb):
    """[{conds}, --, {conds}] endpoint-property pattern (README.md:155-162)."""
    rows = _rows(edb, "{query: 'rel_tag', in: 'files',"
                      " where: [{name: 'art'}, --, {size: {$gt: 15}}]};")
    assert rows == ["['art', --, 200]"]


def test_multi_hop_walk(db):
    """Multi-hop walk pattern → iterated self-join (reference STUB at
    ScanPlan.cpp:225-226, implemented in operators/patterns.py)."""
    db.exec("{create: 'wg', group: ['n', ['n', 'e', 'n']]};")
    db.exec("{upset: 'e', edge: [[1, ->, 2], [2, ->, 3], [2, ->, 4],"
            " [4, ->, 5]]};")
    res = db.exec("{query: 'e', in: 'wg', where: [1, ->, *, ->, *]};")[0]
    assert res.error is None
    paths = [(r["n0"], r["n1"], r["n2"]) for r in res.df.collect()]
    assert sorted(paths) == [(1, 2, 3), (1, 2, 4)]
    res3 = db.exec("{query: 'e', in: 'wg', where: [1, ->, *, ->, *, ->, 5]};")[0]
    assert [(r["n0"], r["n1"], r["n2"], r["n3"]) for r in res3.df.collect()] \
        == [(1, 2, 4, 5)]


def test_query_all_groups(qdb):
    rows = _rows(qdb, "{query: '*', in: 'qdb'};")
    assert len(rows) == 11  # 2 addr + 9 ruins
    assert rows[0].startswith("[1,") and rows[-1].startswith("[v5,")


def test_show_graph_schema(qdb):
    res = qdb.exec("show graph 'qdb';")[0]
    assert res.error is None
    assert set(res.value["classes"]) == {"ruins", "addr"}
    assert res.value["classes"]["ruins"]["key_type"] == "string"


def test_graph_save_load(qdb, spark, tmp_path):
    """Parquet persistence round-trip (graph = one dataset per group +
    schema doc, StorageEngine open/save parity)."""
    g = qdb.catalog.graph("qdb")
    g.save(str(tmp_path))
    from gqlite_spark import GQLite
    db2 = GQLite(spark, root=str(tmp_path))
    rows2 = db2.exec("{query: 'ruins', in: 'qdb'};")[0].rows
    assert rows2 == _rows(qdb, "{query: 'ruins', in: 'qdb'};")
    # mutations on the loaded graph work (LWW over bulk parquet)
    db2.exec("{upset: 'ruins', vertex: [['v1', {category: 'Z'}]]};")
    rows = db2.exec("{query: 'ruins', in: 'qdb', where: {id: 'v1'}};")[0].rows
    assert rows == ['[v1, {"category":"Z"}]']


def test_khop_neighbor_query(edb):
    """{query: g, from: key, where: {--: n}} k-hop neighbor surface
    (README.md:244-246; reference STUB) across mixed-key edge groups."""
    rows = _rows(edb, "{query: 'file_meta', in: 'files', from: 'art', where: {--: 1}};")
    assert [r.split(",")[0] for r in rows] == ["[100", "[200"]
    # 2-hop from a file reaches sibling files through the shared tag
    rows = _rows(edb, "{query: 'file_meta', in: 'files', from: 100, where: {--: 2}};")
    assert [r.split(",")[0] for r in rows] == ["[200"]


def test_graph_save_partitioned(qdb, spark, tmp_path):
    import os
    g = qdb.catalog.graph("qdb")
    g.save(str(tmp_path), partition_by={"ruins": ["category"]}, key_buckets=4)
    part_dir = os.path.join(str(tmp_path), "qdb", "ruins.parquet")
    assert any(d.startswith("category=") for d in os.listdir(part_dir))
    from gqlite_spark import GQLite
    db2 = GQLite(spark, root=str(tmp_path))
    rows = db2.exec("{query: 'ruins', in: 'qdb', where: {category: 'HDR'}};")[0].rows
    assert len(rows) == 2 and all("HDR" in r for r in rows)


def test_edge_property_update_with_where(edb):
    """{upset: grp, property: {...}, where: [pattern]} on an edge group
    (conditional property update, UpsetPlan.cpp:48-86)."""
    edb.exec("{upset: 'rel_tag', property: {w: 9}, where: ['art', --, 100]};")
    rows = _rows(edb, "{query: 'rel_tag', in: 'files', where: ['art', --, 100]};")
    assert rows == ["['art', --, 100, {\"w\":9}]"]
    # other edges untouched
    rows = _rows(edb, "{query: 'rel_tag', in: 'files', where: ['art', --, 200]};")
    assert rows == ["['art', --, 200]"]


def test_bulk_group_property_update_preserves_columns(db, spark):
    """ADVICE r1: property-update on a bulk-registered group must be a
    DataFrame transform that PRESERVES the untouched columns (the dict
    merge path seeded from {} nulled them) and must not collect keys."""
    bulk = spark.createDataFrame(
        [(i, f"name{i}", i * 10.0) for i in range(100)],
        "id long, name string, score double")
    db.exec("{create: 'bg', group: ['items']};")
    grp = db.catalog.graph("bg").groups["items"]
    grp.register_df(bulk)
    r = db.exec("{upset: 'items', property: {flag: 1}, where: {id: {$lt: 10}}};")
    assert r[0].error is None, r[0].error
    out = {row["id"]: row for row in grp.to_df().collect()}
    assert len(out) == 100
    # untouched columns preserved on updated rows
    assert out[5]["name"] == "name5" and out[5]["score"] == 50.0
    assert out[5]["flag"] == 1
    # unmatched rows untouched, flag null
    assert out[50]["flag"] is None and out[50]["name"] == "name50"


def test_bulk_group_remove_with_predicate(db, spark):
    bulk = spark.createDataFrame(
        [(i, i % 5) for i in range(1000)], "id long, grp long")
    db.exec("{create: 'bg2', group: ['things']};")
    g = db.catalog.graph("bg2").groups["things"]
    g.register_df(bulk)
    r = db.exec("{remove: 'things', vertex: {grp: 3}};")
    assert r[0].error is None, r[0].error
    assert g.to_df().count() == 800
    assert g.to_df().filter("grp = 3").count() == 0


def test_bulk_remove_cascades_bulk_edges(db, spark):
    """Vertex removal cascades into a bulk edge group via anti-joins
    (RemovePlan.cpp:49-75 parity at bulk scale)."""
    verts = spark.createDataFrame([(i, i % 3) for i in range(300)],
                                  "id long, tag long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 300) for i in range(300)], "src long, dst long")
    db.exec("{create: 'bg3', group: ['nodes', ['nodes', 'link', 'nodes']]};")
    gr = db.catalog.graph("bg3")
    gr.groups["nodes"].register_df(verts)
    gr.groups["link"].register_df(edges)
    r = db.exec("{remove: 'nodes', vertex: {tag: 0}};")
    assert r[0].error is None, r[0].error
    assert gr.groups["nodes"].to_df().count() == 200
    # every edge touching a tag-0 vertex (id % 3 == 0 on either side) is gone
    left = gr.groups["link"].to_df()
    assert left.filter("src % 3 = 0 OR dst % 3 = 0").count() == 0
    assert left.count() == 100  # (i, i+1) pairs where neither % 3 == 0


def test_bulk_update_then_local_lww(db, spark):
    """Local OLTP upserts still win over transformed bulk rows."""
    bulk = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    db.exec("{create: 'bg4', group: ['kv']};")
    g = db.catalog.graph("bg4").groups["kv"]
    g.register_df(bulk)
    db.exec("{upset: 'kv', property: {name: 'patched'}, where: {id: 1}};")
    db.exec("{upset: 'kv', vertex: [[2, {name: 'local'}]]};")
    out = {r["id"]: r["name"] for r in g.to_df().collect()}
    assert out == {1: "patched", 2: "local"}


def test_count_with_where_heterogeneous_groups(qdb):
    """count(vertex) with a predicate over groups that lack the attribute
    degrades gracefully (skips those groups) instead of leaking a raw
    AnalysisException."""
    res = qdb.exec("{query: count(vertex), in: 'qdb', where: {category: 'HDR'}};")
    assert res[0].error is None, res[0].error
    assert res[0].value == 2  # v2, v5 in ruins; addr has no category column
    # single named group still errors cleanly
    res = qdb.exec("{query: count(addr), in: 'qdb', where: {nope_attr: 1}};")
    assert res[0].status == "ERROR" and res[0].error


def test_multi_hop_walk_with_property_conditions(db):
    """Per-hop endpoint property conditions (gql.y:886-905): a 2-hop walk
    keeps only paths whose middle vertex satisfies the condition object."""
    setup = """
{create: 'wg', group: ['city', ['city', 'road', 'city']]};
{upset: 'city', vertex: [[1, {pop: 100}], [2, {pop: 5}], [3, {pop: 50}],
                         [4, {pop: 7}], [5, {pop: 80}]]};
{upset: 'road', edge: [[1, ->, 2], [2, ->, 3], [1, ->, 4], [4, ->, 3],
                       [3, ->, 5]]};
"""
    for r in db.exec(setup):
        assert r.error is None, r.error
    res = db.exec("{query: 'road', in: 'wg', where: [*, ->, {pop: {$lt: 10}}, ->, *]};")
    assert res[0].error is None, res[0].error
    paths = {tuple(r) for r in res[0].df.collect()}
    assert paths == {(1, 2, 3), (1, 4, 3)}
    # condition on the LAST node too
    res = db.exec(
        "{query: 'road', in: 'wg', where: [*, ->, {pop: {$gt: 40}}, ->, {pop: {$gt: 60}}]};")
    assert res[0].error is None, res[0].error
    assert {tuple(r) for r in res[0].df.collect()} == {(2, 3, 5), (4, 3, 5)}


def test_motif_fork_and_triangle(spark):
    """Branching motifs: fork and directed triangle with distinct bindings
    and node filters."""
    from gqlite_spark.operators.patterns import match_motif
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    fork = match_motif(e, [("a", "->", "b"), ("a", "->", "c")])
    forks = {tuple(r) for r in fork.collect()}
    # node 1 has out-neighbors {2, 3}: both (b,c) orders; others out-deg 1
    assert forks == {(1, 2, 3), (1, 3, 2)}
    tri = match_motif(e, [("a", "->", "b"), ("b", "->", "c"),
                          ("a", "->", "c")])
    assert {tuple(r) for r in tri.collect()} == {(1, 2, 3)}
    # node filter restricts a binding
    ids = spark.createDataFrame([(3,)], "id long")
    f2 = match_motif(e, [("a", "->", "b"), ("a", "->", "c")],
                     node_filters={"b": ids})
    assert {tuple(r) for r in f2.collect()} == {(1, 3, 2)}


def test_motif_fork_basketballplayer(spark):
    """Fork motif on the basketballplayer fixture: one player following
    two distinct others (follow edges)."""
    import pytest
    from gqlite_spark import GQLite
    from gqlite_spark.sources.loaders import load_ngql_inserts
    import os
    path = "/root/reference/data/basketballplayer-2.X.ngql"
    if not os.path.exists(path):
        pytest.skip("fixture not present")
    db = GQLite(spark)
    db.exec("{create: 'bb'};")
    load_ngql_inserts(db, "bb", open(path).read())
    from gqlite_spark.operators.patterns import match_motif
    follow = db.catalog.graph("bb").groups["follow"].to_df()
    out = match_motif(follow, [("a", "->", "b"), ("a", "->", "c")])
    rows = out.collect()
    assert rows
    # every match is two real follow edges from the same player
    edges = {(r["src"], r["dst"]) for r in follow.collect()}
    for r in rows[:50]:
        assert (r["a"], r["b"]) in edges and (r["a"], r["c"]) in edges
        assert r["b"] != r["c"]


def test_profile_statement(qdb):
    """profile <query> returns the formatted physical plan (reference
    surface: profile keyword, stubbed there; here the real Spark plan)."""
    res = qdb.exec("profile {query: 'ruins', in: 'qdb'};")
    assert res[0].error is None
    assert "Physical Plan" in res[0].value


def test_use_graph_statement(db):
    """README §5 'use graph' (declared there, absent from the reference
    grammar): sets the session default so queries may omit in:."""
    db.exec("{create: 'g1', group: ['a']}; {create: 'g2', group: ['b']};")
    db.exec("{upset: 'b', vertex: [['x', {v: 1}]]};")
    assert db.exec("use graph 'g2';")[0].error is None
    res = db.exec("{query: 'b'};")[0]          # no in: — uses g2
    assert res.error is None and len(res.rows) == 1
    bad = db.exec("use graph 'nope';")[0]
    assert bad.status == "ERROR" and "not exist" in bad.error


def test_bulk_group_keyed_range_read_pushdown(db, spark, tmp_path):
    """A GQL keyed range read ({id: {$gt: ...}}) on a bulk parquet-backed
    group must reach the parquet scan as a pushed filter (range-read-by-key
    parity for the 100 TB ingestion path — no full-table scan)."""
    import contextlib
    import io

    path = str(tmp_path / "bulkkeys")
    spark.createDataFrame([(i, i * 2.0) for i in range(1000)],
                          "id long, val double").write.parquet(path)
    db.exec("{create: 'bkr', group: ['rows']};")
    g = db.catalog.graph("bkr").groups["rows"]
    g.register_df(spark.read.parquet(path))

    res = db.exec("{query: 'rows', in: 'bkr', where: {id: {$gt: 990}}};")[0]
    assert res.error is None, res.error
    got = sorted(r["id"] for r in res.df.collect())
    assert got == list(range(991, 1000))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.df.explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThan(id,990)" in plan, plan


def test_knn_cost_based_ann_routing(spark, tmp_path):
    """$near+limit routing (VERDICT r5 #3; redesigned r7 on the 1M-vector
    measurement — exact scan 1.0s vs inline-quantizer 124s): below the
    ann_threshold conf — or above it with NO index attached — the plan
    is the exact full-scan TakeOrderedAndProject (ANN that cannot prune
    the READ is slower than exact).  With a materialized l2 IVF index
    attached, the routed plan top-ks the partition-pruned index and
    broadcast-joins the k winners back.  On this line fixture the true
    top-k provably lies in the probed lists (query at the origin, lists
    ordered along the line), so the routed result is identical to
    exact."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("knnrt")
    g = db.catalog.graphs["knnrt"]
    grp = g.create_group("pts")
    rows = [(i, [float(i), 0.0]) for i in range(200)]
    grp.register_df(
        spark.createDataFrame(rows, "id long, vec array<double>"))

    gql = ("{query: 'pts', in: 'knnrt',"
           " where: {vec: {limit: 3, $near: [0, 0]}}};")
    exact = db.query_df(gql)
    assert "list_id" not in exact._jdf.queryExecution().toString()
    exact_ids = [r["id"] for r in exact.collect()]
    assert exact_ids == [0, 1, 2]

    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        # above threshold but NO index: stays exact (no index scan)
        noidx = db.query_df(gql)
        assert "list_id" not in noidx._jdf.queryExecution().toString()
        assert [r["id"] for r in noidx.collect()] == exact_ids

        # build+attach a materialized index: routed via partition-pruned
        # index top-k + broadcast id join
        nlist = grp.build_ivf_index("vec", str(tmp_path / "ivf"))
        assert nlist == 16      # auto_nlist floor at 200 vectors
        routed = db.query_df(gql)
        plan = routed._jdf.queryExecution().toString()
        assert "list_id" in plan
        # the probe reaches the scan as PARTITION pruning — only the
        # probed lists' files are read, which is the whole point
        phys = routed._jdf.queryExecution().executedPlan().toString()
        pf = phys[phys.find("PartitionFilters"):].split("]", 1)[0]
        assert "list_id" in pf and " IN " in pf, pf
        assert [r["id"] for r in routed.collect()] == exact_ids
        # radius + limit composes with the routed path (the exact top-k
        # downstream still applies the squared-distance cut)
        radius_gql = ("{query: 'pts', in: 'knnrt', where: {vec: {limit: 5,"
                      " $near: {$geometry: [0, 0], $lte: 6.25}}}};")
        assert [r["id"] for r in db.query_df(radius_gql).collect()] \
            == [0, 1, 2]
        # the loaded index is cached on the attach record
        assert grp._vindex["vec"].df is not None
        # LOCAL upserts keep the index attached (incremental-insert
        # parity, GHNSW::insert): new rows join the candidate set as
        # exact overlay candidates, and the count is bulk + overlay...
        grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
        assert grp._vindex and grp.row_count() == 201
        over = db.query_df(gql)
        assert "list_id" in over._jdf.queryExecution().toString()
        assert [r["id"] for r in over.collect()] == [0, 999, 1]
        # ...and a shadowed id's STALE index vector is excluded — the
        # overlay's new vector decides, pushing id 0 out of the top-3
        grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
        assert [r["id"] for r in db.query_df(gql).collect()] == [999, 1, 2]
        # BULK mutation detaches; queries fall back to exact
        from pyspark.sql import functions as SF
        grp.delete_where(SF.col("id") == SF.lit(999))
        assert not grp._vindex
        back = db.query_df(gql)
        assert "list_id" not in back._jdf.queryExecution().toString()
        assert [r["id"] for r in back.collect()] == [1, 2, 3]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def _line_fixture_group(spark, db_name):
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph(db_name)
    g = db.catalog.graphs[db_name]
    grp = g.create_group("pts")
    rows = [(i, [float(i), 0.0]) for i in range(200)]
    grp.register_df(
        spark.createDataFrame(rows, "id long, vec array<double>"))
    return db, grp


def test_knn_routed_exact_optin(spark, tmp_path):
    """``exact: true`` beside $near keeps the exact TakeOrderedAndProject
    plan even above the ann_threshold with an index attached (ADVICE r6
    #5: the exact→ANN flip must be per-query controllable at the query
    surface)."""
    db, grp = _line_fixture_group(spark, "knnrt_e")
    grp.build_ivf_index("vec", str(tmp_path / "ivf_e"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        df = db.query_df(
            "{query: 'pts', in: 'knnrt_e', where:"
            " {vec: {limit: 3, exact: true, $near: [0, 0]}}};")
        assert "list_id" not in df._jdf.queryExecution().toString()
        assert [r["id"] for r in df.collect()] == [0, 1, 2]
        # `exact: false` (bare-ident string) still routes
        routed = db.query_df(
            "{query: 'pts', in: 'knnrt_e', where:"
            " {vec: {limit: 3, exact: false, $near: [0, 0]}}};")
        assert "list_id" in routed._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_knn_routed_predicates_oversample_exact_fallback(spark, tmp_path):
    """A non-$near predicate beside the kNN disables the index-only fast
    path (predicates must filter the corpus BEFORE top-k).  r8: the
    oversample route tries top-(c·k) off the pruned index first; this
    ADVERSARIAL predicate (id > 150 vs a query at the origin) rejects
    every near candidate, so bounded refill exhausts and the route falls
    back to the EXACT scan — the result stays complete, never silently
    short (VERDICT r7 missing #2)."""
    db, grp = _line_fixture_group(spark, "knnrt_p")
    grp.build_ivf_index("vec", str(tmp_path / "ivf_p"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "16")   # probe all lists
    try:
        sel = db.query_df(
            "{query: 'pts', in: 'knnrt_p', where: {$and: ["
            " {id: {$gt: 150}},"
            " {vec: {limit: 3, $near: [0, 0]}}]}};")
        assert [r["id"] for r in sel.collect()] == [151, 152, 153]
        # pure-knn query on the same group still takes the fast path:
        # top-k directly over the pruned index + broadcast id join
        pure = db.query_df(
            "{query: 'pts', in: 'knnrt_p', where:"
            " {vec: {limit: 3, $near: [0, 0]}}};")
        assert "_vec" in pure._jdf.queryExecution().toString()
        assert [r["id"] for r in pure.collect()] == [0, 1, 2]
    finally:
        spark.conf.unset("spark.gqlite.knn.nprobe")
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_knn_routed_idonly_ivf_index(spark, tmp_path):
    """An id-only (non-materialized) l2 index still routes via the
    (id, list_id) semi-join — bounds top-k input, never reads vectors
    from the index (VERDICT r6 next #5; reference lazy index reload
    HNSW.cpp:358-374)."""
    from gqlite_spark.operators.similarity import save_ivf_index
    db, grp = _line_fixture_group(spark, "knnrt_i")
    idx = str(tmp_path / "ivf_l2")
    save_ivf_index(grp.to_df(), idx, nlist=8, id_col="id",
                   vec_col="vec", metric="l2")
    grp.attach_index("vec", idx)
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        gql = ("{query: 'pts', in: 'knnrt_i', where:"
               " {vec: {limit: 3, $near: [0, 0]}}};")
        routed = db.query_df(gql)
        plan = routed._jdf.queryExecution().toString()
        assert "list_id" in plan              # index scan in the plan
        assert "_vec" not in plan             # no vectors in this index
        assert [r["id"] for r in routed.collect()] == [0, 1, 2]
        # LOCAL overlay on the semi-join path: the upserted row's id
        # joins the candidate set and its df-side (current) vector wins
        grp.upsert_vertex(1000, {"vec": [-0.25, 0.0]})
        assert grp._vindex                    # index stays attached
        routed2 = db.query_df(gql)
        assert "list_id" in routed2._jdf.queryExecution().toString()
        assert [r["id"] for r in routed2.collect()] == [0, 1000, 1]
        # BULK mutation (update_where) detaches; exact path takes over
        from pyspark.sql import functions as SF
        grp.update_where(SF.col("id") == 5, {"vec": [5.5, 0.0]})
        assert not grp._vindex
        routed3 = db.query_df(gql)
        assert "list_id" not in routed3._jdf.queryExecution().toString()
        assert [r["id"] for r in routed3.collect()] == [0, 1000, 1]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_knn_routed_oversample_keeps_pruned_read(spark, tmp_path):
    """Predicate + $near over a MATERIALIZED index (VERDICT r7 missing
    #2): a mildly selective predicate is served from the top-(c·k)
    oversample off the pruned index partitions — the physical plan still
    carries the list_id PartitionFilters (only probed lists READ), and
    the results honor the predicate exactly."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("knnos")
    g = db.catalog.graphs["knnos"]
    grp = g.create_group("pts")
    rows = [(i, [float(i), 0.0], i % 2) for i in range(200)]
    grp.register_df(spark.createDataFrame(
        rows, "id long, vec array<double>, flag long"))
    grp.build_ivf_index("vec", str(tmp_path / "ivf_os"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        sel = db.query_df(
            "{query: 'pts', in: 'knnos', where: {$and: ["
            " {flag: 0},"
            " {vec: {limit: 3, $near: [0, 0]}}]}};")
        phys = sel._jdf.queryExecution().executedPlan().toString()
        pf = phys[phys.find("PartitionFilters"):].split("]", 1)[0]
        assert "list_id" in pf and " IN " in pf, pf
        assert [r["id"] for r in sel.collect()] == [0, 2, 4]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_radius_conjunct_disqualifies_pure_knn(spark, tmp_path):
    """ADVICE r7 (medium): a radius-only $near conjunct is a plain
    filter — combining it with a $near+limit must NOT take the pure-kNN
    materialized fast path (which picks top-k BEFORE df filters apply).
    The radius window here sits far from the kNN query point: the fast
    path would return zero rows; the correct plan returns the window's
    nearest members."""
    db, grp = _line_fixture_group(spark, "knnrad")
    grp.build_ivf_index("vec", str(tmp_path / "ivf_rad"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "16")   # probe all lists
    try:
        sel = db.query_df(
            "{query: 'pts', in: 'knnrad', where: {$and: ["
            " {vec: {$near: {$geometry: [100, 0], $lte: 4.0}}},"
            " {vec: {limit: 3, $near: [0, 0]}}]}};")
        # radius ≤ 4.0 around (100,0) keeps ids 98..102; nearest 3 to
        # the origin among them are 98, 99, 100
        assert [r["id"] for r in sel.collect()] == [98, 99, 100]
    finally:
        spark.conf.unset("spark.gqlite.knn.nprobe")
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_overlay_cap_switches_to_antijoin(spark, tmp_path):
    """ADVICE r7: above spark.gqlite.knn.overlay_isin_max local-overlay
    rows, the routed path stops inlining every overlay id as an isin
    literal and excludes shadowed ids via broadcast anti-join instead —
    same results, bounded plan size, rebuild hint logged."""
    db, grp = _line_fixture_group(spark, "knnov")
    grp.build_ivf_index("vec", str(tmp_path / "ivf_ov"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.overlay_isin_max", "5")
    try:
        # 8 local upserts > cap of 5; id 0 is shadowed with a FAR vector
        grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
        for i in range(7):
            grp.upsert_vertex(900 + i, {"vec": [300.0 + i, 0.0]})
        assert grp._vindex                # still attached (local writes)
        gql = ("{query: 'pts', in: 'knnov', where:"
               " {vec: {limit: 3, $near: [0, 0]}}};")
        routed = db.query_df(gql)
        plan = routed._jdf.queryExecution().toString()
        assert "list_id" in plan          # still the index route
        # shadowed id 0 must rank by its NEW (far) vector: out of top-3
        assert [r["id"] for r in routed.collect()] == [1, 2, 3]
    finally:
        spark.conf.unset("spark.gqlite.knn.overlay_isin_max")
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_edge_group_local_upsert_detaches_index(spark, tmp_path):
    """ADVICE r7: the routed path has no edge-overlay handling, so a
    local edge upsert must DETACH an attached index rather than keep
    serving stale results."""
    from gqlite_spark import GQLite
    from gqlite_spark.catalog import VectorIndex
    db = GQLite(spark)
    db.catalog.create_graph("edgeidx")
    g = db.catalog.graphs["edgeidx"]
    ge = g.create_group("rel", is_edge=True)
    ge.upsert_edge(1, "->", 2, {"w": 1.0})
    ge._vindex["vec"] = VectorIndex("ivf", str(tmp_path / "fake"), {})
    ge.upsert_edge(2, "->", 3, {"w": 2.0})
    assert not ge._vindex


def test_vindex_requires_integer_keys(spark, tmp_path):
    """ADVICE r7: centroid ids derive from vertex keys — a string-keyed
    group must fail with a clean GQLiteError, not a ValueError deep in
    expression building."""
    import pytest
    from gqlite_spark import GQLite
    from gqlite_spark.errors import GQLiteError
    db = GQLite(spark)
    db.catalog.create_graph("strkeys")
    g = db.catalog.graphs["strkeys"]
    grp = g.create_group("docs")
    grp.upsert_vertex("a", {"vec": [1.0, 0.0]})
    with pytest.raises(GQLiteError, match="integer"):
        grp.build_ivf_index("vec", str(tmp_path / "sidx"))


def test_default_nprobe_scales_with_nlist(spark, tmp_path):
    """VERDICT r7 next #5: nprobe's default must scale with nlist so the
    probed fraction doesn't shrink as auto_nlist grows with √n.  The
    conf still overrides (observed via the plan's partition filter)."""
    from gqlite_spark.operators.similarity import default_nprobe
    assert default_nprobe(64) == 8        # small index: old default
    assert default_nprobe(512) == 8
    assert default_nprobe(1024) == 16     # 1 M-ish corpus (auto_nlist)
    assert default_nprobe(3162) == 49     # 10 M corpus
    # conf override narrows the probe to exactly 2 lists
    db, grp = _line_fixture_group(spark, "knnnp")
    grp.build_ivf_index("vec", str(tmp_path / "ivf_np"))
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "2")
    try:
        routed = db.query_df(
            "{query: 'pts', in: 'knnnp', where:"
            " {vec: {limit: 3, $near: [0, 0]}}};")
        phys = routed._jdf.queryExecution().executedPlan().toString()
        pf = phys[phys.find("PartitionFilters"):].split("]", 1)[0]
        inlist = pf[pf.find("(") + 1:pf.find(")")]
        assert len(inlist.split(",")) == 2, pf
    finally:
        spark.conf.unset("spark.gqlite.knn.nprobe")
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_compact_overlay_into_index(spark, tmp_path):
    """Incremental index compaction (VERDICT r7 next #3): local upserts
    fold into the materialized index by rewriting ONLY the affected
    list partitions; the index stays attached, covers everything, and
    routed queries return to the zero-overlay plan."""
    import os
    db, grp = _line_fixture_group(spark, "knncp")
    idx = str(tmp_path / "ivf_cp")
    grp.build_ivf_index("vec", idx)
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        # record per-partition file mtimes before compaction
        pq = os.path.join(idx, "ivf.parquet")
        def mtimes():
            out = {}
            for d in os.listdir(pq):
                if d.startswith("list_id="):
                    full = os.path.join(pq, d)
                    out[d] = max(os.path.getmtime(os.path.join(full, f))
                                 for f in os.listdir(full)
                                 if f.endswith(".parquet"))
            return out
        before = mtimes()
        # shadow id 0 far away; add a new near row 999
        grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
        grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
        rep = grp.compact_into_index("vec")
        assert rep["rows_added"] == 2
        assert 0 < rep["lists_rewritten"] < len(before)
        after = mtimes()
        changed = [d for d in before if after.get(d) != before[d]]
        # only the affected partitions were rewritten
        assert 0 < len(changed) <= rep["lists_rewritten"] + 1, changed
        assert len(after) >= len(before)      # new lists may appear
        # overlay is gone, index attached, routed results correct:
        # id 0 now ranks by its far vector, 999 by its near one
        assert not grp.rows and grp._vindex
        gql = ("{query: 'pts', in: 'knncp', where:"
               " {vec: {limit: 3, $near: [0, 0]}}};")
        routed = db.query_df(gql)
        plan = routed._jdf.queryExecution().toString()
        assert "list_id" in plan
        assert [r["id"] for r in routed.collect()] == [999, 1, 2]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_vindex_compact_gql_statement(spark, tmp_path):
    """{vindex ... compact: true} — the GQL surface of incremental
    compaction; result row = (lists_rewritten, rows_added)."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("vcg")
    g = db.catalog.graphs["vcg"]
    grp = g.create_group("vecs")
    rows = [(i, [float(i), 0.0]) for i in range(100)]
    grp.register_df(spark.createDataFrame(
        rows, "id long, embedding array<double>"))
    p = str(tmp_path / "vc_idx")
    r = db.exec(f"{{vindex: 'vecs', in: 'vcg', path: '{p}'}};")[0]
    assert r.error is None
    db.exec("{upset: 'vecs', vertex: [[500, {embedding: [0.5, 0.0]}]]};")
    rep = db.exec(
        f"{{vindex: 'vecs', in: 'vcg', path: '{p}', compact: true}};")[0]
    assert rep.error is None and rep.rows == [[1, 1]], rep.rows
    assert not grp.rows and grp._vindex
    # compact with nothing to fold is a no-op
    rep2 = db.exec(
        f"{{vindex: 'vecs', in: 'vcg', path: '{p}', compact: true}};")[0]
    assert rep2.rows == [[0, 0]]
    # nlist/refine are rejected alongside compact
    bad = db.exec(f"{{vindex: 'vecs', in: 'vcg', path: '{p}',"
                  " compact: true, nlist: 8};")[0]
    assert bad.error and "compact" in bad.error


def test_compact_preserves_float_index_storage(spark, tmp_path):
    """Regression: an index built over an array<float> corpus stores
    _vec as float; compaction must write overlay vectors at the INDEX's
    element type (not a hard-coded double), or the rewritten partitions
    fail to read against the float footer schema — and materialized
    index bytes would silently double at scale."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("fcg")
    g = db.catalog.graphs["fcg"]
    grp = g.create_group("pts")
    rows = [(i, [float(i), 0.0]) for i in range(100)]
    grp.register_df(spark.createDataFrame(
        rows, "id long, vec array<float>"))
    idx = str(tmp_path / "ivf_float")
    grp.build_ivf_index("vec", idx)
    grp.upsert_vertex(500, {"vec": [0.25, 0.0]})
    rep = grp.compact_into_index("vec")
    assert rep["rows_added"] == 1
    # index still reads, stays float-typed, and the routed query sees
    # the compacted row
    from gqlite_spark.operators.similarity import load_index
    index, _ = load_index(spark, idx, "ivf")
    el = index.schema["_vec"].dataType.elementType.simpleString()
    assert el == "float", el
    spark.conf.set("spark.gqlite.knn.ann_threshold", "10")
    try:
        got = db.query_df("{query: 'pts', in: 'fcg', where:"
                          " {vec: {limit: 2, $near: [0, 0]}}};")
        assert [r["id"] for r in got.collect()] == [0, 500]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_knn_routed_ivfpq_codes_read(spark, tmp_path):
    """$near+limit over an attached IVFPQ index (VERDICT r8 next #3):
    when only the codes-sized index is attached, the routed plan reads
    the PROBED (id, codes) partitions — partition-pruned, no vector
    column — ranks by ADC, and exact-re-ranks the candidates via a
    broadcast id join.  On the line fixture the true top-k provably
    lies in the probed lists, so routed == exact."""
    from pyspark.sql import functions as SF

    from gqlite_spark.operators.similarity import save_ivfpq_index
    db, grp = _line_fixture_group(spark, "knnrt_pq")
    gql = ("{query: 'pts', in: 'knnrt_pq',"
           " where: {vec: {limit: 3, $near: [0, 0]}}};")
    exact_ids = [r["id"] for r in db.query_df(gql).collect()]
    assert exact_ids == [0, 1, 2]
    idx = str(tmp_path / "pqidx")
    save_ivfpq_index(grp.to_df(), idx, nlist=8, m=2, ksub=8,
                     id_col="id", vec_col="vec", metric="l2")
    grp.attach_index("vec", idx)
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "3")
    try:
        routed = db.query_df(gql)
        phys = routed._jdf.queryExecution().executedPlan().toString()
        # the probe reaches the CODES scan as partition pruning
        pf = phys[phys.find("PartitionFilters"):].split("]", 1)[0]
        assert "list_id" in pf and " IN " in pf, pf
        # the index scan carries codes, never vectors
        read = phys[phys.find("ReadSchema", phys.find("FileScan")):]
        read = read.split("\n")[0]
        assert "codes" in read and "vec" not in read, read
        assert [r["id"] for r in routed.collect()] == exact_ids
        # plain predicate + $near composes (df is pre-filtered; the
        # candidate join applies it naturally)
        both = db.query_df(
            "{query: 'pts', in: 'knnrt_pq', where: {id: {$gte: 1},"
            " vec: {limit: 3, $near: [0, 0]}}};")
        assert [r["id"] for r in both.collect()] == [1, 2, 3]
        # local overlay: new row joins as an exact candidate, shadowed
        # id's stale codes leave the ADC pool
        grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
        assert grp._vindex["vec"].kind == "ivfpq"  # local writes keep it
        assert [r["id"] for r in db.query_df(gql).collect()] == [0, 999, 1]
        grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
        assert [r["id"] for r in db.query_df(gql).collect()] == [999, 1, 2]
        # one index per property: building the full-vector index
        # replaces the PQ one, and the last built serves the route
        nlist = grp.build_ivf_index("vec", str(tmp_path / "fullvec"))
        assert nlist == 16
        plan2 = db.query_df(gql)._jdf.queryExecution().executedPlan() \
            .toString()
        # the materialized index's vector column is in the scan; the
        # ADC code-lookup expression is gone
        assert "_vec" in plan2 and "element_at(codes" not in plan2, plan2
        # BULK mutation detaches; queries fall back to exact
        grp.delete_where(SF.col("id") == SF.lit(999))
        assert not grp._vindex
        back = db.query_df(gql)
        assert "list_id" not in back._jdf.queryExecution().toString()
        assert [r["id"] for r in back.collect()] == [1, 2, 3]
        # an IVFPQ rebuild at the full-vector index's path attaches
        # the IVFPQ index just written, not the stale IVF sidecar that
        # still sits beside it
        grp.build_ivfpq_index("vec", str(tmp_path / "fullvec"), nlist=8,
                              m=2, ksub=8)
        assert grp._vindex["vec"].kind == "ivfpq"
        rebuilt = db.query_df(gql)
        plan3 = rebuilt._jdf.queryExecution().executedPlan().toString()
        assert "element_at(codes" in plan3, plan3
        assert [r["id"] for r in rebuilt.collect()] == [1, 2, 3]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
        spark.conf.unset("spark.gqlite.knn.nprobe")


def test_knn_routed_ivfpq_refill_and_exact_fallback(spark, tmp_path):
    """A selective predicate exhausts the small candidate set → the
    route doubles `candidates` (bounded) and, when the probed pool is
    spent, falls back to the complete exact scan — never a silently
    short result."""
    from gqlite_spark.operators.similarity import save_ivfpq_index
    db, grp = _line_fixture_group(spark, "knnrt_pqf")
    idx = str(tmp_path / "pqf")
    save_ivfpq_index(grp.to_df(), idx, nlist=8, m=2, ksub=8,
                     id_col="id", vec_col="vec", metric="l2")
    grp.attach_index("vec", idx)
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "2")
    spark.conf.set("spark.gqlite.knn.pq_candidates", "4")
    try:
        # ids >= 150 live far from the origin probe: the probed lists
        # cannot hold 3 of them at any candidates width -> exact
        # fallback returns the true answer
        far = db.query_df(
            "{query: 'pts', in: 'knnrt_pqf', where: {id: {$gte: 150},"
            " vec: {limit: 3, $near: [0, 0]}}};")
        assert [r["id"] for r in far.collect()] == [150, 151, 152]
        # a mildly selective predicate refills within the probed pool
        mild = db.query_df(
            "{query: 'pts', in: 'knnrt_pqf', where: {id: {$gte: 3},"
            " vec: {limit: 3, $near: [0, 0]}}};")
        assert [r["id"] for r in mild.collect()] == [3, 4, 5]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
        spark.conf.unset("spark.gqlite.knn.nprobe")
        spark.conf.unset("spark.gqlite.knn.pq_candidates")


def test_vindex_pq_compaction(spark, tmp_path):
    """{vindex pq: true, compact: true} folds the OLTP overlay into
    the IVFPQ index by rewriting only affected list partitions: new
    vectors are encoded with the index's own quantizers, shadowed ids'
    stale codes leave their lists, untouched partitions stay
    bit-identical, and the zero-overlay routed query equals exact."""
    from gqlite_spark import GQLite
    from gqlite_spark.operators.similarity import load_index
    db, grp = _line_fixture_group(spark, "knnrt_pqc")
    idx = str(tmp_path / "pqc")
    # a full-vector index shares the path: its sidecar stays beside
    # the IVFPQ one, and `pq: true` must still pick the IVFPQ index
    grp.build_ivf_index("vec", idx, nlist=8)
    r = db.exec("{vindex: 'pts', in: 'knnrt_pqc', on: 'vec',"
                f" path: '{idx}', nlist: 8, pq: true, m: 2,"
                " ksub: 8};")[0]
    assert r.error is None, r.error
    before = {(x["id"], tuple(x["codes"]), x["list_id"])
              for x in load_index(spark, idx, "ivfpq")[0].collect()}
    # overlay: move id 0 far away, add a new near-origin vector
    grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
    grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
    # fresh session: compaction re-attaches the index `pq: true` names
    grp._vindex.clear()
    r = db.exec("{vindex: 'pts', in: 'knnrt_pqc', on: 'vec',"
                " path: '" + idx + "', pq: true, compact: true};")[0]
    assert r.error is None, r.error
    lists_rewritten, rows_added = r.rows[0]
    assert rows_added == 2 and lists_rewritten >= 1
    assert not grp.rows                  # overlay merged into bulk
    assert grp._vindex["vec"].kind == "ivfpq"   # index stays attached
    after = {(x["id"], tuple(x["codes"]), x["list_id"])
             for x in load_index(spark, idx, "ivfpq")[0].collect()}
    # old id-0 codes gone, id 999 present, id count conserved
    ids_after = {t[0] for t in after}
    assert 999 in ids_after and len(ids_after) == 201
    # untouched rows bit-identical; id 0's stale codes are gone
    assert {t for t in before if t[0] != 0} <= after
    assert not ({t for t in before if t[0] == 0} & after)
    # routed zero-overlay query == exact over the merged corpus
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    spark.conf.set("spark.gqlite.knn.nprobe", "8")
    try:
        gql = ("{query: 'pts', in: 'knnrt_pqc',"
               " where: {vec: {limit: 3, $near: [0, 0]}}};")
        assert [x["id"] for x in db.query_df(gql).collect()] == [999, 1, 2]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
        spark.conf.unset("spark.gqlite.knn.nprobe")


def test_compaction_deletes_emptied_lists(spark, tmp_path):
    """Self-review r9: dynamic partition overwrite only replaces
    partitions PRESENT in the written data — when a list's ONLY
    resident is shadowed (moved away) and nothing new lands there, its
    stale file must be deleted explicitly or the pre-upsert entry
    comes back after compaction clears the overlay.  Singleton-list
    fixture (8 vectors, nlist=8): id 3 moves far away; both index
    kinds must drop it from its old list."""
    from gqlite_spark import GQLite
    from gqlite_spark.operators.similarity import load_index
    db = GQLite(spark)
    db.catalog.create_graph("cempty")
    grp = db.catalog.graphs["cempty"].create_group("pts")
    rows = [(i, [float(i) * 10, 0.0]) for i in range(8)]
    grp.register_df(
        spark.createDataFrame(rows, "id long, vec array<double>"))

    # full-vector index: every list holds exactly one vector
    ivf = str(tmp_path / "ivf")
    grp.build_ivf_index("vec", ivf, nlist=8)
    grp.upsert_vertex(3, {"vec": [30000.0, 0.0]})
    rep = grp.compact_into_index("vec")
    assert rep["rows_added"] == 1
    index, _ = load_index(spark, ivf, "ivf")
    got = {(r["id"], tuple(r["_vec"])) for r in index.collect()}
    assert (3, (30.0, 0.0)) not in got          # stale entry GONE
    assert (3, (30000.0, 0.0)) in got           # new entry present
    assert index.count() == 8
    # routed query over the compacted index never resurrects id 3
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    spark.conf.set("spark.gqlite.knn.nprobe", "8")
    try:
        q = db.query_df("{query: 'pts', in: 'cempty',"
                        " where: {vec: {limit: 3, $near: [30, 0]}}};")
        assert [r["id"] for r in q.collect()] == [2, 4, 1]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
        spark.conf.unset("spark.gqlite.knn.nprobe")

    # same edge through the PQ compaction
    grp2 = db.catalog.graphs["cempty"].create_group("pts2")
    grp2.register_df(
        spark.createDataFrame(rows, "id long, vec array<double>"))
    pq = str(tmp_path / "pq")
    grp2.build_ivfpq_index("vec", pq, nlist=8, m=2, ksub=8)
    grp2.upsert_vertex(3, {"vec": [30000.0, 0.0]})
    rep = grp2.compact_into_index("vec")
    assert rep["rows_added"] == 1
    pidx, _ = load_index(spark, pq, "ivfpq")
    assert pidx.count() == 8
    assert pidx.filter("id = 3").count() == 1   # exactly the new entry


def test_compaction_detaches_other_properties_indexes(spark, tmp_path):
    """Compacting property ``a`` merges the overlay into the bulk side.
    The index on ``b`` missed that fold, so it must detach: kept, its
    routed $near would find the folded row in neither the index nor
    the overlay."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("kmulti")
    grp = db.catalog.graphs["kmulti"].create_group("pts")
    grp.register_df(spark.createDataFrame(
        [(i, [float(i), 0.0], [float(i), 0.0]) for i in range(200)],
        "id long, a array<double>, b array<double>"))
    grp.build_ivf_index("a", str(tmp_path / "ia"))
    grp.build_ivf_index("b", str(tmp_path / "ib"))
    grp.upsert_vertex(999, {"a": [-0.5, 0.0], "b": [-0.5, 0.0]})
    grp.compact_into_index("a")
    gql = ("{query: 'pts', in: 'kmulti',"
           " where: {b: {limit: 3, %s$near: [0, 0]}}};")
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        routed = [r["id"] for r in db.query_df(gql % "").collect()]
        exact = [r["id"] for r in
                 db.query_df(gql % "exact: true, ").collect()]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    assert routed == exact == [0, 999, 1], (routed, exact)
    assert list(grp._vindex) == ["a"]


def test_torn_compaction_marker_refuses_attach(spark, tmp_path,
                                               monkeypatch):
    """A crash mid-compaction (between the per-partition overwrite and
    the emptied-list delete) leaves the in-progress marker behind; a
    later attach REFUSES the half-compacted index instead of silently
    serving it, and a rebuild clears the marker (VERDICT r9 wrong #3)."""
    import os
    from gqlite_spark import fsio
    from gqlite_spark.catalog import COMPACT_MARKER
    from gqlite_spark.errors import GQLiteError
    db, grp = _line_fixture_group(spark, "knntorn")
    idx = str(tmp_path / "ivf_torn")
    grp.build_ivf_index("vec", idx)
    grp.upsert_vertex(0, {"vec": [500.0, 0.0]})
    grp.upsert_vertex(999, {"vec": [-0.5, 0.0]})
    # kill the compaction right after the partition rewrite, before
    # the emptied-list delete removes the marker
    real_delete = fsio.delete
    def dying_delete(spark_, path, recursive=True):
        raise RuntimeError("simulated crash mid-compaction")
    monkeypatch.setattr(fsio, "delete", dying_delete)
    with pytest.raises(RuntimeError, match="simulated crash"):
        grp.compact_into_index("vec")
    monkeypatch.setattr(fsio, "delete", real_delete)
    marker = os.path.join(idx, "ivf.parquet", COMPACT_MARKER)
    assert os.path.exists(marker)
    # a fresh attach (new session / re-wire) refuses the torn index
    grp2 = db.catalog.graphs["knntorn"].group("pts")
    grp2._vindex.clear()
    with pytest.raises(GQLiteError, match="torn compaction"):
        grp2.attach_index("vec", idx)
    r = db.exec("{vindex: 'pts', in: 'knntorn', on: 'vec', path: '" +
                idx + "', attach: true};")[0]
    assert r.error and "torn compaction" in r.error
    # rebuild overwrites the whole index and clears the marker
    grp2.build_ivf_index("vec", idx)
    assert not os.path.exists(marker)
    assert grp2._vindex["vec"].path == idx
