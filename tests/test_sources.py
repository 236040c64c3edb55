"""Source loader tests: CSV bulk ingestion (movielens-style) and nGQL
INSERT parsing (basketballplayer fixture format)."""

import os

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")


def test_csv_vertices_and_edges(db, tmp_path):
    movies = tmp_path / "movies.csv"
    movies.write_text("movieId,title,genres\n1,Toy Story,Animation\n"
                      "2,Jumanji,Adventure\n")
    rates = tmp_path / "ratings.csv"
    rates.write_text("userId,movieId,rate\n10,1,4.5\n10,2,3.0\n11,1,5.0\n")
    db.exec("{create: 'ml', group: ['movie', ['user', 'rate', 'movie']]};")
    from gqlite_spark.sources.loaders import load_csv_edges, load_csv_vertices
    load_csv_vertices(db, "ml", "movie", str(movies), key_col="movieId")
    load_csv_edges(db, "ml", "rate", str(rates), src_col="userId",
                   dst_col="movieId")
    rows = db.exec("{query: 'movie', in: 'ml'};")[0].rows
    assert len(rows) == 2 and "Toy Story" in rows[0]
    res = db.exec("{query: 'rate', in: 'ml', where: [10, ->, *]};")[0]
    assert len(res.rows) == 2
    # per-row upsert composes with bulk CSV data (LWW)
    db.exec("{upset: 'movie', vertex: [[1, {title: 'Toy Story 2', genres: 'Animation'}]]};")
    rows = db.exec("{query: 'movie', in: 'ml', where: {id: 1}};")[0].rows
    assert "Toy Story 2" in rows[0]


NGQL = '''
INSERT VERTEX player(name, age) VALUES "player100":("Tim Duncan", 42);
INSERT VERTEX player(name, age) VALUES "player101":("Tony Parker", 36);
INSERT VERTEX team(name) VALUES "team204":("Spurs");
INSERT EDGE follow(degree) VALUES "player101" -> "player100":(95);
INSERT EDGE serve(start_year, end_year) VALUES "player100" -> "team204":(1997, 2016);
'''


def test_ngql_loader_basketballplayer(db):
    db.exec("{create: 'bb', group: ['player', 'team',"
            " ['player', 'follow', 'player'], ['player', 'serve', 'team']]};")
    from gqlite_spark.sources.loaders import load_ngql_inserts
    load_ngql_inserts(db, "bb", NGQL)
    rows = db.exec("{query: 'player', in: 'bb'};")[0].rows
    assert len(rows) == 2 and '"age":42' in rows[0]
    res = db.exec("{query: 'follow', in: 'bb', where: ['player101', ->, *]};")[0]
    assert res.rows == ["['player101', ->, 'player100', {\"degree\":95}]"]
    # point query by id — the reference's benchmark workload (vertex.gs)
    rows = db.exec("{query: 'player', in: 'bb', where: {id: 'player100'}};")[0].rows
    assert len(rows) == 1 and "Tim Duncan" in rows[0]


def test_import_dot_statement(db):
    """GQL `import '<path>.dot';` ingests the reference DOT corpus
    (gql.y:225-229 surface; stub in the reference)."""
    res = db.exec(f"import '{FIXTURES}/simple_g.dot';")
    assert res[0].error is None, res[0].error
    g = db.catalog.graph("G3_LOOP")
    assert set(g.groups["node"].rows) == {"A", "B", "C"}
    assert len(g.groups["edge"].rows) == 3
    rows = db.exec("{query: 'edge', in: 'G3_LOOP'};")[0].rows
    assert rows == ["['A', --, 'B']", "['B', --, 'C']", "['C', --, 'A']"]


def test_import_dot_weights_and_shortest_path(db):
    res = db.exec(f"import '{FIXTURES}/bipartile_weight.dot';")
    assert res[0].error is None, res[0].error
    g = db.catalog.graph("G")
    # [weight = N] attribute lists become integer edge properties
    assert g.groups["edge"].rows[("W1", "--", "T1")] == {"weight": 82}
    assert g.groups["edge"].meta.props == {"weight": "integer"}
    # weighted shortest path over the imported graph
    res = db.exec("{query: 'edge', in: 'G', where: ['W1', --: min('weight'), 'T3']};")
    assert res[0].error is None, res[0].error
    cost, path = res[0].value
    assert cost == 69.0 and path == ["W1", "T3"]


def test_import_gql_script(db, tmp_path):
    p = tmp_path / "setup.gql"
    p.write_text("{create: 'ig', group: ['v']};\n"
                 "{upset: 'v', vertex: [[1, {x: 2}]]};\n")
    res = db.exec(f"import '{p}';")
    assert res[0].error is None, res[0].error
    assert db.exec("{query: 'v', in: 'ig'};")[0].rows == ['[1, {"x":2}]']


def test_import_missing_file(db):
    res = db.exec("import '/no/such/file.dot';")
    assert res[0].status == "ERROR" and "import" in res[0].error


def test_jsonl_loader_roundtrip(db, tmp_path):
    import json
    p = tmp_path / "people.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in [
        {"pid": "p1", "name": "Ann", "score": 9.5},
        {"pid": "p2", "name": "Bo", "score": 7.0},
        {"pid": "p3", "name": "Cy", "score": 8.1}]))
    e = tmp_path / "follows.jsonl"
    e.write_text("\n".join(json.dumps(d) for d in [
        {"a": "p1", "b": "p2"}, {"a": "p2", "b": "p3"}]))

    from gqlite_spark.sources.loaders import (load_jsonl_edges,
                                              load_jsonl_vertices)
    db.exec("{create: 'jg', group: ['people', ['people', 'follows', 'people']]};")
    load_jsonl_vertices(db, "jg", "people", str(p), key_col="pid")
    load_jsonl_edges(db, "jg", "follows", str(e), src_col="a", dst_col="b")

    r = db.exec("{query: 'people', in: 'jg', where: {score: {$gt: 8}}};")[0]
    assert r.error is None
    assert sorted(row["id"] for row in r.df.collect()) == ["p1", "p3"]
    r2 = db.exec("{query: 'follows', in: 'jg', where: ['p1', ->, *]};")[0]
    assert r2.error is None and r2.df.count() == 1


GRAPHML = """<?xml version="1.0" encoding="UTF-8"?>
<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
  <key id="d0" for="node" attr.name="color" attr.type="string"/>
  <key id="d1" for="edge" attr.name="weight" attr.type="double"/>
  <key id="d2" for="node" attr.name="size" attr.type="int"/>
  <graph id="gm" edgedefault="undirected">
    <node id="n0"><data key="d0">green</data><data key="d2">4</data></node>
    <node id="n1"/>
    <node id="n2"><data key="d0">blue</data></node>
    <edge source="n0" target="n1"><data key="d1">1.5</data></edge>
    <edge source="n1" target="n2" directed="true"/>
  </graph>
</graphml>
"""


def test_import_graphml_statement(db, tmp_path):
    """GraphML interchange: namespaced XML, typed keys, edgedefault
    undirected with a per-edge directed override."""
    p = tmp_path / "g.graphml"
    p.write_text(GRAPHML)
    r = db.exec(f"import '{p}';")[0]
    assert r.error is None, r.error
    q = db.exec("{query: 'node', in: 'gm', where: {color: 'green'}};")[0]
    assert q.error is None
    row = q.df.collect()[0]
    assert row["id"] == "n0" and row["size"] == 4
    # undirected default: the n0--n1 edge matches in both orders
    for a, b in (("n0", "n1"), ("n1", "n0")):
        e = db.exec("{query: 'edge', in: 'gm',"
                    f" where: ['{a}', --, '{b}']}};")[0]
        assert e.error is None and e.df.count() == 1, (a, b)
    # per-edge directed="true" override: -> matches, reverse doesn't
    e = db.exec("{query: 'edge', in: 'gm', where: ['n1', ->, 'n2']};")[0]
    assert e.error is None and e.df.count() == 1
    e = db.exec("{query: 'edge', in: 'gm', where: ['n2', ->, '*']};")[0]
    assert e.error is None and e.df.count() == 0
    # weight prop typed as double
    w = db.exec("{query: 'edge', in: 'gm', where: ['n0', --, 'n1']};")[0]
    assert w.df.collect()[0]["weight"] == 1.5


def test_import_graphml_malformed(db, tmp_path):
    p = tmp_path / "bad.graphml"
    p.write_text("<graphml><graph><node id='x'/>")
    r = db.exec(f"import '{p}';")[0]
    assert r.error and "GraphML" in r.error
    p2 = tmp_path / "notg.xml"
    p2.write_text("<foo/>")
    r2 = db.exec(f"import '{p2}';")[0]
    assert r2.error and "GraphML" in r2.error


def test_import_graphml_bad_typed_value(db, tmp_path):
    """A malformed value under an int/float-typed key stays inside the
    loader's GQLiteError contract (ADVICE r5) — not a bare ValueError."""
    bad = """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
  <key id="d0" for="node" attr.name="size" attr.type="int"/>
  <graph id="gbad" edgedefault="directed">
    <node id="n0"><data key="d0">not-a-number</data></node>
  </graph>
</graphml>
"""
    p = tmp_path / "badtype.graphml"
    p.write_text(bad)
    r = db.exec(f"import '{p}';")[0]
    assert r.error and "size" in r.error and "not-a-number" in r.error
