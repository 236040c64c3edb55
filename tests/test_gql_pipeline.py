"""Engine-level pipeline statements: {dedup}, {similar}, {chunk} lower
onto the operators/ library (VERDICT r4 #6) — the ENGINE, not just the
Python API, covers the training-data pipeline.  Goldens on a small fixture
+ parse-error surface."""

import re

import pytest

SETUP = """
{create: 'pg', group: ['docs', 'vecs']};
{upset: 'docs', vertex: [
  [1, {text: 'the quick brown fox jumps over the lazy dog today'}],
  [2, {text: 'the quick brown fox jumps over the lazy dog today'}],
  [3, {text: 'the quick brown fox jumps over the lazy dog tonight'}],
  [4, {text: 'an entirely different document about spark engines here'}]]};
{upset: 'vecs', vertex: [
  [10, {embedding: [1.0, 0.0]}],
  [11, {embedding: [0.9, 0.1]}],
  [12, {embedding: [0.0, 1.0]}],
  [13, {embedding: [-1.0, 0.0]}]]};
"""


@pytest.fixture()
def pdb(db):
    for r in db.exec(SETUP):
        assert r.error is None, r.error
    return db


def _one(db, gql):
    res = db.exec(gql)
    assert len(res) == 1 and res[0].error is None, res[0].error
    return res[0]


def test_gql_dedup_exact(pdb):
    res = _one(pdb, "{dedup: 'docs', in: 'pg', method: 'exact'};")
    rows = {tuple(r[1:]) for r in res.rows}   # (representative, n_copies)
    assert (1, 2) in rows                     # docs 1+2 share text, rep=min
    assert sum(n for _, n in rows) == 4


def test_gql_dedup_minhash_finds_near_dup(pdb):
    res = _one(pdb, "{dedup: 'docs', in: 'pg', method: 'minhash',"
                    " threshold: 0.5};")
    pairs = {(r[0], r[1]) for r in res.rows}
    assert (1, 2) in pairs                    # identical docs always pair
    assert all(a < b for a, b in pairs)
    assert not any(4 in p for p in pairs)     # unrelated doc stays out


def test_gql_dedup_short_documents(db):
    """Documents shorter than the 3-word shingle (1 and 2 words) are one
    whole-text shingle each: identical short docs pair, different ones
    do not, and neither minhash nor its clustering crashes."""
    for r in db.exec("""
{create: 'sg', group: ['docs']};
{upset: 'docs', vertex: [
  [1, {text: 'hello'}], [2, {text: 'hello'}],
  [3, {text: 'hello world'}], [4, {text: 'hello world'}],
  [5, {text: 'other'}]]};"""):
        assert r.error is None, r.error
    res = _one(db, "{dedup: 'docs', in: 'sg', method: 'minhash'};")
    assert {(r[0], r[1]) for r in res.rows} == {(1, 2), (3, 4)}
    res = _one(db, "{dedup: 'docs', in: 'sg', method: 'clusters'};")
    assert {r[0]: r[1] for r in res.rows} == {1: 1, 2: 1, 3: 3, 4: 3}


def test_gql_chunk(pdb):
    res = _one(pdb, "{chunk: 'docs', in: 'pg', size: 4, overlap: 1};")
    by_doc = {}
    for doc_id, idx, n_toks, text in res.rows:
        by_doc.setdefault(doc_id, []).append((idx, n_toks, text))
    # 10 tokens, size 4, overlap 1 -> starts 1,4,7 -> 3 chunks of 4,4,4
    assert len(by_doc[1]) == 3
    assert by_doc[1][0][2].startswith("the quick brown fox")


def test_gql_similar_methods(pdb):
    for method in ("brute", "lsh", "ivf", "pq"):
        res = _one(pdb, "{similar: 'vecs', in: 'pg', to: [1.0, 0.0],"
                        " top: 2, method: '" + method + "'};")
        ids = [r[0] for r in res.rows]
        assert ids and ids[0] == 10, (method, res.rows)  # exact match first
        if method == "brute":
            assert ids == [10, 11]            # then the nearby vector


EVENTS_SETUP = """
{create: 'eg', group: ['ev']};
{upset: 'ev', vertex: [
  [100, {u: 1, et: 'view', at: 10000000000}],
  [101, {u: 1, et: 'click', at: 20000000000}],
  [102, {u: 2, et: 'click', at: 10000000000}],
  [103, {u: 2, et: 'view', at: 20000000000}],
  [104, {u: 3, et: 'view', at: 100000000000000}]]};
"""


@pytest.fixture()
def edb(db):
    for r in db.exec(EVENTS_SETUP):
        assert r.error is None, r.error
    return db


def test_gql_funnel(edb):
    """Funnel over a group's event properties: user 1 converts in order,
    user 2 clicked before viewing, user 3 never clicked.  Timestamps are
    long nanoseconds (the dual-encoding contract)."""
    res = _one(edb, "{funnel: 'ev', in: 'eg', steps: ['view', 'click'],"
                    " by: 'u', on: 'et', ts: 'at'};")
    by_step = {r[1]: r[2] for r in res.rows}
    assert by_step == {"view": 3, "click": 1}
    # conversion window: user 1's click is 10 s after the view
    res = _one(edb, "{funnel: 'ev', in: 'eg', steps: ['view', 'click'],"
                    " by: 'u', on: 'et', ts: 'at', within: 5000000};")
    by_step = {r[1]: r[2] for r in res.rows}
    assert by_step["click"] == 0


def test_gql_cohort(edb):
    """Daily-bucket cohort: users 1+2 start in bucket 0 (both active only
    there); user 3 starts and stays in bucket 1."""
    res = _one(edb, "{cohort: 'ev', in: 'eg', by: 'u', ts: 'at',"
                    " bucket: 86400};")
    rows = {(r[0], r[1]): r[2] for r in res.rows}
    assert rows[(0, 0)] == 2 and rows[(1, 0)] == 1
    assert (0, 1) not in rows                  # nobody from cohort 0 returns


def test_gql_sample(pdb):
    res = _one(pdb, "{sample: 'docs', in: 'pg', rate: 1.0};")
    assert len(res.rows) == 4                  # rate 1.0 keeps everything
    res = _one(pdb, "{sample: 'docs', in: 'pg', rate: 0.0};")
    assert res.rows == []
    # stratified: per-stratum rates over a property
    assert pdb.exec("{upset: 'docs', property: {lang: 'en'},"
                    " where: {id: {$lt: 3}}};")[0].error is None
    assert pdb.exec("{upset: 'docs', property: {lang: 'fr'},"
                    " where: {id: {$gte: 3}}};")[0].error is None
    res = _one(pdb, "{sample: 'docs', in: 'pg', by: 'lang',"
                    " rates: {en: 1.0}, default: 0.0};")
    ids = sorted(r[0] for r in res.rows)
    assert ids == [1, 2]                       # en kept, fr dropped


def test_gql_sample_clusters(pdb):
    """{sample clusters:} — embedding-cluster-balanced sampling over a
    vector property; per: 1 keeps exactly one row per occupied cell."""
    res = _one(pdb, "{sample: 'vecs', in: 'pg', clusters: 2, per: 1,"
                    " on: 'embedding'};")
    ids = {r[0] for r in res.rows}
    # 2 clusters over the 4-vector fixture -> exactly 2 representatives,
    # never two from the same cell
    assert len(res.rows) == 2 and len(ids) == 2
    clusters = [r[-1] for r in res.rows]
    assert len(set(clusters)) == 2
    r = pdb.exec("{sample: 'vecs', in: 'pg', clusters: 2, rate: 0.5};")[0]
    assert r.error and "exclusive" in r.error
    r = pdb.exec("{sample: 'vecs', in: 'pg', clusters: 0};")[0]
    assert r.error and "positive integer" in r.error
    r = pdb.exec("{sample: 'docs', in: 'pg', clusters: 2, on: 'text'};")[0]
    assert r.error and "numeric vector" in r.error


def test_gql_funnel_sample_parse_errors(pdb):
    r = pdb.exec("{funnel: 'ev', in: 'pg', steps: []};")[0]
    assert r.error and "steps" in r.error
    r = pdb.exec("{funnel: 'ev', in: 'pg', steps: ['a'], within: -1};")[0]
    assert r.error and "within" in r.error
    r = pdb.exec("{cohort: 'ev', in: 'pg', bucket: 0};")[0]
    assert r.error and "bucket" in r.error
    r = pdb.exec("{sample: 'docs', in: 'pg'};")[0]
    assert r.error and "rate" in r.error
    r = pdb.exec("{sample: 'docs', in: 'pg', rate: 1.5};")[0]
    assert r.error and "rate" in r.error
    r = pdb.exec("{sample: 'docs', in: 'pg', rates: {en: 0.5}};")[0]
    assert r.error and "by" in r.error


def test_gql_pipeline_errors(pdb):
    r = pdb.exec("{dedup: 'docs', in: 'pg', method: 'nope'};")[0]
    assert r.error and "unknown method" in r.error
    r = pdb.exec("{dedup: 'docs', in: 'pg', on: 'missing_prop'};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', to: 'oops'};")[0]
    assert r.error and "numeric vector" in r.error
    r = pdb.exec("{chunk: 'docs', in: 'pg', size: 4, overlap: 9};")[0]
    assert r.error and "overlap" in r.error
    r = pdb.exec("{dedup: 'docs', in: 'missing_graph'};")[0]
    assert r.error and "not exist" in r.error


@pytest.mark.parametrize("gql", [
    "{similar: 'docs', in: 'wk', on: 'text', to: [1.0, 0.0], top: 1};",
    "{dedup: 'docs', in: 'wk', method: 'embedding', on: 'text',"
    " threshold: 0.5};",
    "{chunk: 'docs', in: 'wk', on: 'emb', size: 4, overlap: 1};",
])
def test_wrong_kind_property_is_an_engine_error(db, gql):
    """A property of the wrong kind (text where a vector is read, a vector
    where text is read) is an ERROR result naming the property, and the
    rest of the script still runs."""
    res = db.exec(
        "{create: 'wk', group: ['docs']};"
        "{upset: 'docs', vertex: ["
        " [1, {text: 'a b c d e f', emb: [1.0, 0.0], lang: 'en'}],"
        " [2, {text: 'g h i j k l', emb: [0.0, 1.0], lang: 'de'}]]};"
        + gql + "{query: 'docs', in: 'wk'};")
    assert [r.error for r in res[:2]] == [None, None]
    assert res[2].error and ("not a numeric vector" in res[2].error
                             or "not a string" in res[2].error), \
        res[2].error
    assert res[3].error is None and len(res[3].rows) == 2


def test_gql_pipeline_profile_and_ast(pdb):
    """The pipeline statements compose with the generic wrappers the same
    way query does."""
    res = _one(pdb, "ast {chunk: 'docs', in: 'pg'};")
    from gqlite_spark.gql.ast import ChunkStmt
    assert isinstance(res.value, ChunkStmt)
    res = _one(pdb, "profile {similar: 'vecs', in: 'pg', to: [1.0, 0.0]};")
    # the all-local group is a LocalRelation with maxRows <= k, so
    # Catalyst drops the limit (EliminateLimits): the ordering node is a
    # Sort here, a TakeOrderedAndProject over bulk data
    assert res.value.startswith("== Physical Plan ==")
    assert re.search(r"\) (Sort|TakeOrderedAndProject)\n(.+\n)*?"
                     r"Arguments: (\d+, )?\[cosine#\d+ DESC", res.value), \
        res.value


def test_gql_similar_caches_quantizer_until_mutation(pdb):
    """IVF centroids / PQ codebooks built by {similar:} are cached on the
    Group (no rebuild scans on repeat queries) and invalidated by any
    mutation — a stale quantizer would silently miss new vectors."""
    grp = pdb._graph("pg").group("vecs")
    _one(pdb, "{similar: 'vecs', in: 'pg', to: [1.0, 0.0], method: 'ivf'};")
    _one(pdb, "{similar: 'vecs', in: 'pg', to: [1.0, 0.0], method: 'pq'};")
    assert ("ivf", "embedding") in grp._ann_cache
    assert ("pq", "embedding") in grp._ann_cache
    # mutation invalidates: the new vector must be findable
    assert pdb.exec("{upset: 'vecs', vertex: [[99, {embedding:"
                    " [1.0, 0.001]}]]};")[0].error is None
    assert grp._ann_cache == {}
    res = _one(pdb, "{similar: 'vecs', in: 'pg', to: [1.0, 0.001],"
                    " top: 1, method: 'ivf'};")
    assert res.rows[0][0] == 99


def test_gql_shards_export(pdb, tmp_path):
    """{shards} exports the group as deterministic epoch shards and
    reports per-shard counts; the files round-trip and the layout is a
    pure function of (salt, id)."""
    import glob
    import hashlib

    p = str(tmp_path / "ep1")
    res = _one(pdb, f"{{shards: 'docs', in: 'pg', path: '{p}', n: 4}};")
    counts = {r[0]: r[1] for r in res.rows}
    assert sum(counts.values()) == 4
    dirs = glob.glob(p + "/_shard=*")
    assert 1 <= len(dirs) <= 4
    for i in (1, 2, 3, 4):
        shard = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 4
        assert shard in counts


def test_gql_shards_parse_errors(pdb):
    r = pdb.exec("{shards: 'docs', in: 'pg', n: 4};")[0]
    assert r.error and "path" in r.error
    r = pdb.exec("{shards: 'docs', in: 'pg', path: '/tmp/x', n: 0};")[0]
    assert r.error and "positive" in r.error
    r = pdb.exec("{shards: 'docs', in: 'nope', path: '/tmp/x'};")[0]
    assert r.error == "graph is not exist: nope"


def test_gql_dedup_url(db):
    """{dedup method: 'url'}: canonicalize (case/port/utm/slash) then
    exact-dedup on the canonical form via the statement surface."""
    setup = """
{create: 'ug', group: ['pages']};
{upset: 'pages', vertex: [
  [1, {u: 'HTTP://A.com/x'}],
  [2, {u: 'http://a.com:80/x/'}],
  [3, {u: 'http://a.com/x?utm_source=z'}],
  [4, {u: 'http://a.com/y'}]]};
"""
    for r in db.exec(setup):
        assert r.error is None, r.error
    res = _one(db, "{dedup: 'pages', in: 'ug', method: 'url', on: 'u'};")
    out = {r[0]: (r[1], r[2]) for r in res.rows}
    assert out["http://a.com/x"] == (1, 3)
    assert out["http://a.com/y"] == (4, 1)
    bad = db.exec("{dedup: 'pages', in: 'ug', method: 'bogus', on: 'u'};")[0]
    assert bad.error and "exact|url|minhash" in bad.error


def test_gql_vindex_builds_and_routes(pdb, tmp_path, spark):
    """{vindex} builds + attaches a materialized l2 IVF index from GQL;
    a $near+limit above the threshold then routes through it (index
    partitions in the plan), and parse errors are reported."""
    p = str(tmp_path / "vidx")
    res = _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
                    f" path: '{p}', nlist: 4}};")
    assert res.rows[0][0] == 4                  # nlist used
    assert res.rows[0][1] >= 4                  # vectors indexed
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    try:
        out = pdb.query_df("{query: 'vecs', in: 'pg', where:"
                           " {embedding: {limit: 1, $near: [1.0, 0.0]}}};")
        assert "list_id" in out._jdf.queryExecution().toString()
        assert out.collect()
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    r = pdb.exec("{vindex: 'vecs', in: 'pg', nlist: 4};")[0]
    assert r.error and "path" in r.error
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}', nlist: 0}};")[0]
    assert r.error and "positive" in r.error
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', on: 'nope', path: '{p}'}};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec(f"{{vindex: 'docs', in: 'pg', on: 'text', path: '{p}'}};")[0]
    assert r.error and "not a numeric vector" in r.error


def test_gql_vindex_refine_option(pdb, tmp_path, spark):
    """{vindex refine: k} runs metric-matched Lloyd before the final
    assignment; the routed query still returns correct neighbors."""
    p = str(tmp_path / "vidx_r")
    res = _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
                    f" path: '{p}', nlist: 2, refine: 2}};")
    assert res.rows[0] == [2, 4]
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    try:
        out = pdb.query_df("{query: 'vecs', in: 'pg', where:"
                           " {embedding: {limit: 1, $near: [1.0, 0.0]}}};")
        assert [r["id"] for r in out.collect()] == [10]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}', refine: -1}};")[0]
    assert r.error and "non-negative" in r.error


def test_gql_similar_with_persisted_index(pdb, tmp_path, spark):
    """{similar index: 'dir'}: all three bucketed methods search their
    persisted on-disk index form (no quantizer recomputation) and agree
    with the brute-force top-1 on the fixture; missing/invalid index
    paths error cleanly."""
    from gqlite_spark.operators.similarity import (save_ann_index,
                                                   save_ivf_index,
                                                   save_pq_index)
    grp = pdb.catalog.graphs["pg"].group("vecs")
    corpus = grp.to_df().select("id", "embedding")
    paths = {}
    from gqlite_spark.operators.similarity import save_ivfpq_index
    for m, saver, kw in (
            ("lsh", save_ann_index, {"dim": 2, "n_planes": 2}),
            ("ivf", save_ivf_index, {"nlist": 2}),
            ("pq", save_pq_index, {"m": 2, "ksub": 4}),
            ("ivfpq", save_ivfpq_index, {"nlist": 2, "m": 2, "ksub": 4})):
        paths[m] = str(tmp_path / f"sidx_{m}")
        saver(corpus, paths[m], id_col="id", vec_col="embedding", **kw)
    for m in ("lsh", "ivf", "pq", "ivfpq"):
        res = _one(pdb, "{similar: 'vecs', in: 'pg', to: [1.0, 0.0],"
                        f" top: 1, method: '{m}', index: '{paths[m]}'}};")
        assert res.rows and res.rows[0][0] == 10, (m, res.rows)
    r = pdb.exec("{similar: 'vecs', in: 'pg', to: [1.0, 0.0],"
                 " method: 'brute', index: '/nope'};")[0]
    assert r.error and "persisted-index form" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', to: [1.0, 0.0],"
                 " method: 'ivf', index: '/nope'};")[0]
    assert r.error and "no persisted index" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', to: [1.0], index: 3};")[0]
    assert r.error and "path string" in r.error


def test_gql_similar_index_probes_by_the_index_metric(db, tmp_path):
    """{similar method: 'ivf', index:} over a {vindex} index probes its
    lists by the index's own l2 metric.  Probing by inner product picks
    the largest-norm centroids 8, 7, 6, 5 instead of the nearest 1..4
    and returns ids 5, 7 and 8 at cosine 0.995; the brute-force answer
    is [1, 100, 101] at 1.0."""
    for r in db.exec("""
      {create: 'pm', group: ['v']};
      {upset: 'v', vertex: [
        [1, {embedding: [1.0, 0.1]}], [2, {embedding: [2.0, 0.0]}],
        [3, {embedding: [3.0, 0.0]}], [4, {embedding: [4.0, 0.0]}],
        [5, {embedding: [5.0, 0.0]}], [6, {embedding: [6.0, -1.0]}],
        [7, {embedding: [7.0, 0.0]}], [8, {embedding: [8.0, 0.0]}],
        [100, {embedding: [1.0, 0.1]}], [101, {embedding: [1.1, 0.11]}]]};
    """):
        assert r.error is None, r.error
    p = str(tmp_path / "l2idx")
    assert _one(db, "{vindex: 'v', in: 'pm', on: 'embedding',"
                    f" path: '{p}', nlist: 8}};").rows == [[8, 10]]
    brute = _one(db, "{similar: 'v', in: 'pm', to: [1.0, 0.1], top: 3,"
                     " method: 'brute'};")
    via_idx = _one(db, "{similar: 'v', in: 'pm', to: [1.0, 0.1], top: 3,"
                       f" method: 'ivf', index: '{p}'}};")
    assert brute.rows == [[1, 1.0], [100, 1.0], [101, 1.0]]
    assert via_idx.rows == brute.rows


def test_gql_vindex_over_no_vectors_is_an_engine_error(db, spark,
                                                       tmp_path):
    """Building an index over a property with no non-null vectors is a
    clean engine error naming the group and property (the quantizer
    fetch raises ValueError), for both index kinds and for the
    Group API."""
    from gqlite_spark.errors import GQLiteError
    from gqlite_spark.operators.similarity import save_ivf_index
    db.exec("{create: 'nv', group: ['v']};")
    grp = db.catalog.graphs["nv"].group("v")
    grp.register_df(spark.createDataFrame(
        [(1, None), (2, None)], "id long, embedding array<double>"))
    p = str(tmp_path / "nvidx")
    for pq in ("", " pq: true,"):
        r = db.exec(f"{{vindex: 'v', in: 'nv', on: 'embedding',{pq}"
                    f" path: '{p}'}};")[0]
        assert r.error and "group 'v'" in r.error \
            and "'embedding'" in r.error, r.error
    with pytest.raises(GQLiteError, match="group 'v' property 'embedding'"):
        grp.build_ivf_index("embedding", p, nlist=4)
    assert not grp._vindex
    with pytest.raises(ValueError, match="no 'embedding' vectors"):
        save_ivf_index(grp.to_df().filter("embedding is not null"), p,
                       id_col="id")


@pytest.mark.parametrize("one_row_batches", [False, True])
def test_null_vectors_are_skipped_by_the_quantizers(db, spark, tmp_path,
                                                    one_row_batches):
    """A group whose lowest-id vertex has no vector answers {similar}
    ivf/pq and {sample clusters:} exactly as the same group without
    that vertex, and the three index builds write the same rows and
    sidecar; a null vector gets a null list id / null codes from the
    kernel.  ``one_row_batches`` caps the kernel's Arrow batches at one
    row, so the null vector also arrives in a batch holding nothing
    else."""
    import contextlib
    import json
    import math

    from gqlite_spark import conf, fsio
    from gqlite_spark.operators import similarity as S
    rows = [(i, [math.cos(i / 3), math.sin(i / 3), math.cos(i / 7),
                 float(i % 4)]) for i in range(1, 41)]
    frames = {}
    for g, extra in (("withnull", [(0, None)]), ("clean", [])):
        db.exec(f"{{create: '{g}', group: ['v']}};")
        df = spark.createDataFrame(extra + rows,
                                   "id long, embedding array<double>")
        db.catalog.graphs[g].group("v").register_df(df)
        frames[g] = df.cache()

    def answers(g):
        out = []
        for stmt in ("{similar: 'v', in: 'G', to: [1.0, 0.2, 0.5, 1.0],"
                     " top: 3, method: 'ivf'};",
                     "{similar: 'v', in: 'G', to: [1.0, 0.2, 0.5, 1.0],"
                     " top: 3, method: 'pq'};",
                     "{sample: 'v', in: 'G', clusters: 4, per: 2};"):
            r = db.exec(stmt.replace("'G'", f"'{g}'"))[0]
            assert r.error is None, r.error
            out.append(sorted(map(tuple, r.rows)))
        for kind, save, kw in (
                ("ivf", S.save_ivf_index, {"nlist": 4,
                                           "include_vectors": True}),
                ("pq", S.save_pq_index, {"m": 2, "ksub": 4,
                                         "refine_iters": 0}),
                ("ivfpq", S.save_ivfpq_index, {"nlist": 4, "m": 2,
                                               "ksub": 4})):
            p = str(tmp_path / f"{g}_{kind}")
            save(frames[g], p, id_col="id", **kw)
            index = spark.read.parquet(S.index_data_path(p, kind))
            out.append(sorted(json.dumps(r.asDict(), sort_keys=True)
                              for r in index.collect()))
            out.append(json.loads(fsio.read_text(
                spark, S.index_params_path(p, kind))))
        return out

    batches = (conf.scoped(spark, {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1"})
        if one_row_batches else contextlib.nullcontext())
    try:
        with batches:
            assert answers("withnull") == answers("clean")
            null = frames["withnull"].filter("id = 0")
            cents = S.ivf_centroids(frames["clean"], 4, "id")
            books = S.pq_codebooks(frames["clean"], 2, 4, "id")
            assert null.select(S._ivf_assign_col(cents, "embedding", "l2"),
                               S._pq_codes_col(books, "embedding")
                               ).first()[:] == (None, [None, None])
    finally:
        for df in frames.values():
            df.unpersist()


def test_null_vectors_are_left_out_of_cosine_topk(db, spark):
    """cosine_topk ranks only rows with a vector, so a k above their
    count returns no null-vector row, and {similar} brute and ivf give
    the same answer on a group with a null vector."""
    from gqlite_spark.operators.similarity import cosine_topk
    df = spark.createDataFrame([(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
                               "id long, embedding array<double>")
    assert [tuple(r) for r in cosine_topk(df, [1.0, 0.0], k=5,
                                          id_col="id").collect()] \
        == [(2, 1.0), (3, 0.0)]
    db.exec("{create: 'nullsim', group: ['v']};")
    db.catalog.graphs["nullsim"].group("v").register_df(df)
    answers = {}
    for method in ("brute", "ivf"):
        r = db.exec("{similar: 'v', in: 'nullsim', to: [1.0, 0.0], top: 5,"
                    f" method: '{method}'}};")[0]
        assert r.error is None, r.error
        answers[method] = [tuple(x) for x in r.rows]
    assert answers["brute"] == answers["ivf"] == [(2, 1.0), (3, 0.0)]


@pytest.mark.parametrize("metric", ["ip", "l2"])
def test_null_query_vector_pairs_with_nothing(spark, metric):
    """A null query vector returns no rows from knn_join and from
    ivf_knn_join, at nlist 3 and 130."""
    from gqlite_spark.operators import similarity as S
    # rows in the lowest-cid lists: the lists a null query used to probe
    corpus = spark.createDataFrame(
        [(i, [i - 2.0, 1.0]) for i in range(1, 5)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(10, None), (11, [1.0, 1.0])],
                                    "q_id long, q_vec array<double>")
    joins = {"ivf_%d" % n: S.ivf_knn_join(
        corpus, queries, k=2, nprobe=2, metric=metric,
        centroids=[(c, [c / 10.0, 1.0]) for c in range(n)])
        for n in (3, 130)}
    if metric == "ip":
        joins["brute"] = S.knn_join(corpus, queries, k=2)
    for name, out in joins.items():
        got = out.collect()
        assert {r["q_id"] for r in got} == {11}, (name, got)
        assert all(r[3] is not None for r in got), (name, got)


def test_gql_knn_routed_rejects_malformed_int_conf(pdb, tmp_path, spark):
    """A routed $near reads its integer confs strictly: a value that is
    not an integer is an engine error naming the key and the value, not
    a silent fall-back to the default."""
    p = str(tmp_path / "conf_idx")
    _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
              f" path: '{p}', nlist: 2}};")
    gql = ("{query: 'vecs', in: 'pg', where:"
           " {embedding: {limit: 1, $near: [1.0, 0.0]}}};")
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    spark.conf.set("spark.gqlite.knn.nprobe", "eight")
    try:
        r = pdb.exec(gql)[0]
        assert r.error and "spark.gqlite.knn.nprobe" in r.error \
            and "'eight'" in r.error, r.error
        spark.conf.set("spark.gqlite.knn.nprobe", "2")
        assert [r["id"] for r in pdb.query_df(gql).collect()] == [10]
    finally:
        spark.conf.unset("spark.gqlite.knn.nprobe")
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


def test_gql_similar_join_form(pdb):
    """{similar ... queries: 'grp'} — every vector in the query group
    searches the corpus group; brute and ivf agree when every list is
    probed."""
    for r in pdb.exec("""
      {create: 'pg', group: ['probes']};
      {upset: 'probes', vertex: [
        [100, {embedding: [0.95, 0.05]}],
        [101, {embedding: [-0.9, 0.01]}]]};
    """):
        assert r.error is None, r.error
    brute = _one(pdb, "{similar: 'vecs', in: 'pg', queries: 'probes',"
                 " top: 2, method: 'brute'};")
    ivf = _one(pdb, "{similar: 'vecs', in: 'pg', queries: 'probes',"
               " top: 2, method: 'ivf', nlist: 2, nprobe: 2};")
    assert sorted(map(tuple, brute.rows)) == sorted(map(tuple, ivf.rows))
    by_q = {}
    for q_id, vid, rank, cos in brute.rows:
        by_q.setdefault(q_id, []).append(vid)
    assert by_q[100][0] == 10 and by_q[101][0] == 13


def test_gql_similar_join_indexed(pdb, tmp_path, spark):
    """The join form through a persisted MATERIALIZED index matches the
    inline ivf join."""
    from gqlite_spark.operators.similarity import save_ivf_index
    g = pdb.catalog.graphs["pg"]
    corpus = g.group("vecs").to_df()
    path = str(tmp_path / "join_idx")
    save_ivf_index(corpus, path, nlist=2, id_col="id",
                   vec_col="embedding", include_vectors=True)
    for r in pdb.exec("""
      {create: 'pg', group: ['probes2']};
      {upset: 'probes2', vertex: [[200, {embedding: [0.8, 0.2]}]]};
    """):
        assert r.error is None, r.error
    inline = _one(pdb, "{similar: 'vecs', in: 'pg', queries: 'probes2',"
                  " top: 2, method: 'ivf', nlist: 2, nprobe: 2};")
    via_idx = _one(pdb, "{similar: 'vecs', in: 'pg', queries: 'probes2',"
                   f" top: 2, method: 'ivf', nprobe: 2, index: '{path}'}};")
    assert sorted(map(tuple, via_idx.rows)) == sorted(map(tuple,
                                                          inline.rows))
    # a non-materialized index is a clean engine error
    path2 = str(tmp_path / "join_idx_novec")
    save_ivf_index(corpus, path2, nlist=2, id_col="id",
                   vec_col="embedding", include_vectors=False)
    r = pdb.exec("{similar: 'vecs', in: 'pg', queries: 'probes2',"
                 f" method: 'ivf', index: '{path2}'}};")[0]
    assert r.error and "MATERIALIZED" in r.error


def test_gql_similar_join_parse_errors(pdb):
    r = pdb.exec("{similar: 'vecs', in: 'pg', queries: 'probes',"
                 " to: [1.0, 0.0]};")[0]
    assert r.error and "mutually exclusive" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', to: [1.0, 0.0],"
                 " nlist: 4};")[0]
    assert r.error and "join form" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', queries: 'probes',"
                 " nprobe: 0};")[0]
    assert r.error and "positive integer" in r.error
    r = pdb.exec("{similar: 'vecs', in: 'pg', queries: 'probes',"
                 " method: 'pq'};")[0]
    assert r.error and "brute|ivf" in r.error


def test_gql_layout_range(pdb, tmp_path):
    """{layout by: <one prop>} = range layout: sorted files + sidecar."""
    import glob
    p = str(tmp_path / "rng")
    res = _one(pdb, f"{{layout: 'docs', in: 'pg', path: '{p}',"
                    " by: 'id', files: 2};")
    assert res.rows == [["range", p, 4]]
    assert glob.glob(p + "/part-*.parquet")
    back = pdb.spark.read.parquet(p)
    assert back.count() == 4 and "text" in back.columns


def test_gql_layout_zorder_and_bucket(db, tmp_path):
    from gqlite_spark import fsio
    from gqlite_spark.sources import bucketed, clustered
    for r in db.exec(
            "{create: 'lg', group: ['pts']};"
            "{upset: 'pts', vertex: [[1, {x: 1, y: 8}], [2, {x: 5, y: 2}],"
            " [3, {x: 9, y: 7}], [4, {x: 3, y: 4}]]};"):
        assert r.error is None, r.error
    p = str(tmp_path / "z")
    res = _one(db, f"{{layout: 'pts', in: 'lg', path: '{p}',"
                   " by: ['x', 'y'], files: 2};")
    assert res.rows == [["zorder", p, 4]]
    spec = fsio.read_json(db.spark, fsio.join(p, clustered.SPEC_FILE))
    assert spec["cols"] == ["x", "y"]
    pb = str(tmp_path / "b")
    res = _one(db, f"{{layout: 'pts', in: 'lg', path: '{pb}',"
                   " bucket_by: 'x', buckets: 2};")
    assert res.rows == [["bucket", pb, 4]]
    assert fsio.exists(db.spark, fsio.join(pb, bucketed.SPEC_FILE))
    assert db.spark.read.parquet(pb).count() == 4


def test_gql_layout_errors(pdb):
    r = pdb.exec("{layout: 'docs', in: 'pg', path: '/tmp/x'};")[0]
    assert r.error and "exactly one" in r.error
    r = pdb.exec("{layout: 'docs', in: 'pg', path: '/tmp/x',"
                 " by: 'id', bucket_by: 'id'};")[0]
    assert r.error and "at most one" in r.error
    r = pdb.exec("{layout: 'docs', in: 'pg', by: 'id'};")[0]
    assert r.error and "path" in r.error
    r = pdb.exec("{layout: 'docs', in: 'pg', path: '/tmp/x',"
                 " by: ['id', 'text']};")[0]
    assert r.error and "numeric" in r.error
    r = pdb.exec("{layout: 'docs', in: 'pg', path: '/tmp/x',"
                 " by: 'nope'};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec("{layout: 'docs', in: 'pg', path: '/tmp/x',"
                 " by: 'id', files: 0};")[0]
    assert r.error and "positive" in r.error


def test_gql_rollup_build_and_append(db, tmp_path):
    """{rollup} builds the continuous aggregate; {rollup append:} folds
    a staged batch in, updating old buckets without rescanning them."""
    for r in db.exec(
            "{create: 'rg', group: ['evts', 'batch']};"
            "{upset: 'evts', vertex: ["
            " [1, {t: 0, v: 5}],"
            " [2, {t: 100000000000, v: 7}],"       # 100 s -> bucket 0
            " [3, {t: 3700000000000, v: 11}]]};"   # 3700 s -> bucket 3600
            "{upset: 'batch', vertex: ["
            " [9, {t: 200000000000, v: 13}]]};"):  # late: lands in bucket 0
        assert r.error is None, r.error
    p = str(tmp_path / "ru")
    res = _one(db, f"{{rollup: 'evts', in: 'rg', path: '{p}', ts: 't',"
                   " every: 3600, metrics: {v: ['sum', 'max']}};")
    assert res.rows == [["rollup", p, 2]]
    back = {r["bucket_start"]: r
            for r in db.spark.read.parquet(p).collect()}
    assert back[0]["n"] == 2 and back[0]["sum_v"] == 12
    assert back[3600]["max_v"] == 11

    res = _one(db, f"{{rollup: 'batch', in: 'rg', path: '{p}',"
                   " append: true};")
    assert res.rows == [["rollup_append", p, 2]]   # no new bucket
    back = {r["bucket_start"]: r
            for r in db.spark.read.parquet(p).collect()}
    assert back[0]["n"] == 3 and back[0]["sum_v"] == 25
    assert back[0]["max_v"] == 13


def test_gql_rollup_errors(db, pdb):
    r = pdb.exec("{rollup: 'docs', in: 'pg', every: 60};")[0]
    assert r.error and "path" in r.error
    r = pdb.exec("{rollup: 'docs', in: 'pg', path: '/tmp/x',"
                 " every: 0};")[0]
    assert r.error and "positive" in r.error
    r = pdb.exec("{rollup: 'docs', in: 'pg', path: '/tmp/x',"
                 " append: true, metrics: {v: ['sum']}};")[0]
    assert r.error and "spec sidecar" in r.error
    r = pdb.exec("{rollup: 'docs', in: 'pg', path: '/tmp/x',"
                 " ts: 'nope'};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec("{rollup: 'docs', in: 'pg', path: '/tmp/x', ts: 'id',"
                 " metrics: {text: ['median']}};")[0]
    assert r.error and "not mergeable" in r.error


def test_gql_rollup_hist_metric(db, tmp_path):
    """{rollup ... metrics: {v: ['hist']}, hist: {v: [lo, hi, bins]}}
    builds per-bucket histogram maps servable as quantiles."""
    from gqlite_spark.operators.rollup import rollup_quantiles
    for r in db.exec(
            "{create: 'hg', group: ['evs']};"
            "{upset: 'evs', vertex: ["
            " [1, {t: 0, v: 2}], [2, {t: 100000000000, v: 4}],"
            " [3, {t: 200000000000, v: 9}]]};"):
        assert r.error is None, r.error
    p = str(tmp_path / "hru")
    res = _one(db, f"{{rollup: 'evs', in: 'hg', path: '{p}', ts: 't',"
                   " every: 3600, metrics: {v: ['hist']},"
                   " hist: {v: [0, 10, 10]}};")
    assert res.rows == [["rollup", p, 1]]
    q = rollup_quantiles(db.spark, p, "v", [0.5]).collect()
    assert len(q) == 1 and abs(q[0]["value"] - 4.0) <= 1.0 + 1e-9
    # errors: hist without the metric / malformed params
    r = db.exec(f"{{rollup: 'evs', in: 'hg', path: '{p}x', ts: 't',"
                " metrics: {v: ['sum']}, hist: {v: [0, 10, 10]}};")[0]
    assert r.error and "lack 'hist'" in r.error
    r = db.exec(f"{{rollup: 'evs', in: 'hg', path: '{p}y', ts: 't',"
                " hist: {v: [0, 10]}};")[0]
    assert r.error and "lo, hi, bins" in r.error


def test_gql_rollup_hist_param_validation(db, tmp_path):
    """ADVICE r8 #5: bins must be a real positive integer (bool is an
    int subclass) and lo < hi — both rejected at parse time."""
    p = str(tmp_path / "hv")
    r = db.exec(f"{{rollup: 'evs', in: 'hg', path: '{p}', ts: 't',"
                " metrics: {v: ['hist']}, hist: {v: [0, 10, true]}};")[0]
    assert r.error and "positive integer" in r.error
    r = db.exec(f"{{rollup: 'evs', in: 'hg', path: '{p}', ts: 't',"
                " metrics: {v: ['hist']}, hist: {v: [10, 0, 5]}};")[0]
    assert r.error and "lo < hi" in r.error
    r = db.exec(f"{{rollup: 'evs', in: 'hg', path: '{p}', ts: 't',"
                " metrics: {v: ['hist']}, hist: {v: [0, 10, 0]}};")[0]
    assert r.error and "positive integer" in r.error


def test_gql_vindex_pq_builds_and_routes(pdb, tmp_path, spark):
    """{vindex pq: true} builds + attaches the IVFPQ (codes-only)
    index from GQL; a $near+limit above the threshold routes through
    ADC over the probed codes partitions with exact re-rank, and the
    pq-specific parse errors are reported."""
    p = str(tmp_path / "vpq")
    res = _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
                    f" path: '{p}', nlist: 2, pq: true, m: 2, ksub: 2}};")
    assert res.rows[0][0] == 2                  # nlist used
    assert res.rows[0][1] >= 4                  # vectors indexed
    grp = pdb.catalog.graphs["pg"].group("vecs")
    assert grp._vindex["embedding"].path == p
    assert grp._vindex["embedding"].kind == "ivfpq"
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    try:
        out = pdb.query_df("{query: 'vecs', in: 'pg', where:"
                           " {embedding: {limit: 1, $near: [1.0, 0.0]}}};")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "element_at(codes" in plan       # the ADC ranking stage
        assert [r["id"] for r in out.collect()] == [10]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}', m: 4}};")[0]
    assert r.error and "pq: true" in r.error
    # pq + compact is the PQ compaction lifecycle: the fixture's 4
    # local rows fold into their 2 lists, then a second compact (no
    # overlay left) is a clean no-op
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}',"
                 " pq: true, compact: true};")[0]
    assert r.error is None and r.rows == [[2, 4]]
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}',"
                 " pq: true, compact: true};")[0]
    assert r.error is None and r.rows == [[0, 0]]
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}',"
                 " compact: true, m: 2};")[0]
    assert r.error and "sidecar" in r.error
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p}',"
                 " pq: true, ksub: 0};")[0]
    assert r.error and "positive" in r.error


def test_gql_vindex_attach_existing(pdb, tmp_path, spark):
    """{vindex attach: true} re-wires an EXISTING persisted index (no
    rebuild) — kind discovered from the sidecar; both index forms."""
    p_ivf = str(tmp_path / "a_ivf")
    p_pq = str(tmp_path / "a_pq")
    _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
              f" path: '{p_ivf}', nlist: 2}};")
    _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
              f" path: '{p_pq}', nlist: 2, pq: true, m: 2, ksub: 2}};")
    grp = pdb.catalog.graphs["pg"].group("vecs")
    # simulate a fresh session: drop the attaches
    grp._vindex.clear()
    res = _one(pdb, f"{{vindex: 'vecs', in: 'pg', path: '{p_ivf}',"
                    " attach: true};")
    assert res.rows == [["attach_ivf", 2]]
    assert grp._vindex["embedding"].path == p_ivf
    res = _one(pdb, f"{{vindex: 'vecs', in: 'pg', path: '{p_pq}',"
                    " attach: true};")
    assert res.rows == [["attach_ivfpq", 2]]
    # the attach replaced the IVF record: one index per property
    assert grp._vindex["embedding"].path == p_pq
    # routed query works off the re-attached PQ index
    spark.conf.set("spark.gqlite.knn.ann_threshold", "1")
    try:
        out = pdb.query_df("{query: 'vecs', in: 'pg', where:"
                           " {embedding: {limit: 1, $near: [1.0, 0.0]}}};")
        assert [r["id"] for r in out.collect()] == [10]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")
    # errors: no sidecar; params beside attach
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p_pq}_nope',"
                 " attach: true};")[0]
    assert r.error and "no index sidecar" in r.error
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p_pq}',"
                 " attach: true, nlist: 4};")[0]
    assert r.error and "EXISTING index" in r.error


def test_gql_vindex_attach_rejects_wrong_index(pdb, tmp_path):
    """Attach validates the sidecar DESCRIBES this column: an index
    built for a different column, or for a different-dimensional
    corpus, is refused instead of silently serving wrong neighbors —
    and a refused attach leaves nothing attached."""
    for r in pdb.exec(
            "{create: 'pg', group: ['w1', 'w2']};"
            "{upset: 'w1', in: 'pg', vertex: [[20, {emb2: [1.0, 2.0]}],"
            " [21, {emb2: [2.0, 1.0]}], [22, {emb2: [0.0, 3.0]}]]};"
            "{upset: 'w2', in: 'pg', vertex:"
            " [[30, {embedding: [1.0, 0.0, 0.0]}],"
            "  [31, {embedding: [0.0, 1.0, 0.0]}],"
            "  [32, {embedding: [0.0, 0.0, 1.0]}]]};"):
        assert r.error is None, r.error
    p_col = str(tmp_path / "w_col")
    p_dim = str(tmp_path / "w_dim")
    _one(pdb, "{vindex: 'w1', in: 'pg', on: 'emb2',"
              f" path: '{p_col}', nlist: 2}};")
    _one(pdb, "{vindex: 'vecs', in: 'pg', on: 'embedding',"
              f" path: '{p_dim}', nlist: 2}};")
    # built for 'emb2', attached as 'embedding' (the default on:)
    r = pdb.exec(f"{{vindex: 'vecs', in: 'pg', path: '{p_col}',"
                 " attach: true};")[0]
    assert r.error and "built for column 'emb2'" in r.error
    # built on 2-d vectors, attached to a 3-d column
    r = pdb.exec(f"{{vindex: 'w2', in: 'pg', path: '{p_dim}',"
                 " attach: true};")[0]
    assert r.error and "2-dimensional" in r.error and "3 dims" in r.error
    grp = pdb.catalog.graphs["pg"].group("w2")
    assert not grp._vindex


def test_gql_rollup_cms_metric(db, tmp_path):
    """{rollup ... metrics: {u: ['cms']}, cms: {u: [d, w]}} maintains
    per-bucket count-min counter maps servable as per-key estimates."""
    from gqlite_spark.operators.rollup import rollup_keycounts
    for r in db.exec(
            "{create: 'cg', group: ['evs']};"
            "{upset: 'evs', vertex: ["
            " [1, {t: 0, u: 7}], [2, {t: 1000000000, u: 7}],"
            " [3, {t: 2000000000, u: 8}],"
            " [4, {t: 100000000000000, u: 7}]]};"):
        assert r.error is None, r.error
    p = str(tmp_path / "cru")
    res = _one(db, f"{{rollup: 'evs', in: 'cg', path: '{p}', ts: 't',"
                   " every: 3600, metrics: {u: ['cms']},"
                   " cms: {u: [4, 256]}};")
    assert res.rows == [["rollup", p, 2]]
    got = {(r["bucket_start"], r["key"]): r["count_est"] for r in
           rollup_keycounts(db.spark, p, "u", [7, 8, 99]).collect()}
    assert got[(0, 7)] == 2 and got[(0, 8)] == 1 and got[(0, 99)] == 0
    # 1e14 ns = 100000 s -> hour bucket 97200
    assert got[(97200, 7)] == 1
    # {topcount:} — the GQL read surface of the same estimates
    res = _one(db, f"{{topcount: '{p}', on: 'u', keys: [7, 8, 99]}};")
    tc = {(r[0], r[1]): r[2] for r in res.rows}
    assert tc == got
    assert res.df is not None and res.df.columns == [
        "bucket_start", "key", "count_est"]
    # errors: no cms metric for the column; missing rollup; bad args
    r = db.exec(f"{{topcount: '{p}', on: 'nope', keys: [1]}};")[0]
    assert r.error and "no cms metric" in r.error
    r = db.exec("{topcount: '/tmp/nope_tc', on: 'u', keys: [1]};")[0]
    assert r.error
    r = db.exec(f"{{topcount: '{p}', on: 'u', keys: []}};")[0]
    assert r.error and "non-empty" in r.error
    r = db.exec(f"{{topcount: '{p}', on: 'u', keys: [1], in: 'cg'}};")[0]
    assert r.error and "unknown key" in r.error
    # errors: malformed params / orphan params
    r = db.exec(f"{{rollup: 'evs', in: 'cg', path: '{p}x', ts: 't',"
                " metrics: {u: ['cms']}, cms: {u: [4]}};")[0]
    assert r.error and "[d, w]" in r.error
    r = db.exec(f"{{rollup: 'evs', in: 'cg', path: '{p}y', ts: 't',"
                " metrics: {u: ['sum']}, cms: {u: [4, 256]}};")[0]
    assert r.error and "lack 'cms'" in r.error
    r = db.exec(f"{{rollup: 'evs', in: 'cg', path: '{p}z', ts: 't',"
                " metrics: {u: ['cms']}, cms: {u: [4, true]}};")[0]
    assert r.error and "positive integers" in r.error


def test_gql_rollup_read_and_quantiles(db, tmp_path):
    """{rollup: '<path>', read: true} and {quantiles: '<path>', on:,
    qs:} — the GQL read surfaces of the kmv and hist sketches
    (VERDICT r10 next #5), symmetric with {topcount:}: served from the
    stored bucket table alone, sketch state projected away, estimates
    matching the library calls value-for-value."""
    from gqlite_spark.operators.rollup import read_rollup, rollup_quantiles
    for r in db.exec(
            "{create: 'rq', group: ['evs']};"
            "{upset: 'evs', vertex: ["
            " [1, {t: 0, u: 1, v: 2}], [2, {t: 0, u: 2, v: 4}],"
            " [3, {t: 100000000000000, u: 1, v: 9}]]};"):
        assert r.error is None, r.error
    p = str(tmp_path / "rqu")
    res = _one(db, f"{{rollup: 'evs', in: 'rq', path: '{p}', ts: 't',"
                   " every: 3600, metrics:"
                   " {v: ['sum', 'hist'], u: ['kmv']},"
                   " hist: {v: [0, 10, 10]}};")
    assert res.rows == [["rollup", p, 2]]
    # {rollup read:} == read_rollup minus the sketch-state columns
    res = _one(db, f"{{rollup: '{p}', read: true, avg: ['v']}};")
    lib = read_rollup(db.spark, p, avg_of=["v"])
    want = sorted([list(r) for r in
                   lib.select([c for c in lib.columns
                               if not c.startswith(("kmv_", "hist_"))])
                   .collect()])
    assert sorted(res.rows) == want
    assert any("distinct_u" not in str(c) or True for c in res.rows)
    # column check through the df surface
    dfq = db.query_df(f"{{rollup: '{p}', read: true}};")
    assert "distinct_u" in dfq.columns
    assert not [c for c in dfq.columns
                if c.startswith(("kmv_", "hist_", "cms_"))]
    # {quantiles:} == rollup_quantiles value-for-value
    res = _one(db, f"{{quantiles: '{p}', on: 'v', qs: [0.5, 0.9]}};")
    lib_q = sorted([list(r) for r in
                    rollup_quantiles(db.spark, p, "v",
                                     [0.5, 0.9]).collect()])
    assert sorted(res.rows) == lib_q
    # error shapes (runtime)
    r = db.exec(f"{{quantiles: '{p}', on: 'u', qs: [0.5]}};")[0]
    assert r.error and "no hist metric" in r.error
    r = db.exec(f"{{rollup: '{p}', read: true, avg: ['u']}};")[0]
    assert r.error and "needs sum" in r.error
    r = db.exec("{rollup: '/tmp/nope_rru', read: true};")[0]
    assert r.error and r.error.startswith("rollup read:")
    # error shapes (parse)
    r = db.exec(f"{{quantiles: '{p}', on: 'v', qs: [2]}};")[0]
    assert r.error and "in [0, 1]" in r.error
    r = db.exec(f"{{quantiles: '{p}', qs: [0.5]}};")[0]
    assert r.error and "on:" in r.error
    r = db.exec(f"{{quantiles: '{p}', on: 'v', qs: [0.5], keys: [1]}};")[0]
    assert r.error and "unknown key" in r.error
    r = db.exec(f"{{rollup: '{p}', read: true, every: 60}};")[0]
    assert r.error and "unknown key" in r.error
    r = db.exec("{rollup: '', read: true};")[0]
    assert r.error and "rollup path" in r.error


def test_gql_dedup_clusters_best_by(db):
    """{dedup ... method: 'clusters', best_by: prop} keeps each
    cluster's MAX-best_by member (tie -> min id) instead of the min-id
    canonical; best_by outside 'clusters' and unknown props error."""
    for r in db.exec(
            "{create: 'kb', group: ['docs']};"
            "{upset: 'docs', vertex: ["
            " [1, {text: 'aaa bbb ccc ddd eee fff ggg', q: 1.0}],"
            " [2, {text: 'aaa bbb ccc ddd eee fff ggg', q: 9.0}],"
            " [3, {text: 'zzz yyy xxx www vvv uuu ttt', q: 5.0}]]};"):
        assert r.error is None, r.error
    got = {r["id"]: (r["cluster_rep"], r["keep"]) for r in db.query_df(
        "{dedup: 'docs', in: 'kb', method: 'clusters',"
        " best_by: 'q'};").collect()}
    # docs 1 and 2 are exact near-dups -> one cluster; 2 wins on q
    assert got == {1: (1, False), 2: (1, True)}
    r = db.exec("{dedup: 'docs', in: 'kb', method: 'exact',"
                " best_by: 'q'};")[0]
    assert r.error and "requires method: 'clusters'" in r.error
    r = db.exec("{dedup: 'docs', in: 'kb', method: 'clusters',"
                " best_by: 'nope'};")[0]
    assert r.error and "no property 'nope'" in r.error


def test_gql_rollup_read_keeps_sketch_prefixed_user_columns(db,
                                                            tmp_path):
    """ADVICE r11 #3: {rollup read:} must hide EXACTLY the internal
    sketch-state columns derived from the spec's metrics — not every
    column whose NAME starts with kmv_/hist_/cms_.  A legitimate dim
    called 'hist_total' survives the projection; the real sketch state
    'hist_v' does not."""
    for r in db.exec(
            "{create: 'rpf', group: ['evs']};"
            "{upset: 'evs', in: 'rpf', vertex: ["
            " [1, {t: 0, hist_total: 7, v: 2}],"
            " [2, {t: 0, hist_total: 7, v: 4}],"
            " [3, {t: 0, hist_total: 8, v: 9}]]};"):
        assert r.error is None, r.error
    p = str(tmp_path / "rpfu")
    res = _one(db, f"{{rollup: 'evs', in: 'rpf', path: '{p}',"
                   " ts: 't', every: 3600, by: ['hist_total'],"
                   " metrics: {v: ['sum', 'hist']},"
                   " hist: {v: [0, 10, 10]}};")
    assert res.error is None, res.error
    dfq = db.query_df(f"{{rollup: '{p}', read: true}};")
    assert "hist_total" in dfq.columns      # user dim: served
    assert "hist_v" not in dfq.columns      # sketch state: projected
    got = sorted([r["hist_total"], r["sum_v"]] for r in dfq.collect())
    assert got == [[7, 6.0], [8, 9.0]]


def test_gql_curate_exact_and_best_by(db, spark):
    """{curate:} — the one-plan curation pipeline from GQL, matching
    the library call value-for-value in the default (min-id) and
    best_by (argmax) exact-purge forms."""
    from gqlite_spark.operators.sampling import curate_corpus
    long_en = ("the quick brown fox jumps over the lazy dog and the "
               "dog sleeps in the sun for a while longer today ") * 3
    docs = [(i, long_en) for i in (1, 2, 3)] + \
        [(4, long_en + "extra unique tail of the day")]
    for r in db.exec("{create: 'cur', group: ['docs', 'bench']};"):
        assert r.error is None, r.error
    g = db.catalog.graphs["cur"]
    g.group("docs").register_df(
        spark.createDataFrame(docs, "id long, text string"))
    g.group("bench").register_df(
        spark.createDataFrame([(99, "zzz qqq www")],
                              "id long, text string"))
    res = db.exec("{curate: 'docs', in: 'cur', benchmark: 'bench',"
                  " quality_min: 0.0};")[0]
    assert res.error is None, res.error
    lib = curate_corpus(g.group("docs").to_df(),
                        g.group("bench").to_df(),
                        quality_min=0.0, id_col="id")
    want = sorted([list(r) for r in lib.collect()])
    assert sorted(res.rows) == want
    assert sum(r[1] for r in res.rows) == 2    # {1, 4} survive dedup
    # best_by on the derived token count: same counts on this corpus
    res = db.exec("{curate: 'docs', in: 'cur', benchmark: 'bench',"
                  " quality_min: 0.0, best_by: 'n_tokens'};")[0]
    assert res.error is None, res.error
    assert sum(r[1] for r in res.rows) == 2


def test_gql_curate_clusters_keep_best(db, spark):
    """{curate: method: 'clusters'} — near-dup survivor purge from
    GQL: LSH pairs -> connected components -> keep-best (here the
    longest copy by default), then quality gate + decontamination;
    matches the library chain value-for-value."""
    from pyspark.sql import functions as F

    from gqlite_spark.operators.dedup import (keep_best_per_cluster,
                                              near_dup_clusters)
    from gqlite_spark.operators.sampling import curate_corpus
    base = ("the quick brown fox jumps over the lazy dog and then "
            "the dog naps under the old oak tree all afternoon "
            "while birds sing their songs in the warm breeze ")
    docs = [(1, base), (2, base + "minor tail change here today"),
            (3, "completely different text about graphs and engines "
                "running queries over distributed parquet tables "
                "with pruned scans and broadcast joins everywhere")]
    for r in db.exec("{create: 'cnd', group: ['docs', 'bench']};"):
        assert r.error is None, r.error
    g = db.catalog.graphs["cnd"]
    g.group("docs").register_df(
        spark.createDataFrame(docs, "id long, text string"))
    g.group("bench").register_df(
        spark.createDataFrame([(99, "qqq zzz")],
                              "id long, text string"))
    res = db.exec("{curate: 'docs', in: 'cnd', benchmark: 'bench',"
                  " quality_min: 0.0, method: 'clusters',"
                  " threshold: 0.5};")[0]
    assert res.error is None, res.error
    df = g.group("docs").to_df()
    clusters = near_dup_clusters(df, id_col="id", threshold=0.5)
    scores = df.select("id", F.length("text").cast("long")
                       .alias("score"))
    surv = keep_best_per_cluster(clusters, scores, id_col="id")
    lib = curate_corpus(df, g.group("bench").to_df(),
                        quality_min=0.0, id_col="id", survivors=surv)
    assert sorted(res.rows) == sorted([list(r) for r in lib.collect()])
    # docs 1~2 cluster; 2 is longer -> survives with 3: two docs total
    assert sum(r[1] for r in res.rows) == 2


def test_gql_curate_errors(db, spark):
    for r in db.exec("{create: 'cerr', group: ['docs', 'empty']};"):
        assert r.error is None, r.error
    db.catalog.graphs["cerr"].group("docs").register_df(
        spark.createDataFrame([(1, "hello world")],
                              "id long, text string"))
    # parse errors
    r = db.exec("{curate: 'docs', in: 'cerr'};")[0]
    assert r.error and "benchmark" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " quality_min: 2.0};")[0]
    assert r.error and "[0, 1]" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " ngram: 0};")[0]
    assert r.error and "positive integer" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " method: 'fuzzy'};")[0]
    assert r.error and "'exact' or 'clusters'" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " threshold: 0.5};")[0]
    assert r.error and "clusters" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " bogus: 1};")[0]
    assert r.error and "unknown key" in r.error
    # runtime errors (an unregistered benchmark group has no text
    # property — the resolver refuses before the pipeline builds)
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'empty'};")[0]
    assert r.error and "no property 'text'" in r.error
    r = db.exec("{curate: 'docs', in: 'cerr', benchmark: 'docs',"
                " best_by: 'nope'};")[0]
    assert r.error and "no property 'nope'" in r.error


def test_gql_split(pdb):
    """{split:} — leakage-safe deterministic split assignment through
    the engine: statement rows == library split_assign on the same
    frame; by: names the co-travel key; weights validated."""
    # give docs a shared 'site' so co-travel is observable
    assert pdb.exec("{upset: 'docs', property: {site: 'a.com'},"
                    " where: {id: {$lt: 3}}};")[0].error is None
    assert pdb.exec("{upset: 'docs', property: {site: 'b.com'},"
                    " where: {id: {$gte: 3}}};")[0].error is None
    res = _one(pdb, "{split: 'docs', in: 'pg', by: 'site',"
                    " weights: {train: 0.5, test: 0.5}, salt: 's'};")
    assert len(res.rows) == 4
    # co-travel: same site -> same split
    by_id = {r[0]: r[-1] for r in res.rows}
    assert by_id[1] == by_id[2] and by_id[3] == by_id[4]
    assert set(by_id.values()) <= {"train", "test"}
    # library parity on the same frame
    from gqlite_spark.operators.sampling import split_assign
    lib = {r["id"]: r["split"] for r in split_assign(
        res.df.drop("split"), splits=(("train", 0.5), ("test", 0.5)),
        key_col="site", salt="s").collect()}
    assert lib == by_id
    # default key is the group key; default weights 80/10/10
    res = _one(pdb, "{split: 'docs', in: 'pg'};")
    assert {r[-1] for r in res.rows} <= {"train", "val", "test"}


def test_gql_retrieve(pdb):
    """{retrieve:} — BM25 top-k through the engine: ranked rows,
    rank 1 is the doc with the most query-term mass; statement ==
    library bm25_topk on the same frame."""
    res = _one(pdb, "{retrieve: 'docs', in: 'pg',"
                    " terms: ['spark', 'fox'], top: 3};")
    assert 1 <= len(res.rows) <= 3
    # doc 4 is the only one containing 'spark' (rare term) -> its idf
    # dominates; ranked first
    assert res.rows[0][1] == 4 and res.rows[0][0] == 1
    from gqlite_spark.operators.text import bm25_topk
    got = {tuple(r) for r in res.rows}
    lib = {tuple(r) for r in bm25_topk(
        pdb.catalog.graph("pg").group("docs").to_df(),
        ["spark", "fox"], k=3, id_col="id").collect()}
    assert got == lib


def test_gql_split_retrieve_parse_errors(pdb):
    r = pdb.exec("{split: 'docs', in: 'pg',"
                 " weights: {train: 0.5}};")[0]
    assert r.error and "sum to 1" in r.error
    r = pdb.exec("{split: 'docs', in: 'pg', weights: {a: 2.0,"
                 " b: -1.0}};")[0]
    assert r.error and "fractions" in r.error
    r = pdb.exec("{split: 'docs', in: 'pg', by: 'nope'};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec("{split: 'docs', in: 'pg', rate: 0.5};")[0]
    assert r.error and "unknown key" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: []};")[0]
    assert r.error and "terms" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " top: 0};")[0]
    assert r.error and "top" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " b: 1.5};")[0]
    assert r.error and "b must" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " k1: 0};")[0]
    assert r.error and "k1" in r.error
    r = pdb.exec("{retrieve: 'vecs', in: 'pg', terms: ['a'],"
                 " on: 'embedding'};")[0]
    assert r.error and "not a string" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " foo: 1};")[0]
    assert r.error and "unknown key" in r.error


def test_gql_budget(pdb):
    """{budget:} — token-budget selection through the engine: derived
    quality/n_tokens metrics computed in-scan when the group lacks
    them; statement == library select_token_budget over the same
    derived frame; validation surface."""
    from pyspark.sql import functions as F

    from gqlite_spark.operators.sampling import select_token_budget
    from gqlite_spark.operators.text import quality_exprs

    res = _one(pdb, "{budget: 'docs', in: 'pg', tokens: 20};")
    got = {r[0] for r in res.rows}
    # library parity: same derived metrics, same budget
    df = pdb.catalog.graph("pg").group("docs").to_df()
    e = quality_exprs(F.coalesce(F.col("text"), F.lit("")))
    derived = (df.withColumn("quality", e["quality"])
               .withColumn("n_tokens", e["n_tokens"]))
    lib = {r["id"] for r in
           select_token_budget(derived, 20, id_col="id").collect()}
    assert got == lib and 0 < len(got) < 4
    # budget 0 -> nothing; huge budget -> everything
    assert _one(pdb, "{budget: 'docs', in: 'pg', tokens: 0};").rows == []
    assert len(_one(pdb,
                    "{budget: 'docs', in: 'pg', tokens: 10000};").rows) == 4
    # explicit by:/on: over a real property
    res = _one(pdb, "{budget: 'docs', in: 'pg', tokens: 10000,"
                    " by: 'id', on: 'id'};")
    assert len(res.rows) == 4
    r = pdb.exec("{budget: 'docs', in: 'pg', tokens: -1};")[0]
    assert r.error and "non-negative" in r.error
    r = pdb.exec("{budget: 'docs', in: 'pg'};")[0]
    assert r.error and "tokens" in r.error
    r = pdb.exec("{budget: 'docs', in: 'pg', tokens: 5, by: 'nope'};")[0]
    assert r.error and "no property" in r.error
    r = pdb.exec("{budget: 'docs', in: 'pg', tokens: 5, foo: 1};")[0]
    assert r.error and "unknown key" in r.error


def test_gql_retrieve_hybrid(pdb):
    """{retrieve: near:/vectors:} — hybrid dense+sparse RRF through the
    engine: statement == library hybrid_topk over the same frames;
    hybrid-form validation."""
    res = _one(pdb, "{retrieve: 'docs', in: 'pg',"
                    " terms: ['spark', 'fox'], top: 4,"
                    " near: [1.0, 0.0], vectors: 'vecs'};")
    assert 1 <= len(res.rows) <= 4
    from gqlite_spark.operators.similarity import hybrid_topk
    docs = pdb.catalog.graph("pg").group("docs").to_df()
    vecs = pdb.catalog.graph("pg").group("vecs").to_df()
    lib = {tuple(r) for r in hybrid_topk(
        docs, vecs, [1.0, 0.0], ["spark", "fox"], k=4, k_each=20,
        doc_id_col="id", vec_id_col="id").collect()}
    assert {tuple(r) for r in res.rows} == lib
    # vec ids (10-13) never match doc ids (1-4) in this fixture, so
    # every fused row is single-leg — ranks coalesce to 0, not null
    assert all(r[2] == 0 or r[3] == 0 for r in res.rows)
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " near: [1.0]};")[0]
    assert r.error and "come together" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " vectors: 'vecs'};")[0]
    assert r.error and "come together" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " fuse: 30};")[0]
    assert r.error and "hybrid form" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " near: ['x'], vectors: 'vecs'};")[0]
    assert r.error and "numeric vector" in r.error
    r = pdb.exec("{retrieve: 'docs', in: 'pg', terms: ['a'],"
                 " near: [1.0, 0.0], vectors: 'vecs', von: 'id'};")[0]
    assert r.error and "numeric vector" in r.error
