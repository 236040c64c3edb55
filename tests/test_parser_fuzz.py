"""Parser tests that need no Spark.  Property-based (hypothesis):
arbitrary values survive the upsert→parse round-trip, and arbitrary input
never crashes the lexer/parser with anything but GQLParseError.  Statement
keys: a misspelled key or a malformed flag is an error.  Every statement
the parser builds has one handler in the executor's statement table."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gqlite_spark.errors import GQLParseError
from gqlite_spark.gql.ast import UpsetVertexStmt
from gqlite_spark.gql.parser import parse, parse_one

# property values the GQL literal surface can express
_prop_key = st.text(alphabet=string.ascii_lowercase + "_", min_size=1,
                    max_size=8)
_safe_text = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_characters="'\\\x00"),
    max_size=30)
_scalar = st.one_of(
    st.integers(min_value=-2**31, max_value=2**31),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    _safe_text,
)
_vector = st.lists(st.floats(allow_nan=False, allow_infinity=False,
                             width=32), min_size=1, max_size=4)


def _fmt(v) -> str:
    if isinstance(v, str):
        return "'" + v + "'"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"
    return str(v)


@given(key=st.one_of(st.integers(min_value=0, max_value=2**40), _safe_text),
       props=st.dictionaries(_prop_key, st.one_of(_scalar, _vector),
                             min_size=0, max_size=4))
@settings(max_examples=200, deadline=None)
def test_upsert_roundtrip(key, props):
    """Any expressible (key, props) pair parses back to itself."""
    key_lit = _fmt(key) if isinstance(key, str) else str(key)
    if props:
        body = ", ".join(f"{k}: {_fmt(v)}" for k, v in props.items())
        gql = f"{{upset: 'g', vertex: [[{key_lit}, {{{body}}}]]}};"
    else:
        gql = f"{{upset: 'g', vertex: [[{key_lit}]]}};"
    stmt = parse_one(gql)
    assert isinstance(stmt, UpsetVertexStmt)
    [(parsed_key, parsed_props)] = stmt.vertices
    assert parsed_key == key
    expected = {k: (pytest_approx(v) if isinstance(v, float) else v)
                for k, v in props.items()} or None
    if props:
        assert set(parsed_props) == set(props)
        for k, v in props.items():
            got = parsed_props[k]
            if isinstance(v, float):
                assert got == v
            elif isinstance(v, list):
                assert [float(x) for x in got] == [float(x) for x in v]
            else:
                assert got == v
    else:
        assert parsed_props is None


def pytest_approx(v):
    return v


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes(text):
    """Arbitrary input → parsed statements or GQLParseError; never any
    other exception (no hangs, no internal errors)."""
    try:
        parse(text)
    except GQLParseError:
        pass


@given(st.text(alphabet="{}[]():,;'*-<>=$ \tab01.", max_size=80))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes_structural(text):
    """Structural-character soup (worst case for a recursive-descent
    parser) → same guarantee."""
    try:
        parse(text)
    except GQLParseError:
        pass


# ---------------------------------------------------------------------------
# Pipeline statements ({dedup}/{similar}/{chunk}) — round 5 engine surface
# ---------------------------------------------------------------------------

_method = st.one_of(st.sampled_from(
    ["exact", "minhash", "jaccard", "simhash", "lines", "clusters",
     "embedding", "brute", "lsh", "ivf", "pq"]),
    st.text(alphabet=string.ascii_lowercase, max_size=8))


@given(group=_prop_key, method=_method,
       thr=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
       vec=_vector,
       top=st.integers(min_value=1, max_value=100),
       size=st.integers(min_value=1, max_value=512),
       overlap=st.integers(min_value=0, max_value=511))
@settings(max_examples=150, deadline=None)
def test_pipeline_statements_parse(group, method, thr, vec, top, size,
                                   overlap):
    """Any well-formed pipeline statement parses to its AST node with the
    given parameters; ill-formed parameter types raise GQLParseError (the
    executor, not the parser, validates method names)."""
    from gqlite_spark.gql.ast import ChunkStmt, DedupStmt, SimilarStmt

    s = parse_one("{dedup: '" + group + "', method: '" + method
                  + "', threshold: " + repr(thr) + "};")
    assert isinstance(s, DedupStmt)
    assert s.group == group and s.method == method
    assert abs(s.threshold - thr) < 1e-9

    s = parse_one("{similar: '" + group + "', to: "
                  + "[" + ", ".join(repr(float(x)) for x in vec) + "]"
                  + ", top: " + str(top) + "};")
    assert isinstance(s, SimilarStmt)
    assert s.top == top and len(s.to) == len(vec)

    if overlap < size:
        s = parse_one("{chunk: '" + group + "', size: " + str(size)
                      + ", overlap: " + str(overlap) + "};")
        assert isinstance(s, ChunkStmt)
        assert (s.size, s.overlap) == (size, overlap)
    else:
        try:
            parse_one("{chunk: '" + group + "', size: " + str(size)
                      + ", overlap: " + str(overlap) + "};")
            assert False, "overlap >= size must be rejected"
        except GQLParseError:
            pass
    # type errors are parse errors
    for bad in ("{similar: 'g', to: 'oops'};",
                "{similar: 'g', to: [1.0], top: 0};",
                "{dedup: 'g', threshold: 'high'};",
                "{chunk: 'g', size: -1};"):
        try:
            parse_one(bad)
            assert False, f"{bad} must be rejected"
        except GQLParseError:
            pass


@given(group=_prop_key,
       steps=st.lists(st.text(alphabet=string.ascii_lowercase,
                              min_size=1, max_size=8),
                      min_size=1, max_size=5),
       within=st.one_of(st.none(),
                        st.integers(min_value=0, max_value=10**12)),
       bucket=st.integers(min_value=1, max_value=10**7),
       rate=st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_funnel_cohort_sample_parse(group, steps, within, bucket, rate):
    """The round-5 statements ({funnel}/{cohort}/{sample}) parse to their
    AST nodes; malformed steps/bucket/rate raise GQLParseError."""
    from gqlite_spark.gql.ast import CohortStmt, FunnelStmt, SampleStmt

    w = "" if within is None else ", within: " + str(within)
    s = parse_one("{funnel: '" + group + "', steps: ["
                  + ", ".join("'" + x + "'" for x in steps) + "]"
                  + w + "};")
    assert isinstance(s, FunnelStmt)
    assert s.steps == steps and s.within == within

    s = parse_one("{cohort: '" + group + "', bucket: " + str(bucket) + "};")
    assert isinstance(s, CohortStmt)
    assert s.bucket == bucket

    s = parse_one("{sample: '" + group + "', rate: " + repr(rate) + "};")
    assert isinstance(s, SampleStmt)
    assert abs(s.rate - rate) < 1e-9 and s.rates is None

    for bad in ("{funnel: 'g', steps: []};",
                "{funnel: 'g', steps: [1]};",
                "{funnel: 'g', steps: ['a'], within: -1};",
                "{cohort: 'g', bucket: 0};",
                "{sample: 'g'};",
                "{sample: 'g', rate: 0.5, rates: {a: 0.1}};",
                "{sample: 'g', rate: 2.0};",
                "{sample: 'g', rates: {a: 0.5}};"):
        try:
            parse_one(bad)
            assert False, f"{bad} must be rejected"
        except GQLParseError:
            pass


@given(group=_prop_key,
       n=st.integers(min_value=1, max_value=256),
       nlist=st.one_of(st.none(), st.integers(min_value=1, max_value=4096)),
       refine=st.integers(min_value=0, max_value=8),
       salt=st.text(alphabet=string.ascii_lowercase, max_size=6))
@settings(max_examples=100, deadline=None)
def test_shards_vindex_parse(group, n, nlist, refine, salt):
    """The r6/r7 export/index statements parse to their AST nodes with
    the given parameters; bad n/nlist/refine/path types raise
    GQLParseError."""
    from gqlite_spark.gql.ast import ShardsStmt, VIndexStmt

    s = parse_one("{shards: '" + group + "', path: '/tmp/x', n: "
                  + str(n) + ", salt: '" + salt + "'};")
    assert isinstance(s, ShardsStmt)
    assert (s.group, s.n, s.salt) == (group, n, salt)

    nl = "" if nlist is None else ", nlist: " + str(nlist)
    s = parse_one("{vindex: '" + group + "', path: '/tmp/x'" + nl
                  + ", refine: " + str(refine) + "};")
    assert isinstance(s, VIndexStmt)
    assert (s.group, s.nlist, s.refine) == (group, nlist, refine)

    for bad in ("{shards: 'g', path: '/x', n: 0};",
                "{shards: 'g', n: 4};",
                "{vindex: 'g', path: '/x', nlist: 0};",
                "{vindex: 'g', path: '/x', refine: -1};",
                "{vindex: 'g', path: 3};",
                "{similar: 'g', to: [1.0], index: 3};"):
        try:
            parse_one(bad)
            raise AssertionError(f"parse accepted {bad!r}")
        except GQLParseError:
            pass


@given(group=_prop_key,
       w1=st.floats(min_value=0.01, max_value=0.99, allow_nan=False),
       terms=st.lists(st.text(alphabet=string.ascii_lowercase,
                              min_size=1, max_size=8),
                      min_size=1, max_size=5),
       top=st.integers(min_value=1, max_value=100),
       fuse=st.integers(min_value=1, max_value=1000),
       tokens=st.integers(min_value=0, max_value=10**12))
@settings(max_examples=100, deadline=None)
def test_split_retrieve_budget_parse(group, w1, terms, top, fuse, tokens):
    """The late-r14 statements ({split}/{retrieve}/{budget}) parse to
    their AST nodes; malformed weights/terms/top/fuse/tokens and
    half-specified hybrid forms raise GQLParseError."""
    from gqlite_spark.gql.ast import BudgetStmt, RetrieveStmt, SplitStmt

    w2 = 1.0 - w1
    s = parse_one("{split: '" + group + "', weights: {a: " + repr(w1)
                  + ", b: " + repr(w2) + "}};")
    assert isinstance(s, SplitStmt)
    assert abs(sum(s.weights.values()) - 1.0) < 1e-9

    tlist = "[" + ", ".join("'" + t + "'" for t in terms) + "]"
    s = parse_one("{retrieve: '" + group + "', terms: " + tlist
                  + ", top: " + str(top) + "};")
    assert isinstance(s, RetrieveStmt)
    assert s.terms == terms and s.top == top and s.near is None

    s = parse_one("{retrieve: '" + group + "', terms: " + tlist
                  + ", near: [1.0, 0.5], vectors: 'v', fuse: "
                  + str(fuse) + "};")
    assert isinstance(s, RetrieveStmt)
    assert s.near == [1.0, 0.5] and s.vectors == "v" and s.fuse == fuse

    s = parse_one("{budget: '" + group + "', tokens: " + str(tokens)
                  + "};")
    assert isinstance(s, BudgetStmt)
    assert s.tokens == tokens

    for bad in ("{split: 'g', weights: {a: " + repr(w1) + "}};",
                "{split: 'g', weights: {}};",
                "{split: 'g', weights: {a: 2.0, b: -1.0}};",
                "{split: 'g', by: 1};",
                "{retrieve: 'g', terms: []};",
                "{retrieve: 'g', terms: [1]};",
                "{retrieve: 'g', terms: ['a'], top: 0};",
                "{retrieve: 'g', terms: ['a'], k1: 0};",
                "{retrieve: 'g', terms: ['a'], b: 1.5};",
                "{retrieve: 'g', terms: ['a'], near: [1.0]};",
                "{retrieve: 'g', terms: ['a'], vectors: 'v'};",
                "{retrieve: 'g', terms: ['a'], near: ['x'],"
                " vectors: 'v'};",
                "{retrieve: 'g', terms: ['a'], fuse: 30};",
                "{budget: 'g'};",
                "{budget: 'g', tokens: -1};",
                "{budget: 'g', tokens: 5, by: 2};",
                "{budget: 'g', tokens: 5, extra: 1};"):
        try:
            parse_one(bad)
            assert False, f"{bad} must be rejected"
        except GQLParseError:
            pass


# ---------------------------------------------------------------------------
# Statement keys: each statement's dataclass is its key list, so a
# misspelled key is an error, never a silent default
# ---------------------------------------------------------------------------


# (a valid statement, a misspelling of one of its keys)
_FORMS = [
    ("{create: 'g', group: ['a']};", "grup"),
    ("{upset: 'x', vertex: [[1, {a: 5}]]};", "inn"),
    ("{upset: 'e', edge: [[1, ->, 2]]};", "inn"),
    ("{upset: 'x', property: {a: 9}, where: {id: 2}};", "wher"),
    ("{query: 'x', in: 'g', where: {a: 1}};", "wehre"),
    ("{query: 'h', event: [{e: 'a'}], where: []};", "evnt"),
    ("{remove: 'x', vertex: {id: 1}};", "inn"),
    ("{remove: 'e', edge: [1, ->, *]};", "inn"),
    ("{drop: 'g'};", "force"),
    ("{dump: 'g'};", "path"),
    ("{dedup: 'd', method: 'minhash'};", "treshold"),
    ("{curate: 'd', benchmark: 'b'};", "quality"),
    ("{similar: 'v', to: [1.0, 0.0]};", "topk"),
    ("{similar: 'v', queries: 'q', method: 'ivf'};", "nprob"),
    ("{chunk: 'd'};", "sizee"),
    ("{funnel: 'e', steps: ['a', 'b']};", "whithin"),
    ("{cohort: 'e'};", "buckets"),
    ("{sample: 'd', rate: 0.5};", "slat"),
    ("{vindex: 'v', path: '/i'};", "nlsit"),
    ("{layout: 'd', path: '/l', by: 'a'};", "file"),
    ("{topcount: '/r', on: 'u', keys: [1]};", "key"),
    ("{quantiles: '/r', on: 'u', qs: [0.5]};", "q"),
    ("{rollup: 'e', path: '/r'};", "evry"),
    ("{rollup: '/r', read: true};", "avgs"),
    ("{shards: 'd', path: '/s'};", "shards_n"),
    ("{split: 'd'};", "weight"),
    ("{budget: 'd', tokens: 10};", "tokns"),
    ("{retrieve: 'd', terms: ['a']};", "topk"),
]


@pytest.mark.parametrize("gql,typo", _FORMS,
                         ids=[f"{g[1:g.index(':')]}-{t}" for g, t in _FORMS])
def test_misspelled_key_is_an_error(gql, typo):
    """Every statement form parses as given, and the same statement with
    one misspelled key raises instead of running at the default."""
    parse_one(gql)
    bad = gql[:gql.rindex("}")] + f", {typo}: 1}};"
    with pytest.raises(GQLParseError, match=f"unknown key.*{typo}"):
        parse_one(bad)


_FLAGS = [
    "{vindex: 'v', path: '/i', pq: %s};",
    "{vindex: 'v', path: '/i', attach: %s};",
    "{vindex: 'v', path: '/i', compact: %s};",
    "{layout: 'd', path: '/l', attach: %s};",
    "{layout: 'd', path: '/l', compact: %s};",
    "{rollup: 'e', path: '/r', append: %s};",
    "{rollup: '/r', read: %s};",
    "{query: 'v', where: {e: {limit: 1, exact: %s, $near: [1.0]}}};",
]


@pytest.mark.parametrize("gql", _FLAGS)
def test_flags_are_true_or_false(gql):
    """A flag is ``true``/``false`` in any case, as conf booleans are;
    anything else raises, naming the key."""
    key = gql.split(": %s")[0].rsplit(" ", 1)[1]
    for ok in ("true", "True", "'TRUE'"):
        parse_one(gql % ok)
    for bad in ("maybe", "yes", "1", "'no'"):
        with pytest.raises(GQLParseError, match=f"{key} must be true or "):
            parse_one(gql % bad)
    s = parse_one(gql % "true")
    got = (s.where.value["exact"] if key == "exact"
           else type(s).__name__ == "ReadRollupStmt" if key == "read"
           else getattr(s, key))
    assert got is True
    if "vindex" in gql:
        assert getattr(parse_one(gql % "FALSE"), key) is False


def test_keys_are_checked_in_place():
    """Values are checked where they are read: the mutations carry their
    ``in:`` graph, $near takes only limit/exact beside it, and a key's
    malformed value names the key."""
    assert parse_one("{upset: 'x', in: 'g2', vertex: [[1]]};").graph == "g2"
    assert parse_one("{remove: 'x', in: 'g2', vertex: {id: 1}};").graph \
        == "g2"
    assert parse_one("{upset: 'x', vertex: [[1]]};").graph is None
    with pytest.raises(GQLParseError, match="unknown key.*wher"):
        parse_one("{upset: 'x', property: {a: 9}, wher: {id: 2}};")
    with pytest.raises(GQLParseError, match=r"\$limt beside \$near"):
        parse_one("{query: 'v', where: {e: {limt: 3, $near: [1.0]}}};")
    with pytest.raises(GQLParseError, match="chunk: size must be a pos"):
        parse_one("{chunk: 'd', size: 'big'};")
    with pytest.raises(GQLParseError, match="budget: tokens: .* required"):
        parse_one("{budget: 'd'};")
    with pytest.raises(GQLParseError, match="per do not apply to rate:"):
        parse_one("{sample: 'd', rate: 0.5, per: 2};")


def test_every_statement_has_one_handler():
    """Each ``*Stmt`` dataclass of gql/ast.py is a key of the executor's
    statement table, and the table holds nothing else — a new statement
    fails here, not in a user's script with ``unsupported statement``."""
    from gqlite_spark import executor
    from gqlite_spark.gql import ast as gast
    stmts = {c for name, c in vars(gast).items()
             if name.endswith("Stmt") and isinstance(c, type)}
    assert set(executor._HANDLERS) == stmts
    assert all(callable(h) for h in executor._HANDLERS.values())
