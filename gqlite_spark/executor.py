"""Statement executor: AST → catalog mutations / DataFrame results.

Statement dispatch mirrors the reference's plan mapping
(GVirtualEngine::makePlans, src/VirtualEngine.cpp:172-238):
UpsetStmt→upsert, CreateStmt/DropStmt/DumpStmt→utility, QueryStmt→scan plan,
RemoveStmt→delete(+cascade) — but with a clean parse→plan→execute split
instead of the reference's execute-inside-parser coupling (gql.y:152-156),
and DataFrames instead of a row callback.

Every statement runs through one runner: ``_dispatch`` looks its handler
up in ``_HANDLERS``.  The pipeline statements' handlers run behind one
group-frame step (``GQLite._on_frame``), which resolves the groups the
statement names, answers the empty result for a group with no rows, and
checks every property the statement reads.  Frame results come from
``_frame_result``.
"""

from __future__ import annotations

import base64
import contextlib
import dataclasses
import functools
import io
import logging
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import beautify, conf
from .catalog import (K_BINARY, K_DATETIME, K_VECTOR, Catalog, Graph, Group)
from .errors import (GQLiteError, GQLParseError, GraphNotExistError,
                     GroupNotExistError)
from .gql import parser as gql_parser
from .gql.ast import (AstStmt, BudgetStmt, CallExpr, ChunkStmt, CohortStmt,
                      CreateStmt, CurateStmt, DedupStmt, DropStmt, DumpStmt,
                      FunnelStmt, ImportStmt, InferStmt, LayoutStmt,
                      MemberRef, Pred, ProfileStmt, QuantilesStmt, QueryStmt,
                      ReadRollupStmt, RemoveEdgeStmt, RemoveVertexStmt,
                      RetrieveStmt, RollupStmt, SampleStmt, ShardsStmt,
                      ShowGraphStmt, SimilarStmt, SplitStmt, TopcountStmt,
                      UpsetEdgeStmt, UpsetPropertyStmt, UpsetVertexStmt,
                      UseGraphStmt, VIndexStmt, WalkPattern)
from .planner import (PredicateCompiler, apply_knn, order_for_group,
                      pattern_filter)


class StatementResult:
    """Result of one statement.  ``rows`` (beautified golden-format lines)
    is computed LAZILY on first access — queries returning large DataFrames
    never collect to the driver unless the caller asks for formatted rows
    (the reference pushes rows through a callback eagerly; at Spark scale
    the DataFrame stays distributed)."""

    def __init__(self, status: str, rows: Optional[list[str]] = None,
                 df: Optional[DataFrame] = None, error: Optional[str] = None,
                 value: Any = None, rows_fn=None):
        self.status = status
        self._rows = rows
        self._rows_fn = rows_fn
        self.df = df
        self.error = error
        self.value = value

    @property
    def rows(self) -> list[str]:
        if self._rows is None and self._rows_fn is not None:
            self._rows = self._rows_fn()
        return self._rows if self._rows is not None else []


def _empty() -> StatementResult:
    """The result of a query with no rows (over a group that holds
    none, or with no path)."""
    return StatementResult(status="QUERY SUCCESS", rows=[], df=None)


def _group_result(out: DataFrame, grp: Group,
                  ordered: bool = False) -> StatementResult:
    """A query result over ``grp``'s rows ``out``: golden-format rows
    (beautify.py), collected on first access — in key order when
    ``ordered``.  The sort (a full exchange at scale) runs only then;
    frame consumers (query_df) get the unsorted, shuffle-free plan."""
    return StatementResult(
        status="QUERY SUCCESS", df=out,
        rows_fn=lambda: _beautify(
            out.orderBy(*order_for_group(grp.meta)) if ordered else out, grp))


def _beautify(df: DataFrame, grp: Group) -> list[str]:
    """The golden-format rows of ``grp``'s frame ``df``."""
    m = grp.meta
    keys = ("src", "dst", "direction") if m.is_edge else ("id",)
    out = []
    for r in df.collect():
        d = r.asDict()
        props = {k: v for k, v in d.items()
                 if k not in keys and v is not None}
        out.append(beautify.edge_row(d["src"], d["direction"], d["dst"],
                                     props, m) if m.is_edge
                   else beautify.vertex_row(d["id"], props, m))
    return out


def _frame_result(out: DataFrame, ordered: bool = False) -> StatementResult:
    """A query result served as the frame ``out``: its rows are the
    frame's rows as lists, collected on first access — sorted on every
    column when ``ordered`` (the sort runs only then, never in ``df``)."""
    return StatementResult(
        status="QUERY SUCCESS", df=out,
        rows_fn=lambda: [list(r) for r in (
            out.orderBy(*out.columns) if ordered else out).collect()])


def _row_result(row: list, value: Any) -> StatementResult:
    """A query result of one row computed on the driver; ``value`` is its
    headline number."""
    return StatementResult(status="QUERY SUCCESS", rows=[row], value=value)


# ---------------------------------------------------------- group frames
# The parser's key shapes whose values name properties: one name, a list
# of names, or a map keyed by name (gql/parser.py::_SHAPES).
_PROP_SHAPES = ("name", "names", "metrics", "hist", "cms")

# (statement, field) -> the property the statement reads through the
# field where that is not the field's value; None: this form reads none
_READS = {
    (DedupStmt, "on"): lambda s: s.on or {"embedding": "embedding",
                                          "url": "url"}.get(s.method, "text"),
    (SimilarStmt, "qon"): lambda s: s.qon or s.on,
    (SampleStmt, "on"): lambda s: s.on if s.clusters is not None else None,
    (SplitStmt, "by"): lambda s: s.by or "id",
    (RollupStmt, "ts"): lambda s: None if s.append else s.ts,
}

# (statement, field) -> the kind of property the field must name:
# "vector" (an array of numbers) or "text" (a string)
_KINDS = {
    (SimilarStmt, "on"): "vector", (SimilarStmt, "qon"): "vector",
    (VIndexStmt, "on"): "vector", (SampleStmt, "on"): "vector",
    (RetrieveStmt, "von"): "vector", (RetrieveStmt, "on"): "text",
    (ChunkStmt, "on"): "text", (CurateStmt, "on"): "text",
    (DedupStmt, "on"): lambda s: ("vector" if s.method == "embedding"
                                  else "text"),
}

# field -> the group fields whose groups hold its property (default: the
# statement's own group); a (statement, field) entry wins
_IN = {"qon": ("queries",), "von": ("vectors",),
       (CurateStmt, "on"): ("group", "benchmark")}

# (statement, field) -> the text property a derived metric the group
# lacks (quality / n_tokens, operators/text.py::quality_exprs) is
# computed from; None: the field takes no derived metric in this form
_DERIVED = ("quality", "n_tokens")
_DERIVED_FROM = {
    (BudgetStmt, "by"): "text", (BudgetStmt, "on"): "text",
    (CurateStmt, "best_by"): lambda s: s.on if s.method == "exact" else None,
}

# (statement, group field) -> why that group must hold rows (an empty one
# is an error, not the empty result)
_NEEDS_ROWS = {(CurateStmt, "benchmark"):
               "decontamination needs the benchmark corpus"}


@functools.lru_cache(maxsize=None)
def _frame_fields(cls: type) -> tuple[tuple, tuple]:
    """(group fields, property fields) of pipeline statement ``cls``, read
    from the parser's key shapes; its own group first."""
    shapes = gql_parser.field_shapes(cls)
    return (("group",) + tuple(f for f, s in shapes.items() if s == "group"),
            tuple(f for f, s in shapes.items() if s in _PROP_SHAPES))


def _of(stmt: Any, v: Any) -> Any:
    """A table value: a constant, or a function of the statement."""
    return v(stmt) if callable(v) else v


def _verb(cls: type) -> str:
    """The statement's head key, which prefixes its errors."""
    return cls.__name__[:-len("Stmt")].lower()


def _names(v: Any) -> list:
    """The property names a field value holds."""
    if v is None:
        return []
    return [v] if isinstance(v, str) else list(v)


def _check_prop(stmt: Any, field: str, group: str, dtypes: dict) -> None:
    """``field`` of ``stmt`` must name properties of ``group`` (whose
    column types are ``dtypes``), each of the field's kind."""
    cls = type(stmt)
    kind = _of(stmt, _KINDS.get((cls, field)))
    derived_from = _of(stmt, _DERIVED_FROM.get((cls, field)))
    for prop in _names(getattr(stmt, field)):
        dtype = dtypes.get(prop)
        if dtype is None:
            if prop in _DERIVED and derived_from in dtypes:
                continue
            raise GQLiteError(f"group '{group}' has no property '{prop}'")
        if kind == "vector" and not (
                isinstance(dtype, T.ArrayType)
                and isinstance(dtype.elementType,
                               (T.DoubleType, T.FloatType, T.IntegerType,
                                T.LongType, T.ShortType))):
            raise GQLiteError(f"{_verb(cls)}: property '{prop}' is "
                              f"{dtype.simpleString()}, not a numeric vector")
        if kind == "text" and not isinstance(dtype, T.StringType):
            raise GQLiteError(f"{_verb(cls)}: property '{prop}' is "
                              f"{dtype.simpleString()}, not a string")


class GQLite:
    """Public engine API.

    >>> db = GQLite(spark)
    >>> db.exec("{create: 'g', group: ['person']};")
    >>> db.exec("{upset: 'person', vertex: [[1, {name: 'ann'}]]};")
    >>> db.exec("{query: 'person', in: 'g'};")[0].rows
    """

    def __init__(self, spark: SparkSession, root: Optional[str] = None):
        self.spark = spark
        self.catalog = Catalog(spark, root)
        self.current_graph: Optional[str] = None

    # ------------------------------------------------------------------ API
    def exec(self, gql: str) -> list[StatementResult]:
        try:
            stmts = gql_parser.parse(gql)
        except GQLParseError as e:
            return [StatementResult(status="ERROR", error=str(e))]
        out = []
        for stmt in stmts:
            try:
                out.append(self._dispatch(stmt))
            except GQLiteError as e:
                out.append(StatementResult(status="ERROR", error=str(e)))
        return out

    def query_df(self, gql: str) -> DataFrame:
        """Run a single query statement, return the result DataFrame."""
        res = self.exec(gql)
        if len(res) != 1 or res[0].error:
            raise GQLiteError(res[0].error if res else "no statement")
        if res[0].df is None:
            raise GQLiteError("statement produced no DataFrame")
        return res[0].df

    # ------------------------------------------------------------ dispatch
    def _dispatch(self, stmt: Any) -> StatementResult:
        """Run one statement through its handler in ``_HANDLERS``."""
        handler = _HANDLERS.get(type(stmt))
        if handler is None:
            raise GQLiteError(f"unsupported statement {type(stmt).__name__}")
        return handler(self, stmt)

    def _on_frame(self, stmt: Any, handler) -> StatementResult:
        """The group-frame step of a pipeline statement: resolve ``in:``
        and each group the statement names (its own group first), answer
        the empty result when one holds no rows, and check every property
        the statement reads — present, and of its field's kind — from the
        frames' schemas alone (no Spark job).  Then run
        ``handler(self, stmt, group, df, *other groups' frames)``, with
        each property the statement reads by default written into
        ``stmt``."""
        cls = type(stmt)
        reads = {f: fn(stmt) for (c, f), fn in _READS.items() if c is cls}
        if reads:
            stmt = dataclasses.replace(stmt, **reads)
        group_fields, prop_fields = _frame_fields(cls)
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        frames = []
        for gf in group_fields:
            name = getattr(stmt, gf)
            if name is None:
                continue
            df = (grp if gf == "group" else graph.group(name)).to_df()
            if df is None:
                if (cls, gf) in _NEEDS_ROWS:
                    raise GQLiteError(
                        f"{_verb(cls)}: {gf} group '{name}' "
                        f"is empty — {_NEEDS_ROWS[cls, gf]}")
                return _empty()
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            for pf in prop_fields:
                if gf in (_IN.get((cls, pf)) or _IN.get(pf, ("group",))):
                    _check_prop(stmt, pf, name, dtypes)
            frames.append(df)
        return handler(self, stmt, grp, *frames)

    # ---------------------------------------------------- utility statements
    def _drop(self, stmt: DropStmt) -> StatementResult:
        self.catalog.drop_graph(stmt.graph)
        if self.current_graph == stmt.graph:
            self.current_graph = None
        return StatementResult(status="DROP SUCCESS")

    def _dump(self, stmt: DumpStmt) -> StatementResult:
        script = self.dump(stmt.graph)
        return StatementResult(status="EXECUTE COMMAND SUCCESS",
                               rows=script.splitlines(), value=script)

    def _show(self, stmt: ShowGraphStmt) -> StatementResult:
        value = (self.catalog.graph(stmt.graph).schema_json() if stmt.graph
                 else self.catalog.list_graphs())
        return StatementResult(status="EXECUTE COMMAND SUCCESS", value=value)

    def _use(self, stmt: UseGraphStmt) -> StatementResult:
        self.catalog.graph(stmt.graph)   # raises graph-not-exist parity
        self.current_graph = stmt.graph
        return StatementResult(status="EXECUTE COMMAND SUCCESS")

    def _ast(self, stmt: AstStmt) -> StatementResult:
        return StatementResult(status="EXECUTE COMMAND SUCCESS",
                               value=stmt.inner)

    def _profile(self, stmt: ProfileStmt) -> StatementResult:
        res = self._dispatch(stmt.inner)
        if res.df is not None:
            # public explain() path (prints to stdout) — survives
            # PySpark upgrades, unlike the _jdf/_sc private API
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                res.df.explain(mode="formatted")
            res.value = buf.getvalue()
        return res

    # ------------------------------------------------------- rollup reads
    def _topcount(self, stmt: TopcountStmt) -> StatementResult:
        """``{topcount: '/data/ru', on: 'user', keys: [7, 8]};`` — read
        per-(bucket, dims) count-min estimates of the literal keys from
        the stored rollup's ``cms`` counter maps
        (operators/rollup.py::rollup_keycounts).  Served from the
        bucket table alone — the probe is (buckets × dims × keys × d)
        rows, never event-sized; estimates never undercount.  The GQL
        read surface of the third sketch, symmetric with the kmv/hist
        metrics riding the same rollup lifecycle.  Result rows:
        (bucket_start, dims..., key, count_est)."""
        from .operators.rollup import rollup_keycounts
        try:
            out = rollup_keycounts(self.spark, stmt.path, stmt.on,
                                   stmt.keys)
        except Exception as e:   # no cms metric, missing rollup / sidecar
            raise GQLiteError(f"topcount: {e}") from e
        return _frame_result(out, ordered=True)

    def _quantiles(self, stmt: QuantilesStmt) -> StatementResult:
        """``{quantiles: '/data/ru', on: 'latency', qs: [0.5, 0.99]};``
        — read per-(bucket, dims) quantile estimates of the stored
        rollup's ``hist`` bin maps (operators/rollup.py::
        rollup_quantiles, error ≤ one bin width).  Served from the
        bucket table alone — the probe reads buckets × dims rows, never
        the events.  The histogram sketch's GQL read surface, symmetric
        with ``{topcount:}``.  Result rows: (bucket_start, dims..., q,
        value; all-NULL groups appear with value NULL)."""
        from .operators.rollup import rollup_quantiles
        try:
            out = rollup_quantiles(self.spark, stmt.path, stmt.on,
                                   stmt.qs)
        except Exception as e:   # no hist metric, missing rollup / sidecar
            raise GQLiteError(f"quantiles: {e}") from e
        return _frame_result(out, ordered=True)

    def _read_rollup(self, stmt: ReadRollupStmt) -> StatementResult:
        """``{rollup: '/data/ru', read: true, avg: ['value']};`` — the
        stored rollup's finished view (operators/rollup.py::
        read_rollup): bucket rows with every maintained metric, ``kmv``
        metrics served as ``distinct_<col>`` estimates and ``avg:``
        deriving ``avg_<col>`` = sum/count.  Sketch columns themselves
        (kmv arrays, hist/cms maps) are internal state, projected away
        — the served report is plain columns.  Together with
        ``{topcount:}`` and ``{quantiles:}``, all three sketches are
        first-class from GQL (VERDICT r10 next #5)."""
        from . import fsio
        from .operators.rollup import SPEC_FILE, read_rollup
        try:
            out = read_rollup(self.spark, stmt.path,
                              avg_of=list(stmt.avg or []))
            spec = fsio.read_json(self.spark,
                                  fsio.join(stmt.path, SPEC_FILE))
        except Exception as e:   # avg_of without a sum metric, missing
            raise GQLiteError(f"rollup read: {e}") from e   # rollup
        # drop EXACTLY the internal sketch-state columns the spec's
        # metrics declare (ADVICE r11 #3) — a name-prefix filter would
        # silently project out a legitimate dim/metric column that
        # happens to be called e.g. 'hist_total'
        internal = {f"{fn}_{c}"
                    for c, fns in (spec.get("metrics") or {}).items()
                    for fn in fns if fn in ("kmv", "hist", "cms")}
        return _frame_result(
            out.select(*[c for c in out.columns if c not in internal]),
            ordered=True)

    # --------------------------------------------------- pipeline handlers
    # Each runs behind ``_on_frame``: ``grp`` is the statement's group,
    # ``df`` its non-empty frame with every named property checked.
    def _curate(self, stmt: CurateStmt, grp: Group, df: DataFrame,
                bench: DataFrame) -> StatementResult:
        """``{curate: 'docs', in: 'g', benchmark: 'bench',
        quality_min: 0.5, ngram: 8};`` — the one-plan curation
        pipeline from GQL (operators/sampling.py::curate_corpus):
        dedup purge → quality gate → ``ngram``-gram benchmark
        decontamination → per-language report, three shuffles total.
        ``method: 'exact'`` purges exact duplicates (min-id canonical,
        or argmax ``best_by:``, which may name a derived metric
        n_tokens/quality); ``method: 'clusters'`` purges NEAR-dup
        clusters to their keep-best survivor (``best_by:`` property,
        default text length) — the full quality-survivor chain the
        library API grew in r11/r12, now first-class from the engine.
        Result rows: (predicted_lang, n_docs, sum_tokens,
        sum_quality_e4).  Beyond-reference surface."""
        from .operators.sampling import curate_corpus
        kwargs = {}
        if stmt.method == "clusters":
            from .operators.dedup import (keep_best_per_cluster,
                                          near_dup_clusters)
            clusters = near_dup_clusters(df, id_col="id",
                                         text_col=stmt.on,
                                         threshold=stmt.threshold)
            # default: keep the longest copy
            score = (F.col(stmt.best_by) if stmt.best_by is not None
                     else F.length(F.col(stmt.on)).cast("long"))
            kwargs["survivors"] = keep_best_per_cluster(
                clusters, df.select("id", score.alias("score")),
                id_col="id")
        elif stmt.best_by is not None:
            kwargs["best_by"] = stmt.best_by
        return _frame_result(
            curate_corpus(df, bench, quality_min=stmt.quality_min,
                          ngram=stmt.ngram, id_col="id", text_col=stmt.on,
                          **kwargs), ordered=True)

    def _dedup(self, stmt: DedupStmt, grp: Group,
               df: DataFrame) -> StatementResult:
        """``{dedup: 'docs', in: 'g', method: 'minhash', on: 'text',
        threshold: 0.8};`` — the training-data dedup family as engine
        statements, lowering straight onto operators/dedup.py (same
        bucketed 100 TB plans as the library API; the group's key column
        plays doc_id).  Beyond-reference surface: the reference has no
        dedup statement."""
        from .operators import dedup as D
        from .operators.text import url_dedup
        on, t = stmt.on, {"threshold": stmt.threshold}
        run = {
            "exact": lambda: D.exact_duplicates(df, "id", on),
            "url": lambda: url_dedup(df, "id", on),
            "minhash": lambda: D.minhash_lsh_pairs(df, "id", on, **t),
            "jaccard": lambda: D.ngram_jaccard_pairs(df, "id", on, **t),
            "simhash": lambda: D.simhash_near_pairs(df, "id", on),
            "lines": lambda: D.line_dedup(df, "id", on),
            "clusters": lambda: D.near_dup_clusters(df, "id", on, **t),
            "embedding": lambda: D.embedding_near_dups(df, "id", on, **t),
        }.get(stmt.method)
        if run is None:
            raise GQLiteError(
                f"dedup: unknown method '{stmt.method}' (want exact|url|"
                "minhash|jaccard|simhash|lines|clusters|embedding)")
        out = run()
        if stmt.best_by is not None:
            # quality survivor selection (method 'clusters'): keep each
            # cluster's MAX best_by member (tie -> min id), not min-id
            out = D.keep_best_per_cluster(
                out, df.select("id", F.col(stmt.best_by).alias("score")),
                id_col="id")
        return _frame_result(out)

    def _similar(self, stmt: SimilarStmt, grp: Group, df: DataFrame,
                 qdf: Optional[DataFrame] = None) -> StatementResult:
        """``{similar: 'vecs', in: 'g', to: [0.1, ...], top: 5,
        method: 'lsh'};`` — top-k vector search as an engine statement
        over a group's array property, lowering onto
        operators/similarity.py (brute = exact cosine scan+
        TakeOrderedAndProject; lsh/ivf/pq = the bucketed ANN paths).
        Engine analogue of the reference's HNSW-backed $near."""
        from .operators import similarity as S
        q, k, m, prop = stmt.to, stmt.top, stmt.method, stmt.on
        if qdf is not None:
            # JOIN form: every vector in the `queries` group searches
            # this group.  brute = broadcast the query side (right only
            # when it is small); ivf = the distributed list-bucketed
            # join, optionally serving the corpus from a persisted
            # materialized index — neither side broadcast, the 100 TB
            # shape for cross-dataset semantic search/dedup.
            queries = qdf.select(F.col("id").alias("q_id"),
                                 F.col(stmt.qon).alias("q_vec"))
            if m == "brute":
                out = S.knn_join(df, queries, k=k, id_col="id",
                                 vec_col=prop)
            elif stmt.index is not None:
                try:
                    out = S.ivf_knn_join_indexed(
                        grp.spark, stmt.index, queries, k=k,
                        nprobe=stmt.nprobe)
                except (FileNotFoundError, ValueError) as e:
                    raise GQLiteError(
                        f"similar: cannot join through index at "
                        f"'{stmt.index}' ({e})") from e
            else:
                out = S.ivf_knn_join(df, queries, k=k, nlist=stmt.nlist,
                                     nprobe=stmt.nprobe, id_col="id",
                                     vec_col=prop)
            return _frame_result(out)
        if stmt.index is not None:
            # persisted-index search: load the on-disk index (lsh/ivf/pq
            # as written by save_{ann,ivf,pq}_index) instead of the
            # in-memory quantizer cache — the cross-session, build-once/
            # search-many form (reference HNSW.cpp:358-374 lazy reload)
            return _frame_result(
                self._similar_indexed(grp, df, prop, q, k, m, stmt.index))
        # quantizer state (IVF centroids / PQ codebooks) is cached on the
        # Group and invalidated by any mutation, so repeated {similar:}
        # statements skip the model-building scans (the engine analogue
        # of a persisted index; save_ivf_index/save_pq_index is the
        # cross-session form)
        cache_key = (m, prop)
        if m == "brute":
            out = S.cosine_topk(df, q, k, id_col="id", vec_col=prop)
        elif m == "lsh":
            out = S.ann_topk(df, q, dim=len(q), k=k, id_col="id",
                             vec_col=prop)
        elif m == "ivf":
            cents = grp._ann_cache.get(cache_key)
            if cents is None:
                cents = S.ivf_centroids(df, nlist=16, id_col="id",
                                        vec_col=prop)
                grp._ann_cache[cache_key] = cents
            out = S.ivf_topk(df, q, cents, k=k, id_col="id", vec_col=prop)
        elif m == "pq":
            dim = len(q)
            books = grp._ann_cache.get(cache_key)
            if books is None:
                msub = next(m_ for m_ in (4, 2, 1) if dim % m_ == 0)
                books = S.pq_codebooks(df, m=msub, ksub=16, id_col="id",
                                       vec_col=prop)
                grp._ann_cache[cache_key] = books
            out = S.pq_topk(df, q, books, k=k, id_col="id", vec_col=prop)
        else:
            raise GQLiteError(
                f"similar: unknown method '{m}' (want brute|lsh|ivf|pq)")
        return _frame_result(out)

    def _similar_indexed(self, grp, df: DataFrame, prop: str,
                         q: list, k: int, m: str, path: str) -> DataFrame:
        """{similar index: 'dir'} search paths — load the persisted
        ``m`` index once per statement and run
        ``similarity.topk_indexed`` (bucket or partition pruned; no
        quantizer recomputation over the corpus)."""
        from .operators import similarity as S
        if m not in ("lsh", "ivf", "pq", "ivfpq"):
            raise GQLiteError(
                f"similar: method '{m}' has no persisted-index form "
                "(want lsh|ivf|pq|ivfpq)")
        try:
            index, params = S.load_index(grp.spark, path, m)
        except FileNotFoundError as e:
            raise GQLiteError(f"similar: no persisted index at "
                              f"'{path}' ({e})") from e
        # topk_indexed addresses the corpus by the index's recorded
        # id/vec column names
        corpus = (df.select(F.col("id"), F.col(prop))
                  .withColumnRenamed("id", params["id_col"])
                  .withColumnRenamed(prop, params["vec_col"]))
        return S.topk_indexed(corpus, q, index, params, k=k)

    def _chunk(self, stmt: ChunkStmt, grp: Group,
               df: DataFrame) -> StatementResult:
        """``{chunk: 'docs', in: 'g', size: 64, overlap: 8};`` — document
        chunking as an engine statement (operators/text.py
        chunk_documents: pure map stage, zero shuffle)."""
        from .operators.text import chunk_documents
        return _frame_result(chunk_documents(
            df, id_col="id", text_col=stmt.on, chunk_tokens=stmt.size,
            overlap=stmt.overlap))

    def _funnel(self, stmt: FunnelStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{funnel: 'events', in: 'g', steps: ['view', 'click'],
        by: 'user', on: 'etype', ts: 'ts', within: 5000000};`` —
        conversion funnel as an engine statement, lowering onto
        operators/temporal.py funnel (k filtered keyed aggregates; the
        ts property follows the library's dual-encoding contract:
        timestamp-typed or long nanoseconds)."""
        from .operators.temporal import funnel
        return _frame_result(funnel(
            df, [str(s) for s in stmt.steps], user_col=stmt.by,
            type_col=stmt.on, ts_col=stmt.ts, within_micros=stmt.within))

    def _cohort(self, stmt: CohortStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{cohort: 'events', in: 'g', by: 'user', ts: 'ts',
        bucket: 86400};`` — cohort retention as an engine statement
        (operators/temporal.py cohort_retention: two keyed aggregates
        over (user, bucket) distinct state)."""
        from .operators.temporal import cohort_retention
        return _frame_result(cohort_retention(
            df, user_col=stmt.by, ts_col=stmt.ts,
            bucket_seconds=stmt.bucket))

    def _sample(self, stmt: SampleStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{sample: 'docs', in: 'g', rate: 0.25};`` (hash sample) or
        ``{sample: 'docs', in: 'g', by: 'lang', rates: {en: 0.1},
        default: 0.5};`` (stratified) — deterministic md5-keyed sampling
        as an engine statement (operators/sampling.py: membership is a
        scan-only predicate on the group's key, zero shuffle, stable
        across engines and re-runs)."""
        from .operators.sampling import (cluster_sample, hash_sample,
                                         stratified_sample)
        if stmt.clusters is not None:
            # embedding-cluster-balanced: the quantizer is cached on the
            # Group (same discipline as {similar}'s IVF centroids —
            # invalidated by any mutation)
            from .operators.similarity import ivf_centroids
            cache_key = ("cluster", stmt.on, stmt.clusters)
            cents = grp._ann_cache.get(cache_key)
            if cents is None:
                cents = ivf_centroids(df, nlist=stmt.clusters, id_col="id",
                                      vec_col=stmt.on)
                grp._ann_cache[cache_key] = cents
            out = cluster_sample(df, cents, per_cluster=stmt.per,
                                 id_col="id", vec_col=stmt.on, metric="l2")
        elif stmt.rate is not None:
            out = hash_sample(df, id_col="id", rate=stmt.rate,
                              salt=stmt.salt)
        else:
            out = stratified_sample(df, stmt.by, stmt.rates, id_col="id",
                                    default_rate=stmt.default,
                                    salt=stmt.salt)
        return _frame_result(out)

    def _split(self, stmt: SplitStmt, grp: Group,
               df: DataFrame) -> StatementResult:
        """``{split: 'docs', in: 'g', by: 'source', weights:
        {train: 0.8, val: 0.1, test: 0.1}, salt: 'v1'};`` —
        deterministic leakage-safe split assignment as an engine
        statement (operators/sampling.split_assign).  ``by:`` is the
        co-travel key: every row sharing its value lands in the same
        split (default: the group key — fine-grained, NOT
        leakage-safe against correlated rows; the statement exists so
        the safe form is one property name away).  Pure map, zero
        shuffle, engine/re-run stable."""
        from .operators.sampling import split_assign
        splits = (tuple(stmt.weights.items()) if stmt.weights
                  else (("train", 0.8), ("val", 0.1), ("test", 0.1)))
        return _frame_result(split_assign(df, splits=splits,
                                          key_col=stmt.by, salt=stmt.salt))

    def _budget(self, stmt: BudgetStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{budget: 'docs', in: 'g', tokens: 100000};`` — the best
        rows (by ``by:``, default quality) whose ``on:`` (default
        n_tokens) sum fits the token budget
        (operators/sampling.select_token_budget — the bounded
        histogram-threshold plan, never a corpus-wide ordered window).
        When ``by:``/``on:`` name the derived ``quality``/``n_tokens``
        metrics and the group lacks those properties but has ``text``,
        they are computed in-scan (text.quality_exprs — the same
        Columns the {curate:} statement uses), so the statement works
        directly on a raw document group."""
        from .operators.sampling import select_token_budget
        from .operators.text import quality_exprs
        missing = [c for c in (stmt.by, stmt.on) if c not in df.columns]
        if missing:
            e = quality_exprs(F.coalesce(F.col("text"), F.lit("")))
            for c in missing:
                df = df.withColumn(c, e[c])
        return _frame_result(select_token_budget(
            df, stmt.tokens, order_col=stmt.by, token_col=stmt.on,
            id_col="id"))

    def _retrieve(self, stmt: RetrieveStmt, grp: Group, df: DataFrame,
                  vdf: Optional[DataFrame] = None) -> StatementResult:
        """``{retrieve: 'docs', in: 'g', terms: ['spark', 'dup'],
        top: 20};`` — BM25 top-k lexical retrieval as an engine
        statement (operators/text.bm25_topk): the sparse complement of
        ``{similar:}``'s dense vector search, same statement shape
        (group + ranking params in, ranked rows out).  Result rows:
        (rank, id, n_terms, score_e6)."""
        if vdf is not None:
            # hybrid: dense cosine leg over the vectors group, fused
            # with the BM25 leg by reciprocal rank (similarity.
            # hybrid_topk); the two groups align on their keys
            from .operators.similarity import hybrid_topk
            out = hybrid_topk(df, vdf, stmt.near, stmt.terms,
                              k=stmt.top, k_each=max(stmt.top, 20),
                              c=stmt.fuse, doc_id_col="id",
                              text_col=stmt.on, vec_id_col="id",
                              vec_col=stmt.von, k1=stmt.k1, b=stmt.b)
        else:
            from .operators.text import bm25_topk
            out = bm25_topk(df, stmt.terms, k=stmt.top, k1=stmt.k1,
                            b=stmt.b, id_col="id", text_col=stmt.on)
        return _frame_result(out)

    def _vindex(self, stmt: VIndexStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{vindex: 'vecs', in: 'g', on: 'embedding',
        path: '/idx/vecs', nlist: 64};`` — build + attach a
        MATERIALIZED l2 IVF vector index for the group's array
        property (catalog.Group.build_ivf_index): one scan + one
        partitioned write, then routed ``$near``+limit queries above
        ``spark.gqlite.knn.ann_threshold`` read only the probed
        nprobe/nlist slice of the vectors.  GQL surface of the
        reference's persisted HNSW lifecycle (HNSW.cpp:282-328 /
        358-374).  ``pq: true`` builds the IVFPQ (codes-only) form
        instead — Group.build_ivfpq_index, served by the ADC route.
        Result row: (nlist, n_vectors), nlist the fitted one (at most
        n_vectors; rows without a vector are skipped)."""
        if stmt.attach:
            # attach-only: re-wire an EXISTING persisted index (fresh
            # session — no rebuild; kind discovered from the sidecar,
            # symmetric with {layout attach:}).  An index built on a
            # different-dim corpus would silently serve wrong $near
            # neighbors, so attach checks the column's dimension.
            row = (df.filter(F.col(stmt.on).isNotNull())
                   .select(F.size(stmt.on).alias("_d")).head(1))
            rec = grp.attach_index(stmt.on, stmt.path,
                                   dim=row[0]["_d"] if row else None)
            nlist = int(rec.params.get("nlist") or 0)
            return _row_result(["attach_" + rec.kind, nlist], nlist)
        if stmt.compact:
            # fold the OLTP overlay into the existing index in place —
            # rewrites only the affected list partitions.  Re-attaches
            # first if needed (e.g. after an engine restart): ``pq:
            # true`` names the IVFPQ index, otherwise the kind comes
            # from the sidecar.
            rec = grp._vindex.get(stmt.on)
            if rec is None:
                grp.attach_index(stmt.on, stmt.path,
                                 "ivfpq" if stmt.pq else None)
            elif rec.path != stmt.path:
                raise GQLiteError(
                    f"vindex: index for '{stmt.on}' is attached at "
                    f"'{rec.path}', not '{stmt.path}'")
            rep = grp.compact_into_index(stmt.on)
            return _row_result(
                [rep["lists_rewritten"], rep["rows_added"]], rep["rows_added"])
        n_vecs = df.filter(F.col(stmt.on).isNotNull()).count()
        # pq: true builds the IVFPQ form: codes-only inverted lists
        # (~dim·4/m smaller) the routed $near serves via ADC + re-rank
        nlist = grp._build_index(stmt.on, stmt.path,
                                 "ivfpq" if stmt.pq else "ivf", stmt.nlist,
                                 n_vecs, stmt.refine, stmt.m, stmt.ksub)
        return _row_result([nlist, n_vecs], nlist)

    def _shards(self, stmt: ShardsStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{shards: 'docs', in: 'g', path: '/data/ep1', n: 64,
        salt: 'ep1'};`` — deterministic epoch-shard export
        (operators/sampling.py::write_training_shards: md5 shard
        assignment + within-shard sort, one file per shard, no global
        range exchange).  Result rows = (shard, n_rows, min_key,
        max_key) so the export is observable/auditable from GQL — the
        report aggregates the PRE-write lineage (map-side partials),
        never re-reading the written export (VERDICT r6 wrong #2)."""
        from .operators.sampling import write_training_shards
        return _frame_result(write_training_shards(
            df, stmt.path, n_shards=stmt.n, id_col="id", salt=stmt.salt))

    def _layout(self, stmt: LayoutStmt) -> StatementResult:
        """``{layout: 'docs', in: 'g', path: '/data/docs',
        by: ['a', 'b'], files: 64};`` — export the group sort-clustered
        (range layout for one property, z-order for several;
        sources/clustered.py), or with ``bucket_by:``/``buckets:``
        hash-bucketed for exchange-free joins (sources/bucketed.py).
        The GQL surface of the write-once scale layouts — pay one
        shuffle at export, every later scan/join is pruned/co-located.
        ``attach: true`` points the group's own query path at the copy
        (Group.attach_layout — scans skip files / point lookups prune
        buckets from then on); alone it attaches an EXISTING layout.
        Result row: (kind, path, n_rows).  The export runs behind the
        group-frame step; attach-only and compact read no frame."""
        if stmt.by is not None or stmt.bucket_by is not None:
            return self._on_frame(stmt, GQLite._layout_export)
        grp = self._graph(stmt.graph).group(stmt.group)
        if stmt.compact:
            # fold the local overlay into the attached layout copy —
            # new ids route into their hash bucket / sorted batch,
            # updates stay in the overlay (Group.compact_into_layout)
            if (grp._layout_attach is not None
                    and _norm_fs_path(grp._layout_attach["path"])
                    != _norm_fs_path(stmt.path)):
                raise GQLiteError(
                    f"layout compact: group '{stmt.group}' layout is "
                    f"attached at '{grp._layout_attach['path']}', not "
                    f"'{stmt.path}'")
            if grp._layout_attach is None:
                self._attach_layout(grp, stmt.path, "layout compact")
            rep = grp.compact_into_layout()
            return _row_result([rep["rows_folded"], rep["rows_kept"]],
                               rep["rows_folded"])
        # attach-only: no export — wire an existing layout copy in
        kind = self._attach_layout(grp, stmt.path, "layout attach")
        n = grp.row_count()
        return _row_result([f"attach_{kind}", stmt.path, n], n)

    @staticmethod
    def _attach_layout(grp: Group, path: str, verb: str) -> str:
        try:
            return grp.attach_layout(path)
        except GQLiteError:
            raise
        except Exception as e:
            raise GQLiteError(f"{verb}: {e}") from e

    def _layout_export(self, stmt: LayoutStmt, grp: Group,
                       df: DataFrame) -> StatementResult:
        if stmt.by is not None:
            from .sources.clustered import save_clustered
            try:
                save_clustered(df, stmt.path, list(stmt.by),
                               n_files=stmt.files)
            except ValueError as e:
                raise GQLiteError(f"layout: {e}") from e
            kind = "range" if len(stmt.by) == 1 else "zorder"
        else:
            from .sources.bucketed import save_bucketed
            save_bucketed(df, stmt.path, stmt.bucket_by, stmt.buckets)
            kind = "bucket"
        # count the WRITTEN table (footer-stats-cheap), not the source
        # view — counting `df` first would compute the whole group view
        # (overlay merges included) twice at scale.
        n = self.spark.read.parquet(stmt.path).count()
        if stmt.attach:
            kind = "attach_" + grp.attach_layout(stmt.path)
        return _row_result([kind, stmt.path, n], n)

    def _rollup(self, stmt: RollupStmt, grp: Group,
                df: DataFrame) -> StatementResult:
        """``{rollup: 'evts', in: 'g', path: '/data/ru', ts: 'ts',
        every: 3600, by: ['event_type'], metrics: {value: ['sum']}};``
        — build the incremental time-bucket rollup of the group
        (operators/rollup.py), or with ``append: true`` fold the
        group's rows in as ONE new ingest batch (stage each batch in
        its own group — the statement reads the group as-is).  The GQL
        surface of the continuous-aggregate lifecycle: the history is
        scanned once, every later batch touches only itself plus the
        bucket table.  Result row: (kind, path, n_buckets)."""
        from .operators.rollup import append_rollup, save_rollup
        if stmt.append:
            try:
                append_rollup(df, stmt.path)
            except Exception as e:  # missing sidecar, schema drift
                raise GQLiteError(f"rollup append: {e}") from e
            kind = "rollup_append"
        else:
            try:
                save_rollup(df, stmt.path, stmt.ts, stmt.every,
                            dims=stmt.by, metrics=stmt.metrics,
                            hist_params=stmt.hist,
                            cms_params=stmt.cms)
            except ValueError as e:
                raise GQLiteError(f"rollup: {e}") from e
            kind = "rollup"
        n = self.spark.read.parquet(stmt.path).count()
        return _row_result([kind, stmt.path, n], n)

    def _infer_hmm(self, stmt: InferStmt) -> StatementResult:
        """``{query: hidden, event: [...], where: [[hidden.v1, {->: w},
        e1], ...]}`` — the reference's declared inference surface
        (README.md:252-268, ZERO implementing LoC there): build an HMM
        from the weighted edges and Viterbi-decode the event sequence.

        Semantics we had to fix (the reference never ran this, so these
        are documented choices, not parity): ``gassian(mu, sigma)``
        contributes its mean as the edge weight; the initial hidden-state
        distribution is uniform; each state's outgoing transition (and
        emission) weights are normalized into probabilities.  Returns one
        row (path, logp_e4); decode runs through the same distributed
        operators.inference.hmm_viterbi as the bulk API."""
        symbols: dict[str, str] = {}
        obs: list[str] = []
        for d in stmt.events:
            if not isinstance(d, dict) or len(d) != 1:
                raise GQLiteError(f"infer: bad event entry {d!r}")
            (name, sym), = d.items()
            symbols[name] = str(sym)
            obs.append(str(sym))
        if not obs:
            raise GQLiteError("infer: event list is empty")

        def weight(w) -> float:
            if isinstance(w, CallExpr):
                if not w.args:
                    raise GQLiteError(
                        f"infer: weight call {w.func} needs arguments")
                return float(w.args[0])
            if isinstance(w, (int, float)) and not isinstance(w, bool):
                return float(w)
            raise GQLiteError(f"infer: bad edge weight {w!r}")

        trans_w: dict[tuple, float] = {}
        emit_w: dict[tuple, float] = {}
        states: set[str] = set()
        for triple in stmt.edges:
            if (not isinstance(triple, list) or len(triple) != 3
                    or not isinstance(triple[1], dict)
                    or "->" not in triple[1]):
                raise GQLiteError(f"infer: bad edge {triple!r} "
                                  "(want [src, {{->: weight}}, dst])")
            src, wdict, dst = triple
            if not isinstance(src, MemberRef) or src.group != stmt.hidden:
                raise GQLiteError(
                    f"infer: edge source must be {stmt.hidden}.<state>")
            w = weight(wdict["->"])
            states.add(src.prop)
            if isinstance(dst, MemberRef):
                if dst.group != stmt.hidden:
                    raise GQLiteError(
                        f"infer: transition target must be "
                        f"{stmt.hidden}.<state>")
                states.add(dst.prop)
                trans_w[(src.prop, dst.prop)] = w
            elif isinstance(dst, str) and dst in symbols:
                emit_w[(src.prop, symbols[dst])] = w
            else:
                raise GQLiteError(f"infer: unknown edge target {dst!r}")
        if not emit_w:
            raise GQLiteError("infer: no emission edges "
                              "(hidden.<state> -> event)")

        def normalize(pairs: dict[tuple, float]) -> dict[tuple, float]:
            tot: dict[str, float] = {}
            for (a, _), w in pairs.items():
                tot[a] = tot.get(a, 0.0) + w
            return {k: w / tot[k[0]] for k, w in pairs.items()}

        ordered = sorted(states)
        spec = {"states": ordered,
                "init": {s: 1.0 / len(ordered) for s in ordered},
                "trans": normalize(trans_w),
                "emit": normalize(emit_w)}
        from .operators.inference import hmm_viterbi
        df = self.spark.createDataFrame(
            [(0, i, i, o) for i, o in enumerate(obs)],
            "seq long, ts long, event_id long, event_type string")
        out = hmm_viterbi(df, spec, seq_col="seq",
                          max_len=len(obs)).select("path", "logp_e4")
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda: [r["path"] for r in out.collect()])

    def _import(self, stmt: ImportStmt) -> StatementResult:
        """``import '<path>';`` (reference surface gql.y:225-229, stub
        there) — ingest a graph file by extension: .dot (Graphviz corpus
        test/graphs/*.dot), .ngql (Nebula INSERT dumps), .gql (replayed
        GQL script).  CSV needs column mappings → sources.load_csv_*."""
        from .sources import loaders
        path = stmt.path
        try:
            if "://" in path:
                # shared-storage import (s3a://, hdfs://) goes through
                # the Hadoop FS API; plain paths keep Python semantics
                # (relative to the process cwd, not fs.defaultFS)
                from . import fsio
                text = fsio.read_text(self.spark, path)
            else:
                with open(path) as f:
                    text = f.read()
        except OSError as e:
            raise GQLiteError(f"import: {e}") from e
        if path.endswith(".dot"):
            self.current_graph = loaders.load_dot(self, text,
                                                  graph=self.current_graph)
        elif path.endswith(".graphml") or path.endswith(".xml"):
            self.current_graph = loaders.load_graphml(
                self, text, graph=self.current_graph)
        elif path.endswith(".ngql"):
            if not self.current_graph:
                raise GQLiteError("import: create/select a graph before "
                                  "importing nGQL")
            loaders.load_ngql_inserts(self, self.current_graph, text)
        elif path.endswith(".gql"):
            for res in self.exec(text):
                if res.error:
                    return res
        else:
            raise GQLiteError(f"import: unsupported file type {path!r}")
        return StatementResult(status="EXECUTE COMMAND SUCCESS")


    # ------------------------------------------------------------- helpers
    def _graph(self, name: Optional[str]) -> Graph:
        gname = name or self.current_graph
        if gname is None:
            raise GraphNotExistError("(none)")
        g = self.catalog.graph(gname)
        self.current_graph = gname
        return g

    def _mutable_graph(self, group: str,
                       graph: Optional[str]) -> tuple[Graph, Group]:
        """The graph a mutation writes to and its ``group``: the ``in:``
        graph when the statement names one, else the graph owning
        ``group`` — the current graph first (VirtualEngine session
        parity)."""
        if graph is not None:
            g = self._graph(graph)
            return g, g.group(group)
        if self.current_graph and self.catalog.has_graph(self.current_graph):
            g = self.catalog.graph(self.current_graph)
            if group in g.groups:
                return g, g.groups[group]
        for g in self.catalog.graphs.values():
            if group in g.groups:
                return g, g.groups[group]
        raise GroupNotExistError(group)

    # ------------------------------------------------------------ mutations
    def _create(self, stmt: CreateStmt) -> StatementResult:
        g = self.catalog.create_graph(stmt.graph)
        self.current_graph = stmt.graph
        for gd in stmt.groups:
            g.create_group(gd.name, is_edge=gd.is_edge,
                           declared_props=gd.props, indexes=gd.index,
                           src_group=gd.src_group, dst_group=gd.dst_group)
        return StatementResult(status="CREATE SUCCESS")

    def _upsert_vertex(self, stmt: UpsetVertexStmt) -> StatementResult:
        _, grp = self._mutable_graph(stmt.group, stmt.graph)
        if grp.meta.is_edge:
            raise GQLiteError(f"group {stmt.group} is an edge group")
        for key, props in stmt.vertices:
            grp.upsert_vertex(key, props)
        return StatementResult(status="UPSET SUCCESS")

    def _upsert_edge(self, stmt: UpsetEdgeStmt) -> StatementResult:
        _, grp = self._mutable_graph(stmt.group, stmt.graph)
        if not grp.meta.is_edge:
            raise GQLiteError(f"group {stmt.group} is not an edge group")
        for src, direction, dst, props in stmt.edges:
            grp.upsert_edge(src, direction, dst, props)
        return StatementResult(status="UPSET SUCCESS")

    def _upsert_property(self, stmt: UpsetPropertyStmt) -> StatementResult:
        """Conditional property merge: scan → merge → write
        (UpsetPlan.cpp:48-86 composes a scan plan as child operator).
        Bulk-registered groups are updated as a pure DataFrame transform
        (withColumn(when(cond, new))) — no driver-side key collect, so a
        100 TB group updates without materializing matched keys."""
        _, grp = self._mutable_graph(stmt.group, stmt.graph)
        grp.update_where(self._where_cond(grp, stmt.where), stmt.props)
        return StatementResult(status="UPSET SUCCESS")

    def _where_cond(self, grp: Group, where: Any):
        """Compile a where clause / walk pattern to a boolean Column over
        the group's schema (None = match all rows)."""
        if where is None:
            return None
        if isinstance(where, WalkPattern):
            return pattern_filter(where, grp.meta)
        return PredicateCompiler(grp.meta).compile(where)

    def _remove_vertex(self, stmt: RemoveVertexStmt) -> StatementResult:
        g, grp = self._mutable_graph(stmt.group, stmt.graph)
        cond = self._where_cond(grp, stmt.where)
        # capture the matched-key frame BEFORE mutation (immutable plan);
        # the cascade consumes it as an anti-join side, never a key list
        df = grp.to_df()
        removed = None
        if df is not None:
            removed = (df.filter(cond) if cond is not None else df).select("id")
        grp.delete_where(cond)
        # cascade: delete edges touching removed vertices in related edge
        # groups (RemovePlan.cpp:49-75 + getRelations) — local dict rows by
        # a bounded endpoint-intersection collect, bulk rows by anti-join
        for eg in g.edge_groups_touching(stmt.group):
            if removed is None:
                continue
            # sides referencing the removed group (heterogeneous edge groups
            # carry differently-typed endpoints — never compare across them)
            def _side_hits(side_group, side_key_type):
                if side_group is not None:
                    return side_group == stmt.group
                return side_key_type == grp.meta.key_type
            on_src = _side_hits(eg.meta.src_group, eg.meta.src_key_type)
            on_dst = _side_hits(eg.meta.dst_group, eg.meta.dst_key_type)
            if not (on_src or on_dst):
                continue
            if eg.rows:
                endpoints = list({k for ek in eg.rows
                                  for k, use in ((ek[0], on_src), (ek[2], on_dst))
                                  if use})
                hit = set()
                if endpoints:
                    hit = {r["id"] for r in
                           removed.filter(F.col("id").isin(endpoints)).collect()}
                dead = [ek for ek in eg.rows
                        if (on_src and ek[0] in hit) or (on_dst and ek[2] in hit)]
                for ek in dead:
                    eg.rows.pop(ek, None)
            eg.anti_join_endpoints(removed, on_src=on_src, on_dst=on_dst)
        return StatementResult(status="REMOVE SUCCESS")

    def _remove_edge(self, stmt: RemoveEdgeStmt) -> StatementResult:
        _, grp = self._mutable_graph(stmt.group, stmt.graph)
        grp.delete_where(self._where_cond(grp, stmt.pattern))
        return StatementResult(status="REMOVE SUCCESS")

    # -------------------------------------------------------------- queries
    def _query(self, stmt: QueryStmt) -> StatementResult:
        graph = self._graph(stmt.graph)

        # count(vertex) / count(edge) aggregate (README.md:190-197)
        if isinstance(stmt.target, CallExpr) and stmt.target.func == "count":
            return self._query_count(graph, stmt)

        # k-hop neighbor query: {query: grp, from: key, where: {--: n}}
        if (isinstance(stmt.where, Pred) and stmt.where.op == "khop") or \
                stmt.from_key is not None:
            return self._query_khop(graph, stmt)

        group_name, projection = self._target_group(stmt.target)
        if group_name == "*":
            return self._query_all_groups(graph)
        grp = graph.group(group_name)
        df = grp.to_df()
        if df is None:
            return _empty()

        if isinstance(stmt.where, WalkPattern):
            return self._query_pattern(graph, grp, stmt.where)

        comp = PredicateCompiler(grp.meta)
        cond = comp.compile(stmt.where)
        if cond is not None:
            df = df.filter(cond)
        if comp.knn:
            return _group_result(self._apply_knn_routed(
                grp, df, comp.knn, pure_knn=comp.n_plain == 0), grp)
        if projection:
            cols = (["src", "dst", "direction"] if grp.meta.is_edge else ["id"])
            df = df.select(*cols, *[p for p in projection if p in df.columns])
        return _group_result(df, grp, ordered=True)

    def _apply_knn_routed(self, grp, df: DataFrame, knn: dict,
                          pure_knn: bool = True) -> DataFrame:
        """Cost-based ``$near``+limit routing (VERDICT r5 #3, redesigned
        r7 on measurement).

        Below ``spark.gqlite.knn.ann_threshold`` rows (default 100 000)
        — or whenever no vector index is attached to the property — the
        exact path runs: TakeOrderedAndProject is a single shuffle-free
        scan computing ONE distance per row, and its results are
        bit-stable for external oracles.

        Above the threshold WITH an attached l2 index
        (``Group.attach_index``; one per property, the kind named by
        its attach record) the query probes the index's ``nprobe`` nearest
        inverted lists — a partition-pruned scan — and drops the ids the
        local overlay shadows from it (the index holds their PRE-upsert
        entries; overlay rows join as always-exact candidates instead).
        Then one candidate step per index shape:

        * **materialized IVF, no other predicate** (``include_vectors=
          True`` — the production form): top-k over the pruned vectors
          ∪ the overlay vectors, so only ~nprobe/nlist of the vector
          data is READ; the k winners broadcast-join back to the group
          for the full rows.  No count job.
        * **materialized IVF with plain predicates, or IVFPQ**: a
          bounded refill loop.  Rank the candidates — by exact distance
          on ``_vec``, or by ADC on ``codes`` (driver-side m×ksub
          distance table inlined as a scalar expression, IVFPQ's
          codes-only read is ~dim·4/m smaller) — take the best
          ``width`` ids, exact-re-rank them against ``df`` (already
          predicate-filtered) via a broadcast id join, and count the
          survivors.  Fewer than k: double ``width`` (bounded by
          ``spark.gqlite.knn.oversample_retries``, default 2; each
          retry re-reads only the pruned partitions), and fall back to
          the EXACT scan when the probed pool is exhausted or retries
          are spent — a selective predicate degrades to the correct
          full plan, never to a silently short result.  The initial
          width is ``spark.gqlite.knn.oversample``·k (default 4·k) on
          vectors; on codes it is ``spark.gqlite.knn.pq_candidates``,
          defaulting to the measured candidates law (PLANS.md 'IVFPQ
          at 256d': recall saturates only once the candidate set
          exceeds the rows indistinguishable at code resolution, and
          ≥0.1% of the corpus cleared the 90% bar at every measured
          config) — max(1000, corpus/1000, oversample·k).

        An earlier design also offered an INLINE quantizer (a per-row
        nlist-centroid argmin filter expression) as the no-index
        fallback.  Measured at 1 M × 64d it is a 100× LOSS — exact scan
        1.0 s vs 124 s routed (PLANS.md 'Cost-based $near+limit
        routing'): the assignment evaluates nlist distances per scanned
        row to save only the top-k heap, and it cannot prune I/O.  ANN
        that does not change what is READ is slower than exact, so
        without an index the router stays exact and logs the hint.

        Conf: the ``knn.*`` keys of :mod:`gqlite_spark.conf` (the one
        list of keys and defaults); ``knn.nprobe`` defaults to
        ``operators.similarity.default_nprobe`` so the probed fraction
        holds as auto_nlist grows with √n.  Per-query opt-out:
        ``exact: true`` beside ``$near``.  The route decision is
        logged at debug level."""
        from .operators import similarity as S
        spark = df.sparkSession

        threshold = conf.get(spark, "knn.ann_threshold")
        if knn.get("exact") or threshold < 0 \
                or grp.row_count() <= threshold:
            return apply_knn(df, knn)
        attr = knn["attr"]
        log = logging.getLogger("gqlite_spark.knn")
        rec = grp._vindex.get(attr)
        if rec is None:
            log.info(
                "$near+limit on %r: %d rows exceed the ann_threshold "
                "but no vector index is attached — running the exact "
                "scan (build one with {vindex} or attach one with "
                "Group.attach_index to prune the read)",
                attr, grp.row_count())
            return apply_knn(df, knn)
        params = rec.params

        # default probe width scales with the index's nlist so the
        # probed FRACTION doesn't shrink as auto_nlist grows with √n
        # (fixed nprobe=8 reads 0.25% of a 10 M-corpus index — recall
        # decays silently at scale; similarity.default_nprobe, r8 sweep)
        nprobe = max(1, conf.get(
            spark, "knn.nprobe",
            S.default_nprobe(int(params.get("nlist") or 0))))
        probe = S.probe_lists(knn["geometry"], params["centroids"],
                              nprobe, "l2")
        pruned = rec.frame(spark).where(F.col("list_id").isin(probe))
        # local-overlay rows (OLTP upserts since the index was built) are
        # NOT in the index: they join the candidate set as always-exact
        # candidates, and ids they shadow are dropped from the index side
        # (the index holds the PRE-upsert entry).  This is why local
        # writes don't detach the index — incremental-insert parity with
        # the reference's GHNSW::insert, no rebuild per write.
        local_keys = ([] if grp.meta.is_edge else list(grp.rows))
        # overlay guard (ADVICE r7): below the cap the shadowed ids are a
        # literal isin (plan-stable, no extra join); above it the literal
        # would grow the expression tree unboundedly, so switch to a
        # broadcast anti-join on a DataFrame of local keys and tell the
        # user a compaction would fold the overlay back into the index
        overlay_cap = conf.get(spark, "knn.overlay_isin_max")
        if len(local_keys) > overlay_cap:
            log.warning(
                "group %r carries %d local-overlay rows over an attached "
                "vector index (cap for inline plans: %d) — excluding "
                "shadowed ids via broadcast anti-join; run {vindex ... "
                "compact: true} (Group.compact_into_index) to fold the "
                "overlay into the index, rewriting only affected lists",
                grp.meta.name, len(local_keys), overlay_cap)
            pruned = pruned.join(
                F.broadcast(grp._local_df().select("id")), "id",
                "left_anti")
        elif local_keys:
            pruned = pruned.filter(~F.col("id").isin(local_keys))

        pq = rec.kind == "ivfpq"
        log.debug(
            "$near+limit on %r routed to ANN (%s index, nlist=%s "
            "nprobe=%d, %s%s); add 'exact: true' to the $near spec to "
            "force the exact plan", attr, rec.kind, params.get("nlist"),
            nprobe,
            "partition-pruned read" if pure_knn and not pq
            else "partition-pruned refill",
            f", +{len(local_keys)} local overlay rows" if local_keys
            else "")
        k = int(knn["limit"])
        c = max(1, conf.get(spark, "knn.oversample"))
        retries = max(0, conf.get(spark, "knn.oversample_retries"))
        extra_ids = None
        if pq:
            q = [float(x) for x in knn["geometry"]]
            adc = pruned.select(
                "id", S._adc_expr(q, params["books"]).alias("_adc"))

            def top_ids(width):
                return (adc.orderBy(F.col("_adc").asc(), F.col("id").asc())
                        .limit(width).select("id"))
            width = conf.get(spark, "knn.pq_candidates")
            if width <= 0:
                width = max(1000, grp.row_count() // 1000, c * k)
            if local_keys:
                extra_ids = grp._local_df().select("id")
        else:
            cand = pruned.select(
                "id", F.col("_vec").cast("array<double>").alias(attr))
            if local_keys:
                cand = cand.unionByName(
                    grp._local_df()
                    .select("id", F.col(attr).cast("array<double>")
                            .alias(attr))
                    .filter(F.col(attr).isNotNull()))
            if pure_knn:
                # top-k over the pruned index partitions (reads only the
                # probed lists' vectors) ∪ the local overlay, then
                # recover the k full rows and re-establish distance
                # order — k rows, broadcast join
                top = apply_knn(cand, knn)
                return apply_knn(
                    df.join(F.broadcast(top.select("id")), "id"), knn)

            def top_ids(width):
                return apply_knn(cand, {**knn, "limit": width}).select("id")
            width = c * k
        got = 0
        for attempt in range(retries + 1):
            ids = top_ids(width)
            cand_ids = (ids if extra_ids is None
                        else ids.unionByName(extra_ids).distinct())
            result = apply_knn(df.join(F.broadcast(cand_ids), "id"), knn)
            got = result.count()
            if got >= k:
                if attempt:
                    log.info("$near %s refilled to %d rows at width=%d "
                             "(attempt %d)", rec.kind, got, width,
                             attempt + 1)
                return result
            if ids.count() < width:
                break  # probed lists exhausted — widening adds nothing
            width *= 2
        log.warning(
            "$near %s found %d/%d rows within the probed lists "
            "(width=%d) — falling back to the exact scan so the query "
            "stays complete", rec.kind, got, k, width)
        return apply_knn(df, knn)

    def _target_group(self, target: Any) -> tuple[str, Optional[list[str]]]:
        if isinstance(target, str):
            return target, None
        if isinstance(target, MemberRef):
            return target.group, [target.prop]
        if isinstance(target, list):
            groups = {t.group for t in target if isinstance(t, MemberRef)}
            if len(groups) != 1:
                raise GQLiteError("projection must reference one group")
            return groups.pop(), [t.prop for t in target]
        raise GQLiteError(f"unsupported query target {target!r}")

    def _query_count(self, graph: Graph, stmt: QueryStmt) -> StatementResult:
        arg = stmt.target.args[0] if stmt.target.args else "vertex"
        if arg in ("vertex", "edge"):
            groups = [g for g in graph.groups.values()
                      if g.meta.is_edge == (arg == "edge")]
        else:
            groups = [graph.group(arg)]
        total = 0
        for g in groups:
            df = g.to_df()
            if df is None:
                continue
            # count(vertex/edge) spans heterogeneous groups: one lacking a
            # predicate attribute contributes 0 matches rather than blowing
            # up the whole statement with a raw AnalysisException
            try:
                comp = PredicateCompiler(g.meta)
                cond = comp.compile(stmt.where) if isinstance(stmt.where, Pred) else None
                if cond is not None:
                    df = df.filter(cond)
                total += df.count()
            except GQLiteError:
                raise
            except Exception as e:  # AnalysisException on missing column
                if len(groups) == 1:
                    raise GQLiteError(str(e).splitlines()[0]) from e
                continue
        return StatementResult(status="QUERY SUCCESS", rows=[str(total)],
                               value=total)

    def _query_all_groups(self, graph: Graph) -> StatementResult:
        rows: list[str] = []
        for name in sorted(graph.groups):
            grp = graph.groups[name]
            df = grp.to_df()
            if df is None:
                continue
            rows += _beautify(df.orderBy(*order_for_group(grp.meta)), grp)
        return StatementResult(status="QUERY SUCCESS", rows=rows)

    def _query_pattern(self, graph: Graph, grp: Group,
                       pattern: WalkPattern) -> StatementResult:
        if any(c.agg for c in pattern.conns):
            return self._query_shortest_path(graph, grp, pattern)
        if len(pattern.conns) == 1:
            df = grp.to_df()
            if df is None or not grp.meta.is_edge:
                raise GQLiteError("edge pattern requires an edge group")
            out = df.filter(pattern_filter(pattern, grp.meta))
            out = self._apply_endpoint_conds(graph, grp, pattern, out)
            return _group_result(out.orderBy(*order_for_group(grp.meta)),
                                 grp)
        # multi-hop walk: iterated self-join (reference intent, stub at
        # ScanPlan.cpp:225-226) — see operators/patterns.py.  Property-
        # condition nodes at ANY hop (gql.y:886-905 a_link_condition)
        # resolve against the edge group's endpoint vertex groups.
        from .operators.patterns import match_walk
        out = match_walk(grp.to_df(), pattern, grp.meta,
                         node_filters=self._walk_node_filters(graph, grp,
                                                              pattern))
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda o=out: [str(r.asDict()) for r in o.collect()])

    def _walk_node_filters(self, graph: Graph, grp: Group,
                           pattern: WalkPattern) -> dict:
        """For each walk node carrying a property-condition object, the
        one-column ``id`` frames of satisfying vertices — one per endpoint
        vertex group of the edge relation (a hop vertex may come from
        either side; key-type mismatches are pruned in match_walk)."""
        out: dict[int, list] = {}
        group_names = [g for g in dict.fromkeys(
            (grp.meta.src_group, grp.meta.dst_group)) if g]
        for i, node in enumerate(pattern.nodes):
            if node.key is not None or node.wildcard or not node.conds:
                continue
            frames = [self._matching_ids(graph, g, node.conds)
                      for g in group_names]
            out[i] = [f for f in frames if f is not None]
        return out

    @staticmethod
    def _matching_ids(graph: Graph, group_name: str,
                      cond: Pred) -> Optional[DataFrame]:
        """The one-column ``id`` frame of ``group_name``'s vertices that
        satisfy ``cond``; None when the group holds no rows."""
        vgrp = graph.group(group_name)
        vdf = vgrp.to_df()
        if vdf is None:
            return None
        return vdf.filter(
            PredicateCompiler(vgrp.meta).compile(cond)).select("id")

    def _apply_endpoint_conds(self, graph: Graph, grp: Group,
                              pattern: WalkPattern, out: DataFrame) -> DataFrame:
        """Edge patterns with endpoint property conditions
        (``[{user_id: 2}, {'--': 'tag'}, {movie_id: [...]}]``,
        README.md:155-162): each condition node filters the matching
        endpoint's vertex group, then a semi-join restricts the edge
        set — the Spark form of 'join edges to endpoint tables'.  The
        join strategy is left to Catalyst/AQE (same contract as
        match_walk): a selective condition broadcasts at runtime, a
        non-selective one at 100 TB must NOT be force-broadcast — and
        when both groups carry co-bucketed ``{layout attach:}`` copies
        on the join key, the semi-join runs exchange-free off the
        bucketed scans."""
        a, b = pattern.nodes[0], pattern.nodes[1]
        direction = pattern.conns[0].direction
        if direction == "<-":
            a, b = b, a

        def semi(out_df: DataFrame, node, edge_col: str,
                 group_name: Optional[str]) -> DataFrame:
            if not node.conds or group_name is None:
                return out_df
            ids = self._matching_ids(graph, group_name, node.conds)
            if ids is None:
                return out_df.filter(F.lit(False))
            return out_df.join(ids.select(F.col("id").alias(edge_col)),
                               edge_col, "left_semi")

        out = semi(out, a, "src", grp.meta.src_group)
        out = semi(out, b, "dst", grp.meta.dst_group)
        return out

    def _query_shortest_path(self, graph: Graph, grp: Group,
                             pattern: WalkPattern) -> StatementResult:
        """``['a', <-: min('w'), 'b']`` → weighted shortest path
        (reference surface: test/basketballplayer-2.X/query.gql:1-2; A* walker
        include/walk/AStarWalk.h — here a Pregel-style DataFrame iteration)."""
        from .operators.graph_algos import shortest_path
        conn = pattern.conns[0]
        src, dst = pattern.nodes[0].key, pattern.nodes[-1].key
        weight = conn.agg.args[0] if conn.agg and conn.agg.args else None
        direction = conn.direction
        edges = grp.to_df()
        if direction == "<-":
            src, dst = dst, src
        # each literal key takes its endpoint side's key type
        as_key = {"integer": int, "string": str}
        src = as_key.get(grp.meta.src_key_type, lambda v: v)(src)
        dst = as_key.get(grp.meta.dst_key_type, lambda v: v)(dst)
        undirected = direction == "--" or (
            edges is not None and "direction" in edges.columns and
            edges.filter(F.col("direction") == "--").limit(1).count() > 0)
        res = shortest_path(edges, src, dst, weight_col=weight,
                            undirected=undirected)
        if res is None:
            return _empty()
        cost, path = res
        cost_s = beautify._fmt_double(cost) if weight else str(int(cost))
        return StatementResult(status="QUERY SUCCESS",
                               rows=[f"[{cost_s}, {path}]"],
                               value=(cost, path))

    def _query_khop(self, graph: Graph, stmt: QueryStmt) -> StatementResult:
        from .operators.graph_algos import k_hop
        spec = stmt.where.value if isinstance(stmt.where, Pred) else {
            "direction": "--", "hops": 1}
        group_name, _ = self._target_group(stmt.target)
        grp = graph.group(group_name)
        start = stmt.from_key
        edge_dfs = [g.to_df() for g in graph.groups.values()
                    if g.meta.is_edge and g.to_df() is not None]
        if not edge_dfs:
            return _empty()
        # groups may have heterogeneous key types (string tag ↔ int file id);
        # normalize endpoints to string for the traversal union
        norm = [d.select(F.col("src").cast("string").alias("src"),
                         F.col("dst").cast("string").alias("dst"),
                         "direction") for d in edge_dfs]
        edges = functools.reduce(lambda a, b: a.unionByName(b), norm)
        # the start key may live in ANY group (it's a graph-wide walk
        # origin) — normalized to string like the traversal edges
        reached = k_hop(edges, str(start), int(spec["hops"]),
                        direction=spec.get("direction", "--"))
        df = grp.to_df()
        return _group_result(
            df.join(reached.withColumnRenamed("id", "_rid"),
                    df["id"].cast("string") == F.col("_rid"), "left_semi")
            .orderBy(*order_for_group(grp.meta)), grp)

    # ---------------------------------------------------------------- dump
    def dump(self, graph_name: str) -> str:
        """Emit a GQL script that recreates the graph (UtilPlan.cpp:128-205
        parity; round-trip: dump → replay → identical tables)."""
        g = self.catalog.graph(graph_name)
        parts = []
        for name in sorted(g.groups):
            grp = g.groups[name]
            m = grp.meta
            dp = ",".join(f"'{p}'" for p in m.declared_props)
            if m.is_edge:
                mid = f"{{{name}: [{dp}]}}" if dp else f"'{name}'"
                parts.append(f"['{m.src_group}', {mid}, '{m.dst_group}']")
            else:
                idx = (", index: [" + ",".join(f"'{i}'" for i in sorted(m.indexes)) + "]"
                       if m.indexes else "")
                parts.append(f"{{{name}: [{dp}]{idx}}}")
        lines = [f"{{create: '{graph_name}', group: [" + ",".join(parts) + "]};"]
        # vertex groups first: every edge's endpoints exist on replay
        for is_edge in (False, True):
            for name in sorted(g.groups):
                grp = g.groups[name]
                df = grp.to_df() if grp.meta.is_edge == is_edge else None
                if df is None:
                    continue
                keys = ("src", "dst", "direction") if is_edge else ("id",)
                for r in df.orderBy(*keys[:2]).collect():
                    d = r.asDict()
                    props = {k: v for k, v in d.items()
                             if k not in keys and v is not None}
                    pj = _dump_props(props, grp.meta) if props else None
                    if is_edge:
                        sk, dk = (v if isinstance(v, int) else f"'{v}'"
                                  for v in (d["src"], d["dst"]))
                        arrow = d["direction"] + (f": {pj}" if pj else "")
                        body = f"edge: [{sk}, {arrow}, {dk}]"
                    else:
                        key = (d["id"] if grp.meta.key_type == "integer"
                               else f"'{d['id']}'")
                        body = (f"vertex: [{key}, {pj}]" if pj
                                else f"vertex: [{key}]")
                    lines.append(f"{{upset: '{name}', {body}}};")
        return "\n".join(lines)


# statement class -> handler(engine, stmt); exact-type lookup, since no
# statement class subclasses another
_HANDLERS = {
    CreateStmt: GQLite._create,
    UpsetVertexStmt: GQLite._upsert_vertex,
    UpsetEdgeStmt: GQLite._upsert_edge,
    UpsetPropertyStmt: GQLite._upsert_property,
    QueryStmt: GQLite._query,
    RemoveVertexStmt: GQLite._remove_vertex,
    RemoveEdgeStmt: GQLite._remove_edge,
    DropStmt: GQLite._drop,
    DumpStmt: GQLite._dump,
    ShowGraphStmt: GQLite._show,
    UseGraphStmt: GQLite._use,
    AstStmt: GQLite._ast,
    ProfileStmt: GQLite._profile,
    ImportStmt: GQLite._import,
    InferStmt: GQLite._infer_hmm,
    TopcountStmt: GQLite._topcount,
    QuantilesStmt: GQLite._quantiles,
    ReadRollupStmt: GQLite._read_rollup,
    LayoutStmt: GQLite._layout,
    # the pipeline statements, behind the group-frame step
    **{cls: functools.partial(GQLite._on_frame, handler=handler)
       for cls, handler in (
           (CurateStmt, GQLite._curate), (DedupStmt, GQLite._dedup),
           (SimilarStmt, GQLite._similar), (ChunkStmt, GQLite._chunk),
           (FunnelStmt, GQLite._funnel), (CohortStmt, GQLite._cohort),
           (SampleStmt, GQLite._sample), (SplitStmt, GQLite._split),
           (BudgetStmt, GQLite._budget), (RetrieveStmt, GQLite._retrieve),
           (VIndexStmt, GQLite._vindex), (ShardsStmt, GQLite._shards),
           (RollupStmt, GQLite._rollup))},
}


def _norm_fs_path(p: str) -> str:
    """Normalize a filesystem path for identity comparison (ADVICE r10
    #3): trailing slashes and the ``file:`` scheme's 1-vs-3-slash
    variants all name the same local directory — `{layout ... compact}`
    must not reject a genuinely attached path over spelling."""
    p = p.rstrip("/")
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _dump_props(props: dict, meta) -> str:
    items = []
    for k in sorted(props):
        v = props[k]
        kind = meta.props.get(k)
        if kind == K_DATETIME:
            vs = beautify._fmt_epoch(float(v))
        elif kind == K_BINARY:
            vs = "0b'" + base64.b64encode(bytes(v)).decode() + "'"
        elif kind == K_VECTOR:
            vs = "[" + ",".join(beautify._fmt_double(float(x)) for x in v) + "]"
        elif isinstance(v, str):
            vs = "'" + v.replace("'", "\\'") + "'"
        elif isinstance(v, float):
            vs = beautify._fmt_double(v)
        else:
            vs = str(v)
        items.append(f"'{k}':{vs}")
    return "{" + ",".join(items) + "}"
