"""Statement executor: AST → catalog mutations / DataFrame results.

Statement dispatch mirrors the reference's plan mapping
(GVirtualEngine::makePlans, src/VirtualEngine.cpp:172-238):
UpsetStmt→upsert, CreateStmt/DropStmt/DumpStmt→utility, QueryStmt→scan plan,
RemoveStmt→delete(+cascade) — but with a clean parse→plan→execute split
instead of the reference's execute-inside-parser coupling (gql.y:152-156),
and DataFrames instead of a row callback.
"""

from __future__ import annotations

import base64
import logging
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import beautify, conf
from .catalog import (K_BINARY, K_DATETIME, K_VECTOR, Catalog, Graph, Group)
from .errors import (GQLiteError, GQLParseError, GraphNotExistError,
                     GroupNotExistError)
from .gql import parser as gql_parser
from .gql.ast import (AstStmt, BudgetStmt, CallExpr, ChunkStmt, CohortStmt,
                      CreateStmt,
                      CurateStmt, DedupStmt,
                      DropStmt, DumpStmt, FunnelStmt,
                      ImportStmt, InferStmt, LayoutStmt, MemberRef, Pred,
                      ProfileStmt,
                      QuantilesStmt, QueryStmt, ReadRollupStmt,
                      RetrieveStmt, RollupStmt, SampleStmt, ShardsStmt,
                      SimilarStmt, SplitStmt,
                      TopcountStmt, VIndexStmt,
                      RemoveEdgeStmt, RemoveVertexStmt, ShowGraphStmt,
                      UpsetEdgeStmt, UpsetPropertyStmt, UpsetVertexStmt,
                      UseGraphStmt, WalkPattern)
from .planner import (PredicateCompiler, apply_knn, key_literal,
                      order_for_group, pattern_filter)


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
        if isinstance(stmt, CreateStmt):
            return self._create(stmt)
        if isinstance(stmt, UpsetVertexStmt):
            return self._upsert_vertex(stmt)
        if isinstance(stmt, UpsetEdgeStmt):
            return self._upsert_edge(stmt)
        if isinstance(stmt, UpsetPropertyStmt):
            return self._upsert_property(stmt)
        if isinstance(stmt, QueryStmt):
            return self._query(stmt)
        if isinstance(stmt, RemoveVertexStmt):
            return self._remove_vertex(stmt)
        if isinstance(stmt, RemoveEdgeStmt):
            return self._remove_edge(stmt)
        if isinstance(stmt, DropStmt):
            self.catalog.drop_graph(stmt.graph)
            if self.current_graph == stmt.graph:
                self.current_graph = None
            return StatementResult(status="DROP SUCCESS")
        if isinstance(stmt, DumpStmt):
            script = self.dump(stmt.graph)
            return StatementResult(status="EXECUTE COMMAND SUCCESS",
                                   rows=script.splitlines(), value=script)
        if isinstance(stmt, ShowGraphStmt):
            if stmt.graph:
                g = self.catalog.graph(stmt.graph)
                return StatementResult(status="EXECUTE COMMAND SUCCESS",
                                       value=g.schema_json())
            return StatementResult(status="EXECUTE COMMAND SUCCESS",
                                   value=self.catalog.list_graphs())
        if isinstance(stmt, UseGraphStmt):
            self.catalog.graph(stmt.graph)   # raises graph-not-exist parity
            self.current_graph = stmt.graph
            return StatementResult(status="EXECUTE COMMAND SUCCESS")
        if isinstance(stmt, AstStmt):
            return StatementResult(status="EXECUTE COMMAND SUCCESS",
                                   value=stmt.inner)
        if isinstance(stmt, ProfileStmt):
            res = self._dispatch(stmt.inner)
            if res.df is not None:
                # public explain() path (prints to stdout) — survives
                # PySpark upgrades, unlike the _jdf/_sc private API
                import contextlib
                import io
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    res.df.explain(mode="formatted")
                res.value = buf.getvalue()
            return res
        if isinstance(stmt, ImportStmt):
            return self._import(stmt)
        if isinstance(stmt, InferStmt):
            return self._infer_hmm(stmt)
        if isinstance(stmt, DedupStmt):
            return self._dedup(stmt)
        if isinstance(stmt, SimilarStmt):
            return self._similar(stmt)
        if isinstance(stmt, ChunkStmt):
            return self._chunk(stmt)
        if isinstance(stmt, FunnelStmt):
            return self._funnel(stmt)
        if isinstance(stmt, CohortStmt):
            return self._cohort(stmt)
        if isinstance(stmt, SampleStmt):
            return self._sample(stmt)
        if isinstance(stmt, SplitStmt):
            return self._split(stmt)
        if isinstance(stmt, BudgetStmt):
            return self._budget(stmt)
        if isinstance(stmt, RetrieveStmt):
            return self._retrieve(stmt)
        if isinstance(stmt, CurateStmt):
            return self._curate(stmt)
        if isinstance(stmt, VIndexStmt):
            return self._vindex(stmt)
        if isinstance(stmt, ShardsStmt):
            return self._shards(stmt)
        if isinstance(stmt, LayoutStmt):
            return self._layout(stmt)
        if isinstance(stmt, RollupStmt):
            return self._rollup(stmt)
        if isinstance(stmt, TopcountStmt):
            return self._topcount(stmt)
        if isinstance(stmt, QuantilesStmt):
            return self._quantiles(stmt)
        if isinstance(stmt, ReadRollupStmt):
            return self._read_rollup(stmt)
        raise GQLiteError(f"unsupported statement {type(stmt).__name__}")

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
        except ValueError as e:       # no cms metric for the column
            raise GQLiteError(f"topcount: {e}") from e
        except Exception as e:        # missing rollup / sidecar
            raise GQLiteError(f"topcount: {e}") from e
        cols = out.columns
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out, cols=cols: [
                list(r) for r in out.orderBy(*cols).collect()])

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
        except ValueError as e:       # no hist metric for the column
            raise GQLiteError(f"quantiles: {e}") from e
        except Exception as e:        # missing rollup / sidecar
            raise GQLiteError(f"quantiles: {e}") from e
        cols = out.columns
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out, cols=cols: [
                list(r) for r in out.orderBy(*cols).collect()])

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
        except ValueError as e:       # avg_of without a sum metric
            raise GQLiteError(f"rollup read: {e}") from e
        except Exception as e:        # missing rollup / sidecar
            raise GQLiteError(f"rollup read: {e}") from e
        # drop EXACTLY the internal sketch-state columns the spec's
        # metrics declare (ADVICE r11 #3) — a name-prefix filter would
        # silently project out a legitimate dim/metric column that
        # happens to be called e.g. 'hist_total'
        internal = {f"{fn}_{c}"
                    for c, fns in (spec.get("metrics") or {}).items()
                    for fn in fns if fn in ("kmv", "hist", "cms")}
        out = out.select(*[c for c in out.columns
                           if c not in internal])
        cols = out.columns
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out, cols=cols: [
                list(r) for r in out.orderBy(*cols).collect()])

    def _pipeline_group_df(self, graph_name, group_name: str,
                           on: "str | None", default_prop: str):
        """Shared front half of the pipeline statements: resolve the
        group, materialize its DataFrame, and validate the target
        property.  Returns (df, prop) or (None, prop) for an empty
        group."""
        graph = self._graph(graph_name)
        grp = graph.group(group_name)
        df = grp.to_df()
        prop = on or default_prop
        if df is None:
            return None, prop
        if prop not in df.columns:
            raise GQLiteError(
                f"group '{group_name}' has no property '{prop}'")
        return df, prop

    def _curate(self, stmt: CurateStmt) -> StatementResult:
        """``{curate: 'docs', in: 'g', benchmark: 'bench',
        quality_min: 0.5, ngram: 8};`` — the one-plan curation
        pipeline from GQL (operators/sampling.py::curate_corpus):
        dedup purge → quality gate → ``ngram``-gram benchmark
        decontamination → per-language report, three shuffles total.
        ``method: 'exact'`` purges exact duplicates (min-id canonical,
        or argmax ``best_by:``); ``method: 'clusters'`` purges NEAR-dup
        clusters to their keep-best survivor (``best_by:`` metric,
        default text length) — the full quality-survivor chain the
        library API grew in r11/r12, now first-class from the engine.
        Result rows: (predicted_lang, n_docs, sum_tokens,
        sum_quality_e4).  Beyond-reference surface."""
        from .operators.sampling import curate_corpus
        df, prop = self._pipeline_group_df(stmt.graph, stmt.group,
                                           stmt.on, "text")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[],
                                   df=None)
        bench, _ = self._pipeline_group_df(stmt.graph, stmt.benchmark,
                                           stmt.on, "text")
        if bench is None:
            raise GQLiteError(
                f"curate: benchmark group '{stmt.benchmark}' is empty "
                "— decontamination needs the benchmark corpus")
        best_by = stmt.best_by
        if (best_by is not None and stmt.method == "exact"
                and best_by not in df.columns
                and best_by not in ("n_tokens", "quality")):
            # the derived per-doc metrics are legal argmax targets for
            # the exact-hash purge (they exist in the enriched scan)
            raise GQLiteError(
                f"curate: group '{stmt.group}' has no property "
                f"'{best_by}' (and it is not a derived metric "
                "n_tokens/quality)")
        kwargs = {}
        if stmt.method == "clusters":
            from .operators.dedup import (keep_best_per_cluster,
                                          near_dup_clusters)
            clusters = near_dup_clusters(df, id_col="id",
                                         text_col=prop,
                                         threshold=stmt.threshold)
            if best_by is not None:
                if best_by not in df.columns:
                    raise GQLiteError(
                        f"curate: group '{stmt.group}' has no "
                        f"property '{best_by}'")
                scores = df.select("id",
                                   F.col(best_by).alias("score"))
            else:                      # default: keep the longest copy
                scores = df.select("id", F.length(F.col(prop))
                                   .cast("long").alias("score"))
            kwargs["survivors"] = keep_best_per_cluster(
                clusters, scores, id_col="id")
        elif best_by is not None:
            kwargs["best_by"] = best_by
        out = curate_corpus(df, bench, quality_min=stmt.quality_min,
                            ngram=stmt.ngram, id_col="id",
                            text_col=prop, **kwargs)
        cols = out.columns
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out, cols=cols: [
                list(r) for r in out.orderBy(*cols).collect()])

    def _dedup(self, stmt: DedupStmt) -> StatementResult:
        """``{dedup: 'docs', in: 'g', method: 'minhash', on: 'text',
        threshold: 0.8};`` — the training-data dedup family as engine
        statements, lowering straight onto operators/dedup.py (same
        bucketed 100 TB plans as the library API; the group's key column
        plays doc_id).  Beyond-reference surface: the reference has no
        dedup statement."""
        from .operators import dedup as D
        df, prop = self._pipeline_group_df(
            stmt.graph, stmt.group, stmt.on,
            "embedding" if stmt.method == "embedding"
            else "url" if stmt.method == "url" else "text")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        m = stmt.method
        if m == "exact":
            out = D.exact_duplicates(df, id_col="id", text_col=prop)
        elif m == "url":
            from .operators.text import url_dedup
            out = url_dedup(df, id_col="id", url_col=prop)
        elif m == "minhash":
            out = D.minhash_lsh_pairs(df, id_col="id", text_col=prop,
                                      threshold=stmt.threshold)
        elif m == "jaccard":
            out = D.ngram_jaccard_pairs(df, id_col="id", text_col=prop,
                                        threshold=stmt.threshold)
        elif m == "simhash":
            out = D.simhash_near_pairs(df, id_col="id", text_col=prop)
        elif m == "lines":
            out = D.line_dedup(df, id_col="id", text_col=prop)
        elif m == "clusters":
            out = D.near_dup_clusters(df, id_col="id", text_col=prop,
                                      threshold=stmt.threshold)
            if stmt.best_by is not None:
                # quality survivor selection: keep each cluster's MAX
                # best_by member (tie -> min id) instead of min-id
                if stmt.best_by not in df.columns:
                    raise GQLiteError(
                        f"dedup: group '{stmt.group}' has no property "
                        f"'{stmt.best_by}'")
                out = D.keep_best_per_cluster(
                    out, df.select("id", F.col(stmt.best_by)
                                   .alias("score")), id_col="id")
        elif m == "embedding":
            out = D.embedding_near_dups(df, id_col="id", vec_col=prop,
                                        threshold=stmt.threshold)
        else:
            raise GQLiteError(
                f"dedup: unknown method '{m}' (want exact|url|minhash|"
                f"jaccard|simhash|lines|clusters|embedding)")
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _similar(self, stmt: SimilarStmt) -> StatementResult:
        """``{similar: 'vecs', in: 'g', to: [0.1, ...], top: 5,
        method: 'lsh'};`` — top-k vector search as an engine statement
        over a group's array property, lowering onto
        operators/similarity.py (brute = exact cosine scan+
        TakeOrderedAndProject; lsh/ivf/pq = the bucketed ANN paths).
        Engine analogue of the reference's HNSW-backed $near."""
        from .operators import similarity as S
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df, prop = self._pipeline_group_df(stmt.graph, stmt.group,
                                           stmt.on, "embedding")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        q, k, m = stmt.to, stmt.top, stmt.method
        if stmt.queries is not None:
            # JOIN form: every vector in the `queries` group searches
            # this group.  brute = broadcast the query side (right only
            # when it is small); ivf = the distributed list-bucketed
            # join, optionally serving the corpus from a persisted
            # materialized index — neither side broadcast, the 100 TB
            # shape for cross-dataset semantic search/dedup.
            if m not in ("brute", "ivf"):
                raise GQLiteError(
                    f"similar: join form (queries:) supports method "
                    f"brute|ivf, got '{m}'")
            qdf, qprop = self._pipeline_group_df(
                stmt.graph, stmt.queries, stmt.qon or stmt.on,
                "embedding")
            if qdf is None:
                return StatementResult(status="QUERY SUCCESS", rows=[],
                                       df=None)
            queries = qdf.select(F.col("id").alias("q_id"),
                                 F.col(qprop).alias("q_vec"))
            if m == "brute":
                out = S.knn_join(df, queries, k=k, id_col="id",
                                 vec_col=prop)
            elif m == "ivf":
                if stmt.index is not None:
                    try:
                        out = S.ivf_knn_join_indexed(
                            grp.spark, stmt.index, queries, k=k,
                            nprobe=stmt.nprobe)
                    except (FileNotFoundError, ValueError) as e:
                        raise GQLiteError(
                            f"similar: cannot join through index at "
                            f"'{stmt.index}' ({e})") from e
                else:
                    out = S.ivf_knn_join(df, queries, k=k,
                                         nlist=stmt.nlist,
                                         nprobe=stmt.nprobe,
                                         id_col="id", vec_col=prop)
            return StatementResult(
                status="QUERY SUCCESS", df=out,
                rows_fn=lambda out=out: [list(r) for r in out.collect()])
        if stmt.index is not None:
            # persisted-index search: load the on-disk index (lsh/ivf/pq
            # as written by save_{ann,ivf,pq}_index) instead of the
            # in-memory quantizer cache — the cross-session, build-once/
            # search-many form (reference HNSW.cpp:358-374 lazy reload)
            out = self._similar_indexed(grp, df, prop, q, k, m, stmt.index)
            return StatementResult(
                status="QUERY SUCCESS", df=out,
                rows_fn=lambda out=out: [list(r) for r in out.collect()])
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
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

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

    def _chunk(self, stmt: ChunkStmt) -> StatementResult:
        """``{chunk: 'docs', in: 'g', size: 64, overlap: 8};`` — document
        chunking as an engine statement (operators/text.py
        chunk_documents: pure map stage, zero shuffle)."""
        from .operators.text import chunk_documents
        df, prop = self._pipeline_group_df(stmt.graph, stmt.group,
                                           stmt.on, "text")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        out = chunk_documents(df, id_col="id", text_col=prop,
                              chunk_tokens=stmt.size, overlap=stmt.overlap)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _funnel(self, stmt: FunnelStmt) -> StatementResult:
        """``{funnel: 'events', in: 'g', steps: ['view', 'click'],
        by: 'user', on: 'etype', ts: 'ts', within: 5000000};`` —
        conversion funnel as an engine statement, lowering onto
        operators/temporal.py funnel (k filtered keyed aggregates; the
        ts property follows the library's dual-encoding contract:
        timestamp-typed or long nanoseconds)."""
        from .operators.temporal import funnel as _fn
        df, _ = self._pipeline_group_df(stmt.graph, stmt.group, stmt.on,
                                        "event_type")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        for c in (stmt.by, stmt.ts):
            if c not in df.columns:
                raise GQLiteError(
                    f"group '{stmt.group}' has no property '{c}'")
        out = _fn(df, [str(s) for s in stmt.steps], user_col=stmt.by,
                  type_col=stmt.on, ts_col=stmt.ts,
                  within_micros=stmt.within)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _cohort(self, stmt: CohortStmt) -> StatementResult:
        """``{cohort: 'events', in: 'g', by: 'user', ts: 'ts',
        bucket: 86400};`` — cohort retention as an engine statement
        (operators/temporal.py cohort_retention: two keyed aggregates
        over (user, bucket) distinct state)."""
        from .operators.temporal import cohort_retention
        df, _ = self._pipeline_group_df(stmt.graph, stmt.group, stmt.ts,
                                        "ts")
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        if stmt.by not in df.columns:
            raise GQLiteError(
                f"group '{stmt.group}' has no property '{stmt.by}'")
        out = cohort_retention(df, user_col=stmt.by, ts_col=stmt.ts,
                               bucket_seconds=stmt.bucket)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _sample(self, stmt: SampleStmt) -> StatementResult:
        """``{sample: 'docs', in: 'g', rate: 0.25};`` (hash sample) or
        ``{sample: 'docs', in: 'g', by: 'lang', rates: {en: 0.1},
        default: 0.5};`` (stratified) — deterministic md5-keyed sampling
        as an engine statement (operators/sampling.py: membership is a
        scan-only predicate on the group's key, zero shuffle, stable
        across engines and re-runs)."""
        from .operators.sampling import (cluster_sample, hash_sample,
                                         stratified_sample)
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        if stmt.clusters is not None:
            # embedding-cluster-balanced: the quantizer is cached on the
            # Group (same discipline as {similar}'s IVF centroids —
            # invalidated by any mutation)
            from .operators.similarity import ivf_centroids
            _check_vector_prop(df, stmt.group, stmt.on, "sample")
            cache_key = ("cluster", stmt.on, stmt.clusters)
            cents = grp._ann_cache.get(cache_key)
            if cents is None:
                cents = ivf_centroids(df, nlist=stmt.clusters, id_col="id",
                                      vec_col=stmt.on)
                grp._ann_cache[cache_key] = cents
            out = cluster_sample(df, cents, per_cluster=stmt.per,
                                 id_col="id", vec_col=stmt.on, metric="l2")
            return StatementResult(
                status="QUERY SUCCESS", df=out,
                rows_fn=lambda out=out: [list(r) for r in out.collect()])
        if stmt.rate is not None:
            out = hash_sample(df, id_col="id", rate=stmt.rate,
                              salt=stmt.salt)
        else:
            if stmt.by not in df.columns:
                raise GQLiteError(
                    f"group '{stmt.group}' has no property '{stmt.by}'")
            out = stratified_sample(df, stmt.by, stmt.rates, id_col="id",
                                    default_rate=stmt.default,
                                    salt=stmt.salt)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _split(self, stmt: SplitStmt) -> StatementResult:
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
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[],
                                   df=None)
        key = stmt.by if stmt.by is not None else "id"
        if key not in df.columns:
            raise GQLiteError(
                f"group '{stmt.group}' has no property '{key}'")
        splits = (tuple(stmt.weights.items()) if stmt.weights
                  else (("train", 0.8), ("val", 0.1), ("test", 0.1)))
        out = split_assign(df, splits=splits, key_col=key,
                           salt=stmt.salt)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _budget(self, stmt: BudgetStmt) -> StatementResult:
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
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[],
                                   df=None)
        derivable = ("quality", "n_tokens")
        missing = [c for c in (stmt.by, stmt.on) if c not in df.columns]
        if missing:
            underivable = [c for c in missing if c not in derivable]
            if underivable or "text" not in df.columns:
                raise GQLiteError(
                    f"group '{stmt.group}' has no property "
                    f"'{missing[0]}'")
            e = quality_exprs(F.coalesce(F.col("text"), F.lit("")))
            for c in missing:
                df = df.withColumn(c, e[c])
        out = select_token_budget(df, stmt.tokens, order_col=stmt.by,
                                  token_col=stmt.on, id_col="id")
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _retrieve(self, stmt: RetrieveStmt) -> StatementResult:
        """``{retrieve: 'docs', in: 'g', terms: ['spark', 'dup'],
        top: 20};`` — BM25 top-k lexical retrieval as an engine
        statement (operators/text.bm25_topk): the sparse complement of
        ``{similar:}``'s dense vector search, same statement shape
        (group + ranking params in, ranked rows out).  Result rows:
        (rank, id, n_terms, score_e6)."""
        from pyspark.sql import types as T

        from .operators.text import bm25_topk
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[],
                                   df=None)
        if stmt.on not in df.columns:
            raise GQLiteError(
                f"group '{stmt.group}' has no property '{stmt.on}'")
        if not isinstance(df.schema[stmt.on].dataType, T.StringType):
            raise GQLiteError(
                f"retrieve: property '{stmt.on}' is "
                f"{df.schema[stmt.on].dataType.simpleString()}, "
                "not a string")
        if stmt.near is not None:
            # hybrid: dense cosine leg over the vectors group, fused
            # with the BM25 leg by reciprocal rank (similarity.
            # hybrid_topk); the two groups align on their keys
            from .operators.similarity import hybrid_topk
            vgrp = graph.group(stmt.vectors)
            vdf = vgrp.to_df()
            if vdf is None:
                return StatementResult(status="QUERY SUCCESS", rows=[],
                                       df=None)
            _check_vector_prop(vdf, stmt.vectors, stmt.von, "retrieve")
            out = hybrid_topk(df, vdf, stmt.near, stmt.terms,
                              k=stmt.top, k_each=max(stmt.top, 20),
                              c=stmt.fuse, doc_id_col="id",
                              text_col=stmt.on, vec_id_col="id",
                              vec_col=stmt.von, k1=stmt.k1, b=stmt.b)
        else:
            out = bm25_topk(df, stmt.terms, k=stmt.top, k1=stmt.k1,
                            b=stmt.b, id_col="id", text_col=stmt.on)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

    def _vindex(self, stmt: VIndexStmt) -> StatementResult:
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
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        _check_vector_prop(df, stmt.group, stmt.on, "vindex")
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
            return StatementResult(status="QUERY SUCCESS",
                                   rows=[["attach_" + rec.kind, nlist]],
                                   value=nlist)
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
            return StatementResult(
                status="QUERY SUCCESS",
                rows=[[rep["lists_rewritten"], rep["rows_added"]]],
                value=rep["rows_added"])
        n_vecs = df.filter(F.col(stmt.on).isNotNull()).count()
        # pq: true builds the IVFPQ form: codes-only inverted lists
        # (~dim·4/m smaller) the routed $near serves via ADC + re-rank
        nlist = grp._build_index(stmt.on, stmt.path,
                                 "ivfpq" if stmt.pq else "ivf", stmt.nlist,
                                 n_vecs, stmt.refine, stmt.m, stmt.ksub)
        return StatementResult(
            status="QUERY SUCCESS",
            rows=[[nlist, n_vecs]], value=nlist)

    def _shards(self, stmt: ShardsStmt) -> StatementResult:
        """``{shards: 'docs', in: 'g', path: '/data/ep1', n: 64,
        salt: 'ep1'};`` — deterministic epoch-shard export
        (operators/sampling.py::write_training_shards: md5 shard
        assignment + within-shard sort, one file per shard, no global
        range exchange).  Result rows = (shard, n_rows, min_key,
        max_key) so the export is observable/auditable from GQL — the
        report aggregates the PRE-write lineage (map-side partials),
        never re-reading the written export (VERDICT r6 wrong #2)."""
        from .operators.sampling import write_training_shards
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        out = write_training_shards(df, stmt.path, n_shards=stmt.n,
                                    id_col="id", salt=stmt.salt)
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda out=out: [list(r) for r in out.collect()])

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
        Result row: (kind, path, n_rows)."""
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
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
                try:
                    grp.attach_layout(stmt.path)
                except GQLiteError:
                    raise
                except Exception as e:
                    raise GQLiteError(f"layout compact: {e}") from e
            rep = grp.compact_into_layout()
            return StatementResult(
                status="QUERY SUCCESS",
                rows=[[rep["rows_folded"], rep["rows_kept"]]],
                value=rep["rows_folded"])
        if stmt.attach and stmt.by is None and stmt.bucket_by is None:
            # attach-only: no export — wire an existing layout copy in
            try:
                kind = grp.attach_layout(stmt.path)
            except GQLiteError:
                raise
            except Exception as e:
                raise GQLiteError(f"layout attach: {e}") from e
            return StatementResult(
                status="QUERY SUCCESS",
                rows=[[f"attach_{kind}", stmt.path, grp.row_count()]],
                value=grp.row_count())
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        for c in (stmt.by or [stmt.bucket_by]):
            if c not in df.columns:
                raise GQLiteError(
                    f"layout: group '{stmt.group}' has no property '{c}'")
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
        return StatementResult(status="QUERY SUCCESS",
                               rows=[[kind, stmt.path, n]], value=n)

    def _rollup(self, stmt: RollupStmt) -> StatementResult:
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
        graph = self._graph(stmt.graph)
        grp = graph.group(stmt.group)
        df = grp.to_df()
        if df is None:
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)
        if stmt.append:
            try:
                append_rollup(df, stmt.path)
            except Exception as e:  # missing sidecar, schema drift
                raise GQLiteError(f"rollup append: {e}") from e
            kind = "rollup_append"
        else:
            cols = [stmt.ts] + list(stmt.by or []) \
                + list((stmt.metrics or {}).keys()) \
                + list((stmt.hist or {}).keys()) \
                + list((stmt.cms or {}).keys())
            for c in cols:
                if c not in df.columns:
                    raise GQLiteError(f"rollup: group '{stmt.group}' "
                                      f"has no property '{c}'")
            try:
                save_rollup(df, stmt.path, stmt.ts, stmt.every,
                            dims=stmt.by, metrics=stmt.metrics,
                            hist_params=stmt.hist,
                            cms_params=stmt.cms)
            except ValueError as e:
                raise GQLiteError(f"rollup: {e}") from e
            kind = "rollup"
        n = self.spark.read.parquet(stmt.path).count()
        return StatementResult(status="QUERY SUCCESS",
                               rows=[[kind, stmt.path, n]], value=n)

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

    def _mutable_graph(self, group: str) -> tuple[Graph, Group]:
        """Find the graph owning ``group`` (GQL upserts name only the group;
        session state supplies the graph, VirtualEngine session parity)."""
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
        _, grp = self._mutable_graph(stmt.group)
        if grp.meta.is_edge:
            raise GQLiteError(f"group {stmt.group} is an edge group")
        for key, props in stmt.vertices:
            grp.upsert_vertex(key, props)
        return StatementResult(status="UPSET SUCCESS")

    def _upsert_edge(self, stmt: UpsetEdgeStmt) -> StatementResult:
        _, grp = self._mutable_graph(stmt.group)
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
        _, grp = self._mutable_graph(stmt.group)
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
        g, grp = self._mutable_graph(stmt.group)
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
        _, grp = self._mutable_graph(stmt.group)
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
            return StatementResult(status="QUERY SUCCESS", rows=[], df=None)

        if isinstance(stmt.where, WalkPattern):
            return self._query_pattern(graph, grp, stmt.where)

        comp = PredicateCompiler(grp.meta)
        cond = comp.compile(stmt.where)
        if cond is not None:
            df = df.filter(cond)
        if comp.knn:
            df = self._apply_knn_routed(grp, df, comp.knn,
                                        pure_knn=comp.n_plain == 0)
            return StatementResult(
                status="QUERY SUCCESS", df=df,
                rows_fn=lambda df=df, grp=grp: self._beautify_vertices(df, grp))
        if projection:
            cols = (["src", "dst", "direction"] if grp.meta.is_edge else ["id"])
            df = df.select(*cols, *[p for p in projection if p in df.columns])
        # key-ordered output is a golden-format concern only: the sort (a
        # full exchange at scale) happens lazily inside rows_fn; DataFrame
        # consumers (query_df) get the unsorted, shuffle-free plan
        beaut = (self._beautify_edges if grp.meta.is_edge
                 else self._beautify_vertices)
        order = order_for_group(grp.meta)
        return StatementResult(
            status="QUERY SUCCESS", df=df,
            rows_fn=lambda df=df, grp=grp, b=beaut, o=order: b(df.orderBy(*o), grp))

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
        * **id-only IVF**: semi-join the pruned (id, list_id)
          assignment against the (predicate-filtered) corpus, then
          exact top-k.  Bounds top-k input, not the scan.
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
        materialized = pq or bool(params.get("include_vectors"))
        log.debug(
            "$near+limit on %r routed to ANN (%s index, nlist=%s "
            "nprobe=%d, %s%s); add 'exact: true' to the $near spec to "
            "force the exact plan", attr, rec.kind, params.get("nlist"),
            nprobe,
            "id semi-join" if not materialized
            else "partition-pruned read" if pure_knn and not pq
            else "partition-pruned refill",
            f", +{len(local_keys)} local overlay rows" if local_keys
            else "")
        if not materialized:
            # df rows for shadowed ids already carry the NEW vector, so
            # including the overlay ids is sufficient — distances come
            # from df
            cand_ids = pruned.select("id")
            if local_keys:
                cand_ids = cand_ids.unionByName(
                    grp._local_df().select("id")).distinct()
            return apply_knn(
                df.filter(F.col(attr).isNotNull()).join(cand_ids, "id"),
                knn)
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
            df = df.orderBy(*order_for_group(grp.meta))
            rows += (self._beautify_edges(df, grp) if grp.meta.is_edge
                     else self._beautify_vertices(df, grp))
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
            out = out.orderBy(*order_for_group(grp.meta))
            return StatementResult(
                status="QUERY SUCCESS", df=out,
                rows_fn=lambda o=out, g=grp: self._beautify_edges(o, g))
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
            frames = []
            for gname in group_names:
                vgrp = graph.group(gname)
                vdf = vgrp.to_df()
                if vdf is None:
                    continue
                comp = PredicateCompiler(vgrp.meta)
                cond = comp.compile(
                    gql_parser.Parser("")._build_pred_conj(node.conds))
                frames.append(vdf.filter(cond).select("id"))
            out[i] = frames
        return out

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
            vgrp = graph.group(group_name)
            vdf = vgrp.to_df()
            if vdf is None:
                return out_df.filter(F.lit(False))
            comp = PredicateCompiler(vgrp.meta)
            cond = comp.compile(
                gql_parser.Parser("")._build_pred_conj(node.conds))
            keys = vdf.filter(cond).select(
                F.col("id").alias(edge_col))
            return out_df.join(keys, edge_col, "left_semi")

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
        src = pattern.nodes[0].key
        dst = pattern.nodes[-1].key
        weight = None
        if conn.agg and conn.agg.args:
            weight = conn.agg.args[0]
        direction = conn.direction
        edges = grp.to_df()
        if direction == "<-":
            src, dst = dst, src

        def _side(val, kt):
            if kt == "integer":
                return int(val)
            if kt == "string":
                return str(val)
            return val
        src = _side(src, grp.meta.src_key_type)
        dst = _side(dst, grp.meta.dst_key_type)
        undirected = direction == "--" or (
            edges is not None and "direction" in edges.columns and
            edges.filter(F.col("direction") == "--").limit(1).count() > 0)
        res = shortest_path(edges, src, dst, weight_col=weight,
                            undirected=undirected)
        if res is None:
            return StatementResult(status="QUERY SUCCESS", rows=[])
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
            return StatementResult(status="QUERY SUCCESS", rows=[])
        # groups may have heterogeneous key types (string tag ↔ int file id);
        # normalize endpoints to string for the traversal union
        import functools as _ft
        norm = [d.select(F.col("src").cast("string").alias("src"),
                         F.col("dst").cast("string").alias("dst"),
                         "direction") for d in edge_dfs]
        edges = _ft.reduce(lambda a, b: a.unionByName(b), norm)
        # the start key may live in ANY group (it's a graph-wide walk
        # origin) — normalized to string like the traversal edges
        reached = k_hop(edges, str(start), int(spec["hops"]),
                        direction=spec.get("direction", "--"))
        df = grp.to_df()
        out = (df.join(reached.withColumnRenamed("id", "_rid"),
                       df["id"].cast("string") == F.col("_rid"), "left_semi")
               .orderBy(*order_for_group(grp.meta)))
        return StatementResult(
            status="QUERY SUCCESS", df=out,
            rows_fn=lambda o=out, g=grp: self._beautify_vertices(o, g))

    # ----------------------------------------------------------- beautify
    def _beautify_vertices(self, df: DataFrame, grp: Group) -> list[str]:
        prop_cols = [c for c in df.columns if c != "id"]
        out = []
        for r in df.collect():
            d = r.asDict()
            props = {k: d[k] for k in prop_cols if d.get(k) is not None}
            out.append(beautify.vertex_row(d["id"], props, grp.meta))
        return out

    def _beautify_edges(self, df: DataFrame, grp: Group) -> list[str]:
        prop_cols = [c for c in df.columns
                     if c not in ("src", "dst", "direction")]
        out = []
        for r in df.collect():
            d = r.asDict()
            props = {k: d[k] for k in prop_cols if d.get(k) is not None}
            out.append(beautify.edge_row(d["src"], d["direction"], d["dst"],
                                         props, grp.meta))
        return out

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
        for name in sorted(g.groups):
            grp = g.groups[name]
            if grp.meta.is_edge:
                continue
            df = grp.to_df()
            if df is None:
                continue
            for r in df.orderBy("id").collect():
                d = r.asDict()
                props = {k: v for k, v in d.items() if k != "id" and v is not None}
                key = d["id"] if grp.meta.key_type == "integer" else f"'{d['id']}'"
                if props:
                    pj = _dump_props(props, grp.meta)
                    lines.append(f"{{upset: '{name}', vertex: [{key}, {pj}]}};")
                else:
                    lines.append(f"{{upset: '{name}', vertex: [{key}]}};")
        for name in sorted(g.groups):
            grp = g.groups[name]
            if not grp.meta.is_edge:
                continue
            df = grp.to_df()
            if df is None:
                continue
            for r in df.orderBy("src", "dst").collect():
                d = r.asDict()
                props = {k: v for k, v in d.items()
                         if k not in ("src", "dst", "direction") and v is not None}
                sk = d["src"] if isinstance(d["src"], int) else f"'{d['src']}'"
                dk = d["dst"] if isinstance(d["dst"], int) else f"'{d['dst']}'"
                arrow = d["direction"]
                if props:
                    pj = _dump_props(props, grp.meta)
                    lines.append(f"{{upset: '{name}', edge: [{sk}, {arrow}: {pj}, {dk}]}};")
                else:
                    lines.append(f"{{upset: '{name}', edge: [{sk}, {arrow}, {dk}]}};")
        return "\n".join(lines)


def _check_vector_prop(df: DataFrame, group: str, prop: str,
                       verb: str) -> None:
    """The vector statements' one property check: ``group``'s frame
    ``df`` must hold ``prop`` as an array of numbers; ``verb`` prefixes
    the type error."""
    from pyspark.sql import types as T
    if prop not in df.columns:
        raise GQLiteError(f"group '{group}' has no property '{prop}'")
    dtype = df.schema[prop].dataType
    if not (isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType,
                           (T.DoubleType, T.FloatType, T.IntegerType,
                            T.LongType, T.ShortType))):
        raise GQLiteError(f"{verb}: property '{prop}' is "
                          f"{dtype.simpleString()}, not a numeric vector")


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
