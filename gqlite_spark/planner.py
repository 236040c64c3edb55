"""Predicate / pattern lowering: AST → PySpark ``Column`` expressions.

The reference compiles WHERE clauses into closure lists evaluated row-at-a-
time (GScanPlan::PatternVisitor, ScanPlan.cpp:575-793).  Here every predicate
becomes a declarative ``Column`` tree, so Catalyst gets full visibility:
predicate pushdown into Parquet scans, constant folding, and whole-stage
codegen all apply without any engine-side work (the reference's hand-built
index selection, ScanPlan.cpp:96-133, has no Spark-side equivalent because
Parquet min/max + pushdown subsume it).

Unlike the reference's flat two-slot AND/OR model (GRAD.h:41-70), ``$and`` /
``$or`` nest arbitrarily.

Vector math (the ``$near`` squared distance, the squared norm a scalar is
compared with) is written by the one fold builder in
``operators/similarity.py`` (``sq_l2_sql``, ``sq_norm_sql``, ``vec_sql``):
one ``F.expr`` per use, built only where a statement uses it.
"""

from __future__ import annotations

import functools
import operator
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .catalog import (K_BINARY, K_DATETIME, K_NUMBER, K_VECTOR, GroupMeta,
                      _to_storage)
from .errors import GQLiteError
from .gql.ast import (BinaryLit, DatetimeLit, GeohashLit, Lambda, Pred,
                      WalkPattern)
from .gql.gvm import constant_fold
from .operators.similarity import sq_l2_sql, sq_norm_sql, vec_sql

_CMP = {"lt": operator.lt, "gt": operator.gt,
        "lte": operator.le, "gte": operator.ge, "eq": operator.eq}


def _lit_for(meta: GroupMeta, attr: str, value: Any) -> Any:
    """Convert a parsed literal to the column's storage representation."""
    if isinstance(value, Lambda):
        value = constant_fold(value)
    kind = meta.props.get(attr)
    if kind is None:
        if isinstance(value, DatetimeLit):
            return float(value.epoch)
        if isinstance(value, BinaryLit):
            return bytes(value.data)
        if isinstance(value, GeohashLit):
            return value.hash
        return value
    return _to_storage(value, kind)


def _vector_sql(attr: str) -> str:
    """SQL operand of a vector property, as ``array<double>``."""
    return "cast(`" + attr.replace("`", "``") + "` as array<double>)"


def near_dist2(attr: str, point: list) -> Column:
    """Squared L2 distance between a vector property and a constant
    point — parity with gql::distance2 (src/base/math/Distance.cpp:133-157):
    the reference's ``$near`` compares SQUARED distance against the radius.
    One ``F.expr`` of the :func:`~.operators.similarity.sq_l2_sql` fold
    over the :func:`~.operators.similarity.vec_sql` literal, so its plan
    cost does not grow with the dimension.
    """
    return F.expr(sq_l2_sql(_vector_sql(attr), vec_sql(point)))


def key_literal(meta: GroupMeta, value: Any) -> Any:
    if meta.key_type == "integer":
        return int(value)
    return str(value)


class PredicateCompiler:
    """Compile a Pred tree to a boolean Column for one group's DataFrame."""

    def __init__(self, meta: GroupMeta, id_col: str = "id"):
        self.meta = meta
        self.id_col = id_col
        self.knn: Optional[dict] = None   # set when a kNN (near+limit) is seen
        # count of non-$near filter conjuncts: when 0 alongside a knn, the
        # routed path may run top-k directly on a materialized IVF index
        # (no corpus-side predicates to apply first)
        self.n_plain = 0

    def compile(self, pred: Optional[Pred]) -> Optional[Column]:
        if pred is None:
            return None
        return self._compile(pred)

    def _compile(self, p: Pred) -> Column:
        if p.op == "and":
            return functools.reduce(operator.and_,
                                    (self._compile(c) for c in p.children))
        if p.op == "or":
            return functools.reduce(operator.or_,
                                    (self._compile(c) for c in p.children))
        if p.op == "exists":
            self.n_plain += 1
            return F.col(p.attr).isNotNull()
        if p.op == "eq" and p.attr == "id":
            self.n_plain += 1
            return F.col(self.id_col) == F.lit(key_literal(self.meta, p.value))
        if p.op == "in":
            self.n_plain += 1
            vals = [_lit_for(self.meta, p.attr, v) for v in p.value]
            return F.col(p.attr).isin(vals)
        if p.op in _CMP:
            self.n_plain += 1
            value = p.value
            if isinstance(value, Lambda):
                value = constant_fold(value)
            kind = self.meta.props.get(p.attr)
            if kind == K_VECTOR and isinstance(value, (int, float)):
                # scalar comparison against a vector column: compare the
                # squared L2 norm (distance2-from-origin semantics; the
                # reference's lambda-predicate case, documented divergence —
                # it parses but never applies the fold, expect.out:150-167)
                col = F.expr(sq_norm_sql(_vector_sql(p.attr)))
                return _CMP[p.op](col, F.lit(float(value)))
            lit = _lit_for(self.meta, p.attr, value)
            col = F.col(p.attr)
            if kind == K_BINARY:
                col = F.base64(col)
                lit = __import__("base64").b64encode(lit).decode()
            return _CMP[p.op](col, F.lit(lit))
        if p.op == "near":
            spec = p.value
            geom = spec["geometry"]
            if isinstance(geom, Lambda):
                geom = constant_fold(geom)
            if spec.get("limit"):
                # kNN: not a pure filter — executor adds order-by + limit
                self.knn = {"attr": p.attr, "geometry": geom,
                            "limit": int(spec["limit"]),
                            "radius": spec.get("radius"),
                            "radius_op": spec.get("radius_op", "lte"),
                            "exact": bool(spec.get("exact"))}
            radius = spec.get("radius")
            if radius is None:
                return F.lit(True)
            if isinstance(radius, Lambda):
                radius = constant_fold(radius)
            op = operator.le if spec.get("radius_op", "lte") == "lte" else operator.lt
            if not spec.get("limit"):
                # a radius-only $near is a plain filter like any other
                # conjunct: it must disqualify the pure-kNN fast path
                # (which picks top-k from the index BEFORE df filters
                # apply) or a combined radius+kNN query silently loses
                # matching rows.  A radius on the kNN's OWN spec is
                # exempt: apply_knn re-applies it on the candidate side.
                self.n_plain += 1
            return op(near_dist2(p.attr, geom), F.lit(float(radius)))
        if p.op == "khop":
            raise GQLiteError("k-hop spec must be handled by the executor")
        raise GQLiteError(f"unsupported predicate op {p.op!r}")


def pattern_filter(pattern: WalkPattern, meta: GroupMeta) -> Column:
    """Single-hop edge-pattern → boolean Column over an edge DataFrame
    (predictEdge parity, ScanPlan.cpp:520-562).

    Pattern ``[a, --, b]`` matches either orientation of any edge between a
    and b; ``[a, ->, b]`` matches a directed edge a→b, or an undirected
    stored edge in either orientation (undirected edges satisfy both
    directions — ScanPlan.cpp:548-554 swap logic).  ``*`` endpoints drop
    that conjunct.
    """
    if len(pattern.conns) != 1:
        raise GQLiteError("pattern_filter handles single-hop patterns only")
    a, b = pattern.nodes[0], pattern.nodes[1]
    conn = pattern.conns[0]
    direction = conn.direction
    if direction == "<-":
        a, b = b, a
        direction = "->"

    def endpoint(col: str, node) -> Optional[Column]:
        if node.wildcard or node.key is None:
            return None
        side_kt = meta.src_key_type if col == "src" else meta.dst_key_type
        if side_kt == "integer":
            if not isinstance(node.key, int):
                return F.lit(False)  # type-incompatible orientation
            val = node.key
        else:
            val = str(node.key)
        return F.col(col) == F.lit(val)

    def conj(*cols: Optional[Column]) -> Column:
        actual = [c for c in cols if c is not None]
        if not actual:
            return F.lit(True)
        return functools.reduce(operator.and_, actual)

    fwd = conj(endpoint("src", a), endpoint("dst", b))
    rev = conj(endpoint("src", b), endpoint("dst", a))
    undirected_stored = F.col("direction") == F.lit("--")
    if direction == "--":
        return fwd | rev
    return ((~undirected_stored) & fwd) | (undirected_stored & (fwd | rev))


def order_for_group(meta: GroupMeta) -> list[str]:
    """Deterministic output order = storage key order (mdbx cursor order,
    ScanPlan.cpp:186-232): numeric for integer keys, lexicographic for
    string keys."""
    if meta.is_edge:
        return ["src", "direction", "dst"]
    return ["id"]


def apply_knn(df: DataFrame, knn: dict) -> DataFrame:
    """kNN top-k: distance + global order + limit.

    At 100 TB this is the right plan shape: Spark's ``TakeOrderedAndProject``
    computes per-partition top-k then merges k·P rows on one reducer — no full
    sort, no full shuffle.  (The reference's HNSW index, src/operand/query/
    HNSW.cpp, is a single-node structure; the distributed analogue for larger
    k / recall control is LSH — see operators/similarity.py.)
    """
    out = df.filter(F.col(knn["attr"]).isNotNull()).withColumn(
        "_dist2", near_dist2(knn["attr"], knn["geometry"]))
    if knn.get("radius") is not None:
        cmp = operator.le if knn.get("radius_op") == "lte" else operator.lt
        out = out.filter(cmp(F.col("_dist2"), F.lit(float(knn["radius"]))))
    return out.orderBy(F.col("_dist2").asc(), F.col("id").asc()) \
              .limit(knn["limit"]).drop("_dist2")
