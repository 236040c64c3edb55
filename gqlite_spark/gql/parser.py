"""Recursive-descent parser: GQL text → typed AST.

Covers the reference grammar surface (``src/gql.y``): create/upset/query/
remove/drop/dump/show/ast/profile/import statements, predicate objects
($lt/$gt/$lte/$gte/$and/$or/$near/$geometry, IN-lists, wildcards, lambdas),
vertex/edge declarations (``[key, props]``, ``[src, --, dst]``,
``[src, --: {props}, dst]``), and walk patterns with path aggregates
(``['p102', <-: min(), 'p113']``).  Unlike the reference (which executes from
inside parser actions, gql.y:152-156), this is a clean parse → plan →
execute split.
"""

from __future__ import annotations

import dataclasses
from typing import Any

from ..errors import GQLParseError
from . import lexer as L
from .ast import (
    STAR, AstStmt, BinaryLit, BudgetStmt, CallExpr, ChunkStmt, CreateStmt,
    DatetimeLit,
    CohortStmt, CurateStmt, DedupStmt, DropStmt,
    DumpStmt, EdgeConn, FunnelStmt, GeohashLit, GroupDef, ImportStmt,
    InferStmt, Lambda, LayoutStmt,
    MemberRef, QuantilesStmt, ReadRollupStmt, RetrieveStmt, RollupStmt,
    SampleStmt, ShardsStmt, SimilarStmt, SplitStmt,
    TopcountStmt, VIndexStmt,
    PatternNode, Pred, ProfileStmt, QueryStmt, RemoveEdgeStmt,
    RemoveVertexStmt, ShowGraphStmt, UpsetEdgeStmt, UpsetPropertyStmt,
    UpsetVertexStmt, UseGraphStmt, WalkPattern, Wildcard,
)

_ARROWS = {L.ARROW_R: "->", L.ARROW_L: "<-", L.DASH2: "--"}


class _ArrowElem:
    """Array element ``--`` / ``--: value`` inside edge declarations."""

    __slots__ = ("direction", "value")

    def __init__(self, direction: str, value: Any = None):
        self.direction = direction
        self.value = value


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = L.tokenize(text)
        self.i = 0

    # ------------------------------------------------------------- helpers
    def peek(self, k: int = 0) -> L.Token:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> L.Token:
        t = self.toks[self.i]
        if t.kind != L.EOF:
            self.i += 1
        return t

    def expect(self, kind: str) -> L.Token:
        t = self.next()
        if t.kind != kind:
            raise GQLParseError(f"expected {kind}, got {t.kind} ({t.value!r}) at offset {t.pos}")
        return t

    def accept(self, kind: str) -> L.Token | None:
        if self.peek().kind == kind:
            return self.next()
        return None

    # --------------------------------------------------------------- entry
    def parse_script(self) -> list[Any]:
        stmts = []
        while self.peek().kind != L.EOF:
            stmts.append(self.parse_statement())
            while self.accept(L.SEMI):
                pass
        return stmts

    def parse_statement(self) -> Any:
        t = self.peek()
        if t.kind == L.IDENT:
            word = t.value
            if word == "ast":
                self.next()
                return AstStmt(self.parse_statement())
            if word == "profile":
                self.next()
                return ProfileStmt(self.parse_statement())
            if word == "show":
                self.next()
                self.expect(L.IDENT)  # 'graph'
                name = None
                if self.peek().kind == L.STRING:
                    name = self.next().value
                return ShowGraphStmt(name)
            if word == "import":
                self.next()
                return ImportStmt(self.expect(L.STRING).value)
            if word == "use":
                # README §5 Utility: use graph 'xxx' (declared there,
                # absent from the reference grammar)
                self.next()
                self.expect(L.IDENT)  # 'graph'
                return UseGraphStmt(self.expect(L.STRING).value)
            raise GQLParseError(f"unknown command {word!r} at offset {t.pos}")
        obj = self.parse_object()
        return _build_statement(obj)

    # --------------------------------------------------------------- values
    def parse_value(self) -> Any:
        t = self.peek()
        if t.kind == L.LBRACE:
            return self.parse_object()
        if t.kind == L.LBRACKET:
            return self.parse_array()
        if t.kind == L.STRING:
            return self.next().value
        if t.kind == L.INT or t.kind == L.FLOAT:
            return self.next().value
        if t.kind == L.DATETIME:
            return DatetimeLit(self.next().value)
        if t.kind == L.BINARY:
            return BinaryLit(self.next().value)
        if t.kind == L.GEOHASH:
            return GeohashLit(self.next().value)
        if t.kind == L.STAR:
            self.next()
            return STAR
        if t.kind == L.LPAREN:
            return self.parse_lambda()
        if t.kind == L.IDENT:
            # call expr / member ref / bare ident
            if self.peek(1).kind == L.LPAREN:
                return self.parse_call()
            if self.peek(1).kind == L.DOT and self.peek(2).kind == L.IDENT:
                g = self.next().value
                self.next()
                return MemberRef(g, self.next().value)
            return self.next().value  # bare identifier treated as string
        raise GQLParseError(f"unexpected token {t.kind} ({t.value!r}) at offset {t.pos}")

    def parse_object(self) -> dict:
        self.expect(L.LBRACE)
        out: dict = {}
        while not self.accept(L.RBRACE):
            key = self._parse_key()
            self.expect(L.COLON)
            out[key] = self.parse_value()
            if not self.accept(L.COMMA) and self.peek().kind != L.RBRACE:
                raise GQLParseError(f"expected ',' or '}}' at offset {self.peek().pos}")
        return out

    def _parse_key(self) -> str:
        t = self.next()
        if t.kind in (L.IDENT, L.STRING):
            return t.value
        if t.kind in _ARROWS:
            return _ARROWS[t.kind]
        # `inf` lexes as the infinity FLOAT literal (reference gql.l:159-164)
        # but is a perfectly good property name in key position
        if t.kind == L.FLOAT and t.value == float("inf"):
            return "inf"
        raise GQLParseError(f"bad object key {t.kind} at offset {t.pos}")

    def parse_array(self) -> list:
        self.expect(L.LBRACKET)
        out: list = []
        while not self.accept(L.RBRACKET):
            t = self.peek()
            if t.kind == L.COMMA:  # empty slot: ['tag','relation',,'movie']
                self.next()
                continue
            if t.kind in _ARROWS:
                self.next()
                if self.accept(L.COLON):
                    out.append(_ArrowElem(_ARROWS[t.kind], self.parse_value()))
                else:
                    out.append(_ArrowElem(_ARROWS[t.kind]))
            else:
                out.append(self.parse_value())
            if not self.accept(L.COMMA) and self.peek().kind != L.RBRACKET:
                raise GQLParseError(f"expected ',' or ']' at offset {self.peek().pos}")
        return out

    def parse_call(self) -> CallExpr:
        name = self.expect(L.IDENT).value
        self.expect(L.LPAREN)
        args: list = []
        while not self.accept(L.RPAREN):
            args.append(self.parse_value())
            self.accept(L.COMMA)
        return CallExpr(name, tuple(args))

    # --------------------------------------------------------------- lambda
    def parse_lambda(self) -> Lambda:
        start = self.peek().pos
        self.expect(L.LPAREN)
        params: list[str] = []
        while not self.accept(L.RPAREN):
            params.append(self.expect(L.IDENT).value)
            self.accept(L.COMMA)
        self.expect(L.FATARROW)
        self.expect(L.LBRACE)
        body = self._parse_lambda_body()
        end = self.peek().pos
        return Lambda(tuple(params), tuple(body), self.text[start:end])

    def _parse_lambda_body(self) -> list:
        stmts: list = []
        while not self.accept(L.RBRACE):
            t = self.peek()
            if t.kind == L.SEMI:
                self.next()
                continue
            if t.kind == L.IDENT and t.value == "let":
                self.next()
                name = self.expect(L.IDENT).value
                self._expect_op("=")
                stmts.append(("let", name, self._parse_expr()))
            elif t.kind == L.IDENT and t.value == "return":
                self.next()
                stmts.append(("return", self._parse_expr()))
            elif t.kind == L.IDENT and self.peek(1).kind == L.OP and self.peek(1).value == "=":
                name = self.next().value
                self.next()
                stmts.append(("assign", name, self._parse_expr()))
            else:
                raise GQLParseError(f"bad lambda statement at offset {t.pos}")
        return stmts

    def _expect_op(self, op: str) -> None:
        t = self.next()
        if t.kind != L.OP or t.value != op:
            raise GQLParseError(f"expected {op!r} at offset {t.pos}")

    def _parse_expr(self):
        # additive
        left = self._parse_term()
        while True:
            t = self.peek()
            if t.kind == L.OP and t.value in "+-":
                self.next()
                left = (t.value, left, self._parse_term())
            else:
                return left

    def _parse_term(self):
        left = self._parse_factor()
        while True:
            t = self.peek()
            if (t.kind == L.OP and t.value == "/") or t.kind == L.STAR:
                op = "/" if t.kind == L.OP else "*"
                self.next()
                left = (op, left, self._parse_factor())
            else:
                return left

    def _parse_factor(self):
        t = self.peek()
        if t.kind in (L.INT, L.FLOAT):
            return ("const", self.next().value)
        if t.kind == L.IDENT:
            return ("var", self.next().value)
        if t.kind == L.LPAREN:
            self.next()
            e = self._parse_expr()
            self.expect(L.RPAREN)
            return e
        if t.kind == L.OP and t.value == "-":
            self.next()
            return ("neg", self._parse_factor())
        raise GQLParseError(f"bad lambda factor at offset {t.pos}")


# ------------------------------------------------------------ where clauses
def _where(raw: Any) -> Any:
    if raw is None:
        return None
    if isinstance(raw, list):
        return _pattern(raw)
    if isinstance(raw, dict):
        return _pred_conj(raw)
    # bare key → id equality (walk position, ScanPlan.cpp:575-592)
    return Pred("id", "eq", raw)


def _pred_conj(obj: dict) -> Pred:
    preds = [_pred(k, v) for k, v in obj.items()]
    if len(preds) == 1:
        return preds[0]
    return Pred(None, "and", children=preds)


def _pred(key: str, val: Any) -> Pred:
    if key == "$and":
        return Pred(None, "and", children=[_where(v) for v in val])
    if key == "$or":
        return Pred(None, "or", children=[_where(v) for v in val])
    if key in ("--", "->", "<-"):
        # k-hop neighbor spec (README.md:244-246)
        return Pred(None, "khop", {"direction": key, "hops": val})
    if val is STAR or isinstance(val, Wildcard):
        return Pred(key, "exists")
    if isinstance(val, dict):
        return _op_pred(key, val)
    if isinstance(val, list):
        return Pred(key, "in", val)
    return Pred(key, "eq", val)


def _op_pred(attr: str, spec: dict) -> Pred:
    ops = {k.lstrip("$"): v for k, v in spec.items()}
    if "near" in ops:
        extra = sorted(set(ops) - {"near", "limit", "exact"})
        if extra:
            raise GQLParseError(
                f"unknown operator ${extra[0]} beside $near on {attr}")
        geom, radius, radius_op = ops["near"], None, "lte"
        if isinstance(geom, dict):
            near = geom
            geom = near.get("$geometry") or near.get("geometry")
            op = next((o for o in ("lte", "lt")
                       if f"${o}" in near or o in near), None)
            if op:
                radius, radius_op = near.get(f"${op}", near.get(op)), op
        exact = ("exact" in ops
                 and _value(f"$near on {attr}", "exact", ops["exact"], "flag"))
        return Pred(attr, "near", {"geometry": geom, "radius": radius,
                                   "radius_op": radius_op,
                                   "limit": ops.get("limit"),
                                   "exact": exact})
    children = []
    for op, v in ops.items():
        if op in ("lt", "gt", "lte", "gte", "eq"):
            children.append(Pred(attr, op, v))
        elif op != "limit":
            raise GQLParseError(f"unknown operator ${op} on {attr}")
    if len(children) == 1:
        return children[0]
    return Pred(None, "and", children=children)


def _pattern(raw: list) -> WalkPattern:
    nodes: list[PatternNode] = []
    conns: list[EdgeConn] = []
    expect_node = True
    for el in raw:
        if isinstance(el, _ArrowElem):
            conn = EdgeConn(el.direction)
            if isinstance(el.value, CallExpr):
                conn.agg = el.value
            elif isinstance(el.value, str):
                conn.edge_group = el.value
            elif isinstance(el.value, dict):
                conn.props = el.value
            conns.append(conn)
            expect_node = True
            continue
        if isinstance(el, dict) and len(el) == 1 and next(iter(el)) in ("--", "->", "<-"):
            d, v = next(iter(el.items()))
            conn = EdgeConn(d)
            if isinstance(v, str):
                conn.edge_group = v
            elif isinstance(v, dict):
                conn.props = v
            conns.append(conn)
            expect_node = True
            continue
        if not expect_node:
            raise GQLParseError(f"expected connection in pattern, got {el!r}")
        if el is STAR or isinstance(el, Wildcard):
            nodes.append(PatternNode(wildcard=True))
        elif isinstance(el, dict):
            nodes.append(PatternNode(conds=_pred_conj(el) if el else None))
        else:
            nodes.append(PatternNode(key=el))
        expect_node = False
    if len(nodes) != len(conns) + 1:
        raise GQLParseError(
            f"malformed pattern: {len(nodes)} nodes / {len(conns)} connections")
    return WalkPattern(nodes, conns)


# ------------------------------------------------ create / upset values
def _groups(raw: list) -> list[GroupDef]:
    groups: list[GroupDef] = []
    for el in raw:
        if isinstance(el, str):
            groups.append(GroupDef(el))
        elif isinstance(el, dict):
            gd = GroupDef("")
            for k, v in el.items():
                if k == "index":
                    gd.index = v if isinstance(v, list) else [v]
                else:
                    gd.name = k
                    gd.props = v if isinstance(v, list) else [v]
            groups.append(gd)
        elif isinstance(el, list):
            # edge group: [from, name|{name:props}, to]
            if len(el) < 3:
                raise GQLParseError(f"bad edge group def: {el!r}")
            src, mid, dst = el[0], el[1:-1], el[-1]
            gd = GroupDef("", is_edge=True, src_group=src, dst_group=dst)
            for m in mid:
                if isinstance(m, str):
                    gd.name = m
                elif isinstance(m, dict):
                    for k, v in m.items():
                        gd.name = k
                        gd.props = v if isinstance(v, list) else [v]
            groups.append(gd)
        else:
            raise GQLParseError(f"bad group def: {el!r}")
    return groups


def _vertices(raw: Any) -> list[tuple]:
    if not isinstance(raw, list):
        raw = [raw]
    # flat single-vertex form (dump output): vertex: [key, {props}]
    if (len(raw) == 2 and not isinstance(raw[0], (list, dict))
            and isinstance(raw[1], dict)):
        return [(raw[0], raw[1])]
    out = []
    for el in raw:
        if isinstance(el, list):
            out.append((el[0], el[1] if len(el) > 1 else None))
        elif isinstance(el, dict):
            raise GQLParseError(f"bad vertex declaration: {el!r}")
        else:
            out.append((el, None))
    return out


def _edges(raw: Any) -> list[tuple]:
    if not isinstance(raw, list):
        raise GQLParseError("edge value must be an array")
    decls = raw if raw and isinstance(raw[0], list) else [raw]
    out = []
    for d in decls:
        if len(d) != 3 or not isinstance(d[1], _ArrowElem):
            raise GQLParseError(f"bad edge declaration: {d!r}")
        arrow = d[1]
        props = arrow.value if isinstance(arrow.value, dict) else None
        out.append((d[0], arrow.direction, d[2], props))
    return out


# ------------------------------------------------------- statement keys
#
# A statement's keys are its head key (filling its dataclass's first
# field), ``in`` (its ``graph`` field) and the names of its other fields,
# spelled as _KEY says where GQL names a field differently.  Any other
# key is an error, and an absent key takes the dataclass default.

def _int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _frac(v: Any) -> bool:
    return _num(v) and 0 <= v <= 1


def _word(v: Any) -> bool:
    return isinstance(v, str) and v != ""


def _all(ok):
    return lambda v: isinstance(v, list) and bool(v) and all(map(ok, v))


def _map(ok):
    return lambda v: (isinstance(v, dict) and bool(v)
                      and all(map(ok, v.values())))


def _floats(v: list) -> list:
    return [float(x) for x in v]


# shape -> (what a good value is, its check, its conversion)
_SHAPES = {
    "positive": ("a positive integer", lambda v: _int(v) and v >= 1, None),
    "count": ("a non-negative integer", lambda v: _int(v) and v >= 0, None),
    "number": ("a number", _num, float),
    "positive number": ("a positive number", lambda v: _num(v) and v > 0,
                        float),
    "fraction": ("a number in [0, 1]", _frac, float),
    "name": ("a property name", _word, None),
    "group": ("a group name", _word, None),
    "graph": ("a graph name", _word, None),
    "path": ("a path string", _word, None),
    "rollup": ("the rollup path", _word, None),
    "text": ("a string", lambda v: isinstance(v, str), None),
    "flag": ("true or false",
             lambda v: isinstance(v, str) and v.lower() in ("true", "false"),
             lambda v: v.lower() == "true"),
    "vector": ("a non-empty numeric vector", _all(_num), _floats),
    "words": ("a non-empty list of strings", _all(_word), None),
    "names": ("a property name or a non-empty list of property names",
              lambda v: _word(v) or _all(_word)(v),
              lambda v: [v] if isinstance(v, str) else v),
    "keys": ("a non-empty list of literal keys",
             _all(lambda k: _num(k) or isinstance(k, str)), None),
    "fractions": ("a non-empty list of numbers in [0, 1]", _all(_frac),
                  _floats),
    "fraction map": ("a map of fractions in [0, 1]", _map(_frac),
                     lambda v: {k: float(x) for k, x in v.items()}),
    "metrics": ("a map of property names to lists of aggregate names "
                "(sum/min/max/kmv/hist/cms)",
                _map(_all(lambda f: isinstance(f, str))), None),
    "hist": ("a map of property names to [lo, hi, bins] (numeric lo < hi, "
             "bins a positive integer)",
             _map(lambda x: isinstance(x, list) and len(x) == 3
                  and _num(x[0]) and _num(x[1]) and x[0] < x[1]
                  and _int(x[2]) and x[2] >= 1), None),
    "cms": ("a map of property names to [d, w] (positive integers — "
            "count-min rows and width)",
            _map(lambda x: isinstance(x, list) and len(x) == 2
                 and all(_int(y) and y >= 1 for y in x)), None),
    "object": ("an object", lambda v: isinstance(v, dict), None),
    "list": ("an edge list", lambda v: isinstance(v, list), None),
    "pattern": ("a walk pattern", lambda v: isinstance(v, list), _pattern),
    "any": ("a value", lambda v: True, None),
    # the builders raise their own errors
    "where": ("a where clause", lambda v: True, _where),
    "groups": ("a group list", lambda v: True, _groups),
    "vertices": ("a vertex list", lambda v: True, _vertices),
    "edges": ("an edge list", lambda v: True, _edges),
    "events": ("an event list", lambda v: True,
               lambda v: v if isinstance(v, list) else [v]),
}

# field -> key, where the two differ; a (statement, field) entry wins
_KEY = {
    "graph": "in", "groups": "group", "vertices": "vertex", "edges": "edge",
    "props": "property", "from_key": "from", "events": "event",
    (RemoveVertexStmt, "where"): "vertex", (RemoveEdgeStmt, "pattern"): "edge",
    (InferStmt, "edges"): "where",
}

# key -> shape; a (statement, key) entry wins
_SHAPE = {
    **dict.fromkeys(("create", "drop", "dump", "in"), "graph"),
    **dict.fromkeys(("upset", "remove", "dedup", "curate", "similar",
                     "chunk", "funnel", "cohort", "sample", "vindex",
                     "layout", "rollup", "shards", "split", "budget",
                     "retrieve", "benchmark", "queries", "vectors"),
                    "group"),
    **dict.fromkeys(("on", "by", "ts", "best_by", "bucket_by", "qon",
                     "von"), "name"),
    **dict.fromkeys(("path", "index"), "path"),
    **dict.fromkeys(("topcount", "quantiles"), "rollup"),
    **dict.fromkeys(("method", "salt"), "text"),
    **dict.fromkeys(("top", "ngram", "nlist", "nprobe", "size", "bucket",
                     "clusters", "per", "m", "ksub", "files", "buckets",
                     "every", "n", "fuse"), "positive"),
    **dict.fromkeys(("overlap", "within", "refine", "tokens"), "count"),
    **dict.fromkeys(("quality_min", "rate", "default", "b"), "fraction"),
    **dict.fromkeys(("compact", "pq", "attach", "append", "read"), "flag"),
    **dict.fromkeys(("to", "near"), "vector"),
    **dict.fromkeys(("steps", "terms"), "words"),
    **dict.fromkeys(("rates", "weights"), "fraction map"),
    "threshold": "number", "k1": "positive number", "avg": "names",
    "keys": "keys", "qs": "fractions", "metrics": "metrics", "hist": "hist",
    "cms": "cms", "query": "any", "from": "any", "where": "where",
    "group": "groups", "vertex": "vertices", "edge": "edges",
    "property": "object", "event": "events",
    (LayoutStmt, "by"): "names", (RollupStmt, "by"): "names",
    (ReadRollupStmt, "rollup"): "rollup", (InferStmt, "where"): "list",
    (RemoveVertexStmt, "vertex"): "where", (RemoveEdgeStmt, "edge"): "pattern",
}


def _value(stmt: str, key: str, v: Any, shape: str) -> Any:
    what, ok, conv = _SHAPES[shape]
    if not ok(v):
        raise GQLParseError(f"{stmt}: {key} must be {what}")
    return conv(v) if conv else v


def _key(cls: type, name: str) -> str:
    return _KEY.get((cls, name)) or _KEY.get(name, name)


def field_shapes(cls: type) -> dict:
    """Each field of statement ``cls`` after its head -> the shape of the
    field's key (``"name"``, ``"group"``, ...)."""
    return {f.name: _SHAPE.get((cls, _key(cls, f.name)))
            or _SHAPE[_key(cls, f.name)]
            for f in dataclasses.fields(cls)[1:]}


def _read(stmt: str, head: str, obj: dict, cls: type) -> Any:
    """Build ``cls`` from the statement object: every key checked, every
    absent key left to the dataclass default."""
    fields = dataclasses.fields(cls)
    keys = [head] + [_key(cls, f.name) for f in fields[1:]]
    extra = sorted(set(obj) - set(keys))
    if extra:
        raise GQLParseError(f"{stmt}: unknown key(s) {', '.join(extra)}")
    kw = {}
    for f, key in zip(fields, keys):
        shape = _SHAPE.get((cls, key)) or _SHAPE[key]
        if key in obj:
            kw[f.name] = _value(stmt, key, obj[key], shape)
        elif f.default is f.default_factory is dataclasses.MISSING:
            raise GQLParseError(
                f"{stmt}: {key}: {_SHAPES[shape][0]} is required")
    return cls(**kw)


# ------------------------------------------------- multi-key statement rules
# Each returns the error for a statement whose keys are each well formed
# but do not go together, or None.

def _dedup_rules(s: DedupStmt, keys: set):
    if s.best_by is not None and s.method != "clusters":
        return ("best_by requires method: 'clusters' (survivor selection "
                "happens per cluster)")


def _curate_rules(s: CurateStmt, keys: set):
    if s.method not in ("exact", "clusters"):
        return "method must be 'exact' or 'clusters'"
    if "threshold" in keys and s.method != "clusters":
        return ("threshold applies to method: 'clusters' (the near-dup "
                "Jaccard cut) only")


def _similar_rules(s: SimilarStmt, keys: set):
    if s.queries is not None:
        if s.to is not None:
            return "to and queries are mutually exclusive"
        if s.method not in ("brute", "ivf"):
            return (f"join form (queries:) supports method brute|ivf, got "
                    f"'{s.method}'")
    elif s.to is None:
        return "to: a non-empty numeric vector (or queries:) is required"
    elif keys & {"nlist", "nprobe", "qon"}:
        join_only = ", ".join(sorted(keys & {"nlist", "nprobe", "qon"}))
        return f"{join_only} applies to the join form (queries:) only"


def _chunk_rules(s: ChunkStmt, keys: set):
    if s.overlap >= s.size:
        return "overlap must be < size"


_SAMPLE_ONLY = {"clusters": {"per", "on"}, "rates": {"by", "default"},
                "rate": set()}


def _sample_rules(s: SampleStmt, keys: set):
    form = [k for k in _SAMPLE_ONLY if k in keys]
    if len(form) != 1:
        return ("exactly one of clusters / rate / rates is required (they "
                "are mutually exclusive)")
    stray = keys & set().union(*(v for k, v in _SAMPLE_ONLY.items()
                                 if k != form[0]))
    if stray:
        return f"{', '.join(sorted(stray))} do not apply to {form[0]}:"
    if form == ["rates"] and s.by is None:
        return "rates requires a by: property"


def _vindex_rules(s: VIndexStmt, keys: set):
    pq_keys = keys & {"m", "ksub"}
    if s.compact and ("nlist" in keys or s.refine):
        return ("compact folds the overlay into the existing index — "
                "nlist/refine do not apply")
    if s.compact and pq_keys:
        return ("compact folds the overlay into the existing index — "
                "m/ksub come from its sidecar")
    if pq_keys and not s.pq:
        return ("m/ksub size the product quantizer — add pq: true (the "
                "full-vector index has no codes)")
    if s.attach and (s.compact or keys & {"nlist", "refine", "pq", "m",
                                          "ksub"}):
        return ("attach re-wires an EXISTING index at path — the kind and "
                "parameters come from its sidecar (drop nlist/refine/pq/"
                "m/ksub/compact)")


def _layout_rules(s: LayoutStmt, keys: set):
    if s.compact and (s.by is not None or s.bucket_by is not None
                      or s.attach or keys & {"files", "buckets"}):
        return ("compact folds the overlay into the ALREADY-attached "
                "layout — drop by/bucket_by/files/buckets/attach")
    if s.by is not None and s.bucket_by is not None:
        return ("give at most one of by: (sort/z-order columns) and "
                "bucket_by: (hash-bucket key)")
    if s.by is None and s.bucket_by is None and not (s.attach or s.compact):
        return ("exactly one of by: (sort/z-order columns) or bucket_by: "
                "(hash-bucket key) is required (or attach: true / "
                "compact: true for an existing layout)")


def _rollup_rules(s: RollupStmt, keys: set):
    spec = sorted(keys & {"ts", "every", "by", "metrics", "hist", "cms"})
    if s.append and spec:
        return (f"append: true takes {', '.join(spec)} from the rollup's "
                "own spec sidecar — drop them")


def _split_rules(s: SplitStmt, keys: set):
    if s.weights is not None and abs(sum(s.weights.values()) - 1.0) > 1e-9:
        return "weights must sum to 1"


def _retrieve_rules(s: RetrieveStmt, keys: set):
    if (s.near is None) != (s.vectors is None):
        return ("near and vectors come together (hybrid needs both the "
                "query vector and the embedding group)")
    if s.near is None and keys & {"fuse", "von"}:
        hybrid_only = ", ".join(sorted(keys & {"fuse", "von"}))
        return f"{hybrid_only} applies to the hybrid form (near/vectors) only"


_RULES = {
    DedupStmt: _dedup_rules, CurateStmt: _curate_rules,
    SimilarStmt: _similar_rules, ChunkStmt: _chunk_rules,
    SampleStmt: _sample_rules, VIndexStmt: _vindex_rules,
    LayoutStmt: _layout_rules, RollupStmt: _rollup_rules,
    SplitStmt: _split_rules, RetrieveStmt: _retrieve_rules,
}

# head key -> statement; {upset}/{remove} pick the form by its key
_STATEMENTS = {
    "create": CreateStmt,
    "upset": {"vertex": UpsetVertexStmt, "edge": UpsetEdgeStmt,
              "property": UpsetPropertyStmt},
    "query": QueryStmt,
    "remove": {"vertex": RemoveVertexStmt, "edge": RemoveEdgeStmt},
    "drop": DropStmt, "dump": DumpStmt, "dedup": DedupStmt,
    "curate": CurateStmt, "similar": SimilarStmt, "chunk": ChunkStmt,
    "funnel": FunnelStmt, "cohort": CohortStmt, "sample": SampleStmt,
    "vindex": VIndexStmt, "layout": LayoutStmt, "topcount": TopcountStmt,
    "quantiles": QuantilesStmt, "rollup": RollupStmt, "shards": ShardsStmt,
    "split": SplitStmt, "budget": BudgetStmt, "retrieve": RetrieveStmt,
}


def _build_statement(obj: dict) -> Any:
    head = next((k for k in _STATEMENTS if k in obj), None)
    if head is None:
        raise GQLParseError(f"unrecognized statement keys: {sorted(obj)}")
    stmt, cls = head, _STATEMENTS[head]
    if isinstance(cls, dict):
        form = next((k for k in cls if k in obj), None)
        if form is None:
            raise GQLParseError(f"{head} requires {'/'.join(cls)}")
        cls = cls[form]
    elif head == "query" and "event" in obj:
        # inference form (README.md:252-268): where holds weighted
        # edge triples, not a walk pattern — kept raw
        stmt, cls = "infer", InferStmt
    elif head == "rollup" and "read" in obj:
        obj = dict(obj)
        if _value(head, "read", obj.pop("read"), "flag"):
            stmt, cls = "rollup read", ReadRollupStmt
    s = _read(stmt, head, obj, cls)
    err = _RULES[cls](s, set(obj)) if cls in _RULES else None
    if err:
        raise GQLParseError(f"{stmt}: {err}")
    return s


def parse(text: str) -> list[Any]:
    """Parse a GQL script into a list of statement AST nodes."""
    return Parser(text).parse_script()


def parse_one(text: str) -> Any:
    stmts = parse(text)
    if len(stmts) != 1:
        raise GQLParseError(f"expected one statement, got {len(stmts)}")
    return stmts[0]
