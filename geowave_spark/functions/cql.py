"""OGC CQL front-end: parse a CQL filter string into a Catalyst ``Column``
plus extracted index constraints (geometry envelope + time range).

Mirrors the reference's CQL entry point, which is its second-biggest query
surface:

- ``CQLQuery.java:59-100`` (extensions/adapters/vector/.../query/cql):
  ``CQL.toFilter`` -> fine filter, plus ``ExtractGeometryFilterVisitor`` /
  ``ExtractTimeFilterVisitor`` -> a ``SpatialQuery``/``TemporalQuery`` base
  query that drives index-range pruning; the CQL filter itself re-verifies
  every row ("this assumes the CQL filter covers the baseQuery").
- ``ExtractGeometryFilterVisitor.java``: AND intersects envelopes, OR unions
  them, NOT and any non-spatial predicate contribute *infinity* (no spatial
  constraint), so extraction is always over-inclusive — exactness comes from
  the fine filter, never from the extracted constraint.
- ``ExtractTimeFilterVisitor.java``: the same lattice over temporal ranges
  (DURING/BEFORE/AFTER/TEQUALS and comparisons against time literals).

Spark-first: the fine filter compiles to pure Catalyst expressions (zero
Python in the row path — BBOX/comparisons are native columns, INTERSECTS
uses the shared ray-cast expression builder ``geometry/pip_expr.py``), and
the extracted constraints feed the existing cost-based router
(``plans/index_select.py``), so a CQL string gets the same
prune-then-re-verify scan the reference builds from it.

Boundary conventions (pinned by tests and by the driver oracle):
- ``DURING t0/t1`` evaluates strictly between (FES/GeoTools semantics:
  ``ts > t0 AND ts < t1``); the *extracted* range is the closed hull
  ``[t0, t1]`` — over-inclusive, like the reference's TemporalRange.
- ``BEFORE`` / ``AFTER`` are strict; ``TEQUALS`` is equality.
- Geometry attributes bind to point columns ``(lon, lat)`` — the engine's
  indexed point tables; INTERSECTS/WITHIN of a point against a polygon
  literal are both point-in-polygon, CONTAINS of a point literal is
  coordinate equality, DISJOINT is the negation of INTERSECTS.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------- AST


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class Cmp:
    attr: str
    op: str  # = <> < <= > >=
    value: object  # float | str | datetime


@dataclass(frozen=True)
class Between:
    attr: str
    lo: object
    hi: object
    negate: bool = False


@dataclass(frozen=True)
class In:
    attr: str
    values: tuple
    negate: bool = False


@dataclass(frozen=True)
class Like:
    attr: str
    pattern: str
    nocase: bool = False
    negate: bool = False


@dataclass(frozen=True)
class IsNull:
    attr: str
    negate: bool = False


@dataclass(frozen=True)
class BBox:
    attr: str
    minx: float
    miny: float
    maxx: float
    maxy: float


@dataclass(frozen=True)
class Spatial:
    kind: str  # intersects | contains | within | disjoint
    attr: str
    wkt: str


@dataclass(frozen=True)
class DWithin:
    attr: str
    wkt: str
    dist: float
    units: str


@dataclass(frozen=True)
class During:
    attr: str
    t0: dt.datetime
    t1: dt.datetime


@dataclass(frozen=True)
class TCmp:
    attr: str
    kind: str  # before | after | tequals
    t: dt.datetime


@dataclass(frozen=True)
class Include:
    pass


@dataclass(frozen=True)
class Exclude:
    pass


# --------------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<datetime>\d{4}-\d{2}-\d{2}(?:T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z?)?)
  | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<string>'(?:[^']|'')*')
  | (?P<op><>|<=|>=|=|<|>)
  | (?P<punct>[(),/])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
    """,
    re.VERBOSE,
)

_WKT_TYPES = {
    "POINT",
    "LINESTRING",
    "POLYGON",
    "MULTIPOINT",
    "MULTILINESTRING",
    "MULTIPOLYGON",
}

_KEYWORDS = {
    "AND", "OR", "NOT", "LIKE", "ILIKE", "BETWEEN", "IN", "IS", "NULL",
    "DURING", "BEFORE", "AFTER", "TEQUALS", "BBOX", "INTERSECTS",
    "CONTAINS", "WITHIN", "DISJOINT", "DWITHIN", "INCLUDE", "EXCLUDE",
}


@dataclass
class _Tok:
    kind: str  # kw | ident | number | string | datetime | op | punct | wkt
    value: object


def _tokenize(s: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i = 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise ValueError(f"CQL: cannot tokenize at ...{s[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "ws":
            continue
        if kind == "ident":
            up = text.upper()
            if up in _WKT_TYPES:
                # swallow the balanced-paren coordinate body as ONE token
                j = i
                while j < len(s) and s[j].isspace():
                    j += 1
                if j >= len(s) or s[j] != "(":
                    raise ValueError(f"CQL: WKT literal {text!r} missing coordinates")
                depth = 0
                k = j
                while k < len(s):
                    if s[k] == "(":
                        depth += 1
                    elif s[k] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                if depth != 0:
                    raise ValueError(f"CQL: unbalanced parens in WKT near {text!r}")
                toks.append(_Tok("wkt", up + " " + s[j : k + 1]))
                i = k + 1
                continue
            if up in _KEYWORDS:
                toks.append(_Tok("kw", up))
            else:
                toks.append(_Tok("ident", text))
        elif kind == "number":
            toks.append(_Tok("number", float(text)))
        elif kind == "string":
            toks.append(_Tok("string", text[1:-1].replace("''", "'")))
        elif kind == "datetime":
            toks.append(_Tok("datetime", _parse_dt(text)))
        else:
            toks.append(_Tok(kind, text))
    return toks


def _parse_dt(text: str) -> dt.datetime:
    t = text[:-1] if text.endswith("Z") else text
    if "T" in t:
        return dt.datetime.fromisoformat(t)
    return dt.datetime.fromisoformat(t + "T00:00:00")


# ------------------------------------------------------------------ parser


class _Parser:
    """Recursive descent over the CQL grammar subset the reference's entry
    point exercises (geotools CQL2: logic, comparisons, BETWEEN/IN/LIKE/
    NULL, BBOX + binary spatial ops + DWITHIN, DURING/BEFORE/AFTER/
    TEQUALS)."""

    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, ahead: int = 0) -> _Tok | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        if self.i >= len(self.toks):
            raise ValueError("CQL: unexpected end of input")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, value=None) -> _Tok:
        t = self.next()
        if t.kind != kind or (value is not None and t.value != value):
            raise ValueError(f"CQL: expected {value or kind}, got {t.value!r}")
        return t

    def at_kw(self, *names: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "kw" and t.value in names

    # expr := or_expr
    def parse(self):
        node = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"CQL: trailing input at {self.peek().value!r}")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.at_kw("OR"):
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def and_expr(self):
        parts = [self.not_expr()]
        while self.at_kw("AND"):
            self.next()
            parts.append(self.not_expr())
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def not_expr(self):
        if self.at_kw("NOT"):
            self.next()
            return Not(self.not_expr())
        return self.primary()

    def primary(self):
        t = self.peek()
        if t is None:
            raise ValueError("CQL: unexpected end of input")
        if t.kind == "punct" and t.value == "(":
            self.next()
            node = self.or_expr()
            self.expect("punct", ")")
            return node
        if t.kind == "kw":
            if t.value == "INCLUDE":
                self.next()
                return Include()
            if t.value == "EXCLUDE":
                self.next()
                return Exclude()
            if t.value == "BBOX":
                return self.bbox()
            if t.value in ("INTERSECTS", "CONTAINS", "WITHIN", "DISJOINT"):
                return self.spatial(t.value.lower())
            if t.value == "DWITHIN":
                return self.dwithin()
        if t.kind in ("ident",):
            return self.predicate()
        if t.kind in ("number", "string", "datetime"):
            # literal-first comparison: 5 < magnitude
            lit = self.next().value
            op = self.expect("op").value
            attr = self.expect("ident").value
            return Cmp(attr, _FLIP[op], lit)
        raise ValueError(f"CQL: unexpected token {t.value!r}")

    def bbox(self):
        self.expect("kw", "BBOX")
        self.expect("punct", "(")
        attr = self.expect("ident").value
        vals = []
        for _ in range(4):
            self.expect("punct", ",")
            vals.append(float(self.expect("number").value))
        self.expect("punct", ")")
        return BBox(attr, *vals)

    def spatial(self, kind: str):
        self.next()
        self.expect("punct", "(")
        attr = self.expect("ident").value
        self.expect("punct", ",")
        wkt = self.expect("wkt").value
        self.expect("punct", ")")
        return Spatial(kind, attr, wkt)

    def dwithin(self):
        self.expect("kw", "DWITHIN")
        self.expect("punct", "(")
        attr = self.expect("ident").value
        self.expect("punct", ",")
        wkt = self.expect("wkt").value
        self.expect("punct", ",")
        dist = float(self.expect("number").value)
        self.expect("punct", ",")
        units = self.expect("ident").value.lower()
        self.expect("punct", ")")
        if units not in ("meters", "kilometers", "degrees"):
            raise ValueError(f"CQL: unsupported DWITHIN units {units!r}")
        return DWithin(attr, wkt, dist, units)

    def predicate(self):
        attr = self.expect("ident").value
        negate = False
        if self.at_kw("NOT"):
            self.next()
            negate = True
        t = self.peek()
        if t is None:
            raise ValueError(f"CQL: dangling attribute {attr!r}")
        if t.kind == "kw":
            if t.value == "BETWEEN":
                self.next()
                lo = self.literal()
                self.expect("kw", "AND")
                hi = self.literal()
                return Between(attr, lo, hi, negate)
            if t.value == "IN":
                self.next()
                self.expect("punct", "(")
                vals = [self.literal()]
                while self.peek() and self.peek().kind == "punct" and self.peek().value == ",":
                    self.next()
                    vals.append(self.literal())
                self.expect("punct", ")")
                return In(attr, tuple(vals), negate)
            if t.value in ("LIKE", "ILIKE"):
                nocase = t.value == "ILIKE"
                self.next()
                pat = self.expect("string").value
                return Like(attr, pat, nocase, negate)
            if t.value == "IS":
                self.next()
                if self.at_kw("NOT"):
                    self.next()
                    negate = True
                self.expect("kw", "NULL")
                return IsNull(attr, negate)
            if t.value == "DURING":
                self.next()
                t0 = self.expect("datetime").value
                self.expect("punct", "/")
                t1 = self.expect("datetime").value
                node = During(attr, t0, t1)
                return Not(node) if negate else node
            if t.value in ("BEFORE", "AFTER", "TEQUALS"):
                self.next()
                ts = self.expect("datetime").value
                node = TCmp(attr, t.value.lower(), ts)
                return Not(node) if negate else node
        if negate:
            raise ValueError(f"CQL: NOT before operator {t.value!r}")
        op = self.expect("op").value
        lit = self.literal()
        return Cmp(attr, op, lit)

    def literal(self):
        t = self.next()
        if t.kind in ("number", "string", "datetime"):
            return t.value
        raise ValueError(f"CQL: expected a literal, got {t.value!r}")


_FLIP = {"=": "=", "<>": "<>", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


def parse_cql(cql: str):
    """CQL string -> AST (the ``CQL.toFilter`` analog)."""
    return _Parser(_tokenize(cql)).parse()


def to_cql(node) -> str:
    """AST -> CQL string such that ``parse_cql(to_cql(ast)) == ast``
    (children of logic nodes are parenthesized to preserve structure;
    pinned by a hypothesis round-trip over generated ASTs)."""

    def lit(v) -> str:
        if isinstance(v, dt.datetime):
            return v.isoformat()
        if isinstance(v, float):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    if isinstance(node, And):
        return " AND ".join(f"({to_cql(c)})" for c in node.children)
    if isinstance(node, Or):
        return " OR ".join(f"({to_cql(c)})" for c in node.children)
    if isinstance(node, Not):
        return f"NOT ({to_cql(node.child)})"
    if isinstance(node, Include):
        return "INCLUDE"
    if isinstance(node, Exclude):
        return "EXCLUDE"
    if isinstance(node, Cmp):
        return f"{node.attr} {node.op} {lit(node.value)}"
    if isinstance(node, Between):
        neg = "NOT " if node.negate else ""
        return f"{node.attr} {neg}BETWEEN {lit(node.lo)} AND {lit(node.hi)}"
    if isinstance(node, In):
        neg = "NOT " if node.negate else ""
        return f"{node.attr} {neg}IN ({', '.join(lit(v) for v in node.values)})"
    if isinstance(node, Like):
        op = "ILIKE" if node.nocase else "LIKE"
        neg = "NOT " if node.negate else ""
        return f"{node.attr} {neg}{op} {lit(node.pattern)}"
    if isinstance(node, IsNull):
        return f"{node.attr} IS {'NOT ' if node.negate else ''}NULL"
    if isinstance(node, BBox):
        return (
            f"BBOX({node.attr}, {node.minx!r}, {node.miny!r}, "
            f"{node.maxx!r}, {node.maxy!r})"
        )
    if isinstance(node, Spatial):
        return f"{node.kind.upper()}({node.attr}, {node.wkt})"
    if isinstance(node, DWithin):
        return f"DWITHIN({node.attr}, {node.wkt}, {node.dist!r}, {node.units})"
    if isinstance(node, During):
        return f"{node.attr} DURING {node.t0.isoformat()}/{node.t1.isoformat()}"
    if isinstance(node, TCmp):
        return f"{node.attr} {node.kind.upper()} {node.t.isoformat()}"
    raise TypeError(f"cannot serialize {node!r}")


# ------------------------------------------------------------- compilation


@dataclass(frozen=True)
class CqlBinding:
    """How CQL attribute names map onto the table's columns.

    Point binding (default): geometry attributes bind to ``(lon, lat)``
    columns — the engine's indexed point tables; spatial predicates are
    pure Catalyst.

    Areal binding (``wkt_col`` set): geometry attributes bind to a WKT
    geometry column (the docs/tracks tables' real feature geometries, the
    reference's GeoTools feature case); spatial predicates run the exact
    per-kind Arrow-batched refines from ``geometry/predicates.py``
    (`SpatialQueryFilter.java:182-228` accept semantics).  DWITHIN stays
    point-binding-only (geometry-to-geometry distance is not modeled).
    """

    lon: str = "lon"
    lat: str = "lat"
    geom_attrs: frozenset = frozenset({"geom", "geometry", "the_geom"})
    wkt_col: str | None = None


def to_column(node, binding: CqlBinding = CqlBinding()) -> Column:
    """AST -> pure-Catalyst fine filter (the ``CQLQueryFilter`` analog)."""
    return _compile(node, binding)


def _compile(node, b: CqlBinding) -> Column:
    if isinstance(node, And):
        out = _compile(node.children[0], b)
        for c in node.children[1:]:
            out = out & _compile(c, b)
        return out
    if isinstance(node, Or):
        out = _compile(node.children[0], b)
        for c in node.children[1:]:
            out = out | _compile(c, b)
        return out
    if isinstance(node, Not):
        return ~_compile(node.child, b)
    if isinstance(node, Include):
        return F.lit(True)
    if isinstance(node, Exclude):
        return F.lit(False)
    if isinstance(node, Cmp):
        col, lit = F.col(node.attr), _cmp_lit(node.value)
        return {
            "=": col == lit,
            "<>": col != lit,
            "<": col < lit,
            "<=": col <= lit,
            ">": col > lit,
            ">=": col >= lit,
        }[node.op]
    if isinstance(node, Between):
        out = F.col(node.attr).between(_cmp_lit(node.lo), _cmp_lit(node.hi))
        return ~out if node.negate else out
    if isinstance(node, In):
        out = F.col(node.attr).isin(*[_cmp_lit(v) for v in node.values])
        return ~out if node.negate else out
    if isinstance(node, Like):
        pat = node.pattern
        out = (
            F.upper(F.col(node.attr)).like(pat.upper())
            if node.nocase
            else F.col(node.attr).like(pat)
        )
        return ~out if node.negate else out
    if isinstance(node, IsNull):
        col = F.col(node.attr)
        return col.isNotNull() if node.negate else col.isNull()
    if isinstance(node, BBox):
        _require_geom(node.attr, b)
        if b.wkt_col is not None:
            from geowave_spark.extract import refine_intersects_box_udf

            return refine_intersects_box_udf(node.minx, node.miny, node.maxx, node.maxy)(
                F.col(b.wkt_col)
            )
        lon, lat = F.col(b.lon), F.col(b.lat)
        return (
            (lon >= node.minx)
            & (lon <= node.maxx)
            & (lat >= node.miny)
            & (lat <= node.maxy)
        )
    if isinstance(node, Spatial):
        _require_geom(node.attr, b)
        if b.wkt_col is not None:
            return _spatial_wkt_column(node, b)
        return _spatial_column(node, b)
    if isinstance(node, DWithin):
        _require_geom(node.attr, b)
        if b.wkt_col is not None:
            raise ValueError(
                "CQL: DWITHIN is supported for point bindings only "
                "(geometry-to-geometry distance is not modeled)"
            )
        from geowave_spark.functions.distance import euclidean_deg_sq, haversine_km
        from geowave_spark.geometry.wkt import geom_centroid, parse_wkt

        cx, cy = geom_centroid(parse_wkt(node.wkt))
        lon, lat = F.col(b.lon), F.col(b.lat)
        if node.units == "degrees":
            return euclidean_deg_sq(lon, lat, F.lit(cx), F.lit(cy)) <= node.dist**2
        km = node.dist / 1000.0 if node.units == "meters" else node.dist
        return haversine_km(lon, lat, F.lit(cx), F.lit(cy)) <= km
    if isinstance(node, During):
        col = F.col(node.attr)
        return (col > F.lit(node.t0)) & (col < F.lit(node.t1))
    if isinstance(node, TCmp):
        col = F.col(node.attr)
        if node.kind == "before":
            return col < F.lit(node.t)
        if node.kind == "after":
            return col > F.lit(node.t)
        return col == F.lit(node.t)
    raise TypeError(f"CQL: cannot compile node {node!r}")


def _cmp_lit(v) -> Column:
    return F.lit(v)


def _require_geom(attr: str, b: CqlBinding) -> None:
    if attr not in b.geom_attrs:
        raise ValueError(
            f"CQL: {attr!r} is not a bound geometry attribute "
            f"(bound: {sorted(b.geom_attrs)})"
        )


def _spatial_wkt_column(node: Spatial, b: CqlBinding) -> Column:
    """Areal-binding spatial predicate: exact per-kind Arrow-batched refine
    of every data geometry against the query literal
    (`geometry/predicates.py` dispatch, `SpatialQueryFilter.java:182-228`)."""
    from pyspark.sql.types import BooleanType

    query_wkt, kind = node.wkt, node.kind

    @F.pandas_udf(BooleanType())
    def _refine(wkt: pd.Series) -> pd.Series:
        import numpy as np

        from geowave_spark.geometry.predicates import (
            PreparedGeometry,
            geom_intersects_prepared,
            geom_within_prepared,
        )
        from geowave_spark.geometry.wkt import parse_wkt

        qg = parse_wkt(query_wkt)
        if qg[0] == "point" and kind != "contains":
            # intersects/disjoint with a point literal reduce to the
            # data-contains-point test; WITHIN a point only fits a point
            qx, qy = float(qg[1][0]), float(qg[1][1])
            out = []
            for w in wkt:
                if w is None:
                    out.append(False)
                    continue
                g = parse_wkt(w)
                if kind == "within":
                    out.append(g[0] == "point" and g[1][0] == qx and g[1][1] == qy)
                elif g[0] in ("polygon", "multipolygon"):
                    out.append(
                        bool(
                            PreparedGeometry(g).contains_points(
                                np.array([qx]), np.array([qy])
                            )[0]
                        )
                    )
                elif g[0] == "point":
                    out.append(g[1][0] == qx and g[1][1] == qy)
                else:
                    # point-on-linestring is measure-zero; treated as miss
                    out.append(False)
            vals = pd.Series(out)
            return ~vals if kind == "disjoint" else vals
        if kind == "contains":
            # data geometry CONTAINS the query POINT literal
            if qg[0] != "point":
                raise ValueError("CQL: CONTAINS needs a POINT literal")
            qx, qy = float(qg[1][0]), float(qg[1][1])
            out = []
            for w in wkt:
                if w is None:
                    out.append(False)
                    continue
                g = parse_wkt(w)
                if g[0] in ("polygon", "multipolygon"):
                    out.append(
                        bool(
                            PreparedGeometry(g).contains_points(
                                np.array([qx]), np.array([qy])
                            )[0]
                        )
                    )
                elif g[0] == "point":
                    out.append(g[1][0] == qx and g[1][1] == qy)
                else:
                    out.append(False)  # a line has no interior to contain
            return pd.Series(out)
        prepared = PreparedGeometry(query_wkt)
        fn = geom_within_prepared if kind == "within" else geom_intersects_prepared
        vals = pd.Series([bool(w is not None and fn(w, prepared)) for w in wkt])
        return ~vals if kind == "disjoint" else vals

    return _refine(F.col(b.wkt_col))


def _spatial_column(node: Spatial, b: CqlBinding) -> Column:
    from geowave_spark.geometry.pip_expr import pip_point_expr
    from geowave_spark.geometry.wkt import parse_wkt

    lon, lat = F.col(b.lon), F.col(b.lat)
    kind, data = parse_wkt(node.wkt)
    if node.kind == "contains":
        # point data: attr CONTAINS g only when g is a point at the same spot
        if kind != "point":
            raise ValueError("CQL: CONTAINS against point data needs a POINT literal")
        x, y = float(data[0]), float(data[1])
        return (lon == x) & (lat == y)
    if kind == "point":
        x, y = float(data[0]), float(data[1])
        eq = (lon == x) & (lat == y)
        return ~eq if node.kind == "disjoint" else eq
    # polygon literal against point rows: intersects == within == PIP
    pip = pip_point_expr(node.wkt, lon, lat)
    return ~pip if node.kind == "disjoint" else pip


# --------------------------------------------------------- constraint pull

#: the visitor's "infinity" — no constraint extractable from this subtree
UNBOUNDED = None


def extract_bbox(node) -> tuple[float, float, float, float] | None:
    """``ExtractGeometryFilterVisitor`` over the AST: returns the envelope
    the index scan may prune to, or ``None`` (infinity) when the filter
    carries no spatial bound.  AND intersects, OR unions, NOT and
    non-spatial predicates are infinity — always over-inclusive; the fine
    filter restores exactness."""
    if isinstance(node, BBox):
        return (node.minx, node.miny, node.maxx, node.maxy)
    if isinstance(node, Spatial):
        if node.kind == "disjoint":
            return UNBOUNDED  # complement of a bounded region is unbounded
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt

        return geom_bbox(parse_wkt(node.wkt))
    if isinstance(node, DWithin):
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt

        minx, miny, maxx, maxy = geom_bbox(parse_wkt(node.wkt))
        if node.units == "degrees":
            pad_x = pad_y = node.dist
        else:
            km = node.dist / 1000.0 if node.units == "meters" else node.dist
            import math

            pad_y = km / 111.195
            # widen by the worst-case (highest-latitude) lon shrink factor
            lat_max = min(max(abs(miny), abs(maxy)) + pad_y, 89.0)
            pad_x = km / (111.195 * math.cos(math.radians(lat_max)))
        return (minx - pad_x, miny - pad_y, maxx + pad_x, maxy + pad_y)
    if isinstance(node, And):
        out = UNBOUNDED
        for c in node.children:
            bb = extract_bbox(c)
            if bb is None:
                continue
            if out is None:
                out = bb
            else:
                out = (
                    max(out[0], bb[0]),
                    max(out[1], bb[1]),
                    min(out[2], bb[2]),
                    min(out[3], bb[3]),
                )
        return out
    if isinstance(node, Or):
        boxes = [extract_bbox(c) for c in node.children]
        if any(bb is None for bb in boxes):
            return UNBOUNDED
        return (
            min(bb[0] for bb in boxes),
            min(bb[1] for bb in boxes),
            max(bb[2] for bb in boxes),
            max(bb[3] for bb in boxes),
        )
    return UNBOUNDED  # Not / comparisons / temporal / Include / ...


def extract_time_range(node, ts_attrs: frozenset | set | None = None):
    """``ExtractTimeFilterVisitor`` over the AST: the closed datetime hull
    ``(t0, t1)`` the index scan may prune to, or ``None`` when either side
    is unbounded.  Same AND/OR/NOT lattice as the geometry extraction."""

    def rng(n):
        if isinstance(n, During):
            if ts_attrs is not None and n.attr not in ts_attrs:
                return None
            return (n.t0, n.t1)
        if isinstance(n, TCmp):
            if ts_attrs is not None and n.attr not in ts_attrs:
                return None
            if n.kind == "before":
                return (dt.datetime.min, n.t)
            if n.kind == "after":
                return (n.t, dt.datetime.max)
            return (n.t, n.t)
        if isinstance(n, Cmp) and isinstance(n.value, dt.datetime):
            if ts_attrs is not None and n.attr not in ts_attrs:
                return None
            if n.op in ("<", "<="):
                return (dt.datetime.min, n.value)
            if n.op in (">", ">="):
                return (n.value, dt.datetime.max)
            if n.op == "=":
                return (n.value, n.value)
            return None
        if isinstance(n, Between) and isinstance(n.lo, dt.datetime) and not n.negate:
            if ts_attrs is not None and n.attr not in ts_attrs:
                return None
            return (n.lo, n.hi)
        if isinstance(n, And):
            out = None
            for c in n.children:
                r = rng(c)
                if r is None:
                    continue
                out = r if out is None else (max(out[0], r[0]), min(out[1], r[1]))
            return out
        if isinstance(n, Or):
            rs = [rng(c) for c in n.children]
            if any(r is None for r in rs):
                return None
            return (min(r[0] for r in rs), max(r[1] for r in rs))
        return None

    out = rng(node)
    if out is None or out[0] == dt.datetime.min or out[1] == dt.datetime.max:
        return None  # a half-open range can't drive the ranged 3D layout
    return out
