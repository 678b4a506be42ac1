"""Point-in-polygon as a pure Catalyst expression (zero Python in the hot
path).

Ray casting (odd-crossings) over polygon edges, in the division-free form
(ANSI-safe): an upward ray from (px, py) crosses edge (x1,y1)-(x2,y2) iff

    (y1 > py) != (y2 > py)   and
    sign((px-x1)*(y2-y1) - (x2-x1)*(py-y1)) == -sign(y2-y1)

Both forms ship as whole-stage-codegen arithmetic:

- :func:`pip_point_expr` — ONE literal geometry (range-query refine): the
  edge loop unrolls at plan-build time into a flat sum of CASE WHENs that
  Catalyst constant-folds, ~8-64 comparisons per row, no arrays at all.
- :func:`pip_edges_expr` — geometry carried per row as an
  ``array<struct<x1,y1,x2,y2>>`` column (join refine: the edges ride the
  broadcast build side): ``F.aggregate`` folds crossings in the JVM.

Replaces the Arrow-UDF refine for polygon/multipolygon vs point rows —
measured: the per-row Python round-trip (not the math) dominated the join at
high parallelism.  Fixtures guarantee no point sits exactly on an edge, so
boundary conventions cannot differ from the numpy path
(`geometry/predicates.PreparedGeometry`), which remains for line geometries
and as the property-test twin.

Reference parity: same accept semantics as SpatialQueryFilter OVERLAPS for
points (`/root/reference/core/geotime/.../SpatialQueryFilter.java:182-228`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geowave_spark.geometry.wkt import parse_wkt

EDGES_SCHEMA = "array<struct<x1:double,y1:double,x2:double,y2:double>>"


def edges_of(wkt: str) -> list[tuple[float, float, float, float]]:
    """All ring edges of a polygon/multipolygon (rings are closed in WKT)."""
    kind, data = parse_wkt(wkt)
    if kind == "polygon":
        rings = data
    elif kind == "multipolygon":
        rings = [r for poly in data for r in poly]
    else:
        raise ValueError(f"edges_of: not an areal geometry: {kind}")
    out = []
    for ring in rings:
        for i in range(len(ring) - 1):
            x1, y1 = float(ring[i][0]), float(ring[i][1])
            x2, y2 = float(ring[i + 1][0]), float(ring[i + 1][1])
            if y1 != y2 or x1 != x2:
                out.append((x1, y1, x2, y2))
    return out


def _crossing(px: Column, py: Column, x1, y1, x2, y2) -> Column:
    """1 when the upward ray from (px,py) crosses the edge, else 0."""
    straddles = (y1 > py) != (y2 > py)
    t = (px - x1) * (y2 - y1) - (x2 - x1) * (py - y1)
    hits = F.when(y2 > y1, t < 0).otherwise(t > 0)
    return F.when(straddles & hits, 1).otherwise(0)


def pip_point_expr(wkt: str, lon: Column, lat: Column) -> Column:
    """Literal-geometry PIP: unrolled crossing sum, odd => inside."""
    total = None
    for x1, y1, x2, y2 in edges_of(wkt):
        c = _crossing(lon, lat, F.lit(x1), F.lit(y1), F.lit(x2), F.lit(y2))
        total = c if total is None else total + c
    if total is None:
        return F.lit(False)
    return total % 2 == 1


def pip_edges_expr(edges: Column, lon: Column, lat: Column) -> Column:
    """Column-geometry PIP: fold crossings over the edge array (JVM).

    The result is wrapped in a CASE whose predicate references lon/lat
    directly (outside the lambda): Spark 4.1's ArrayAggregate omits
    lambda-captured outer attributes from `references`, so a bare HOF filter
    above a join gets pushed to the wrong side and dies with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.  The wrapper makes the probe-side
    dependency visible to the optimizer; (lon+lat) is never null for point
    rows, so semantics are unchanged."""
    total = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc + _crossing(lon, lat, e["x1"], e["y1"], e["x2"], e["y2"]),
    )
    return F.when((lon + lat).isNotNull(), total % 2 == 1).otherwise(F.lit(False))


def edges_rows(catalog: list[str]) -> list[list[dict]]:
    """Per-catalog-entry edge structs for createDataFrame."""
    return [
        [{"x1": x1, "y1": y1, "x2": x2, "y2": y2} for x1, y1, x2, y2 in edges_of(w)]
        for w in catalog
    ]
