"""Marching-squares iso-contour extraction over a gridded value surface.

The classic raster→vector operator (Lorensen & Cline's marching cubes,
reduced to 2D; the contouring pass every GIS raster stack ships): given a
cell grid z(xb, yb) and an iso level θ, each 2x2 corner block emits the
line segments where the θ-level crosses, with endpoints linearly
interpolated along the crossed edges.  The reference's raster analytics
stop at KDE tiles / resampling (`analytics/mapreduce/.../kde/`,
`adapter/raster/.../RasterTileResizeSpark*`); contouring is the natural
next step a raster user expects, applied here to the same density surface
the hotspot/terrain family uses (`operators/hotspot.py cell_counts`) —
any z-valued cell grid works.

Spark-first shape (survives a 10^12-cell grid): corner assembly is a
SCATTER, not a gather — each occupied cell explodes to the 4 blocks it
corners (tagged c00/c10/c01/c11) and one groupBy(block) pivots the four
corner values; absent corners are 0, the natural padding for a count
surface.  One corpus scan, one shuffle on uniform block keys, then the
16-case lookup and edge interpolation run as pure Catalyst expressions.
No windows, no Python.

Determinism: θ is a half-integer (never equals an integer count), so a
referenced edge always has distinct corner values and the interpolation
denominator is never 0; endpoints are floor-quantized to 1e-6 cell units
and each segment's endpoints are sorted on the quantized pair, so
orientation conventions cancel cross-engine.  The saddle cases (5, 10)
disambiguate on the block's center mean — above θ connects the diagonal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "marching_squares",
    "marching_squares_sql",
    "contour_polylines",
    "contour_polylines_sql",
]

_Q = 1_000_000

# vertex packing for polyline assembly: the shared guarded convention in
# operators/_packing.py — injective for |coord| < 2^30 (endpoints are in
# cell units x1e6, so grids coarser than ~0.34 deg; finer grids REFUSE at
# runtime instead of silently merging components)

# case index = 1*(z00>θ) + 2*(z10>θ) + 4*(z11>θ) + 8*(z01>θ).
# Edges: B between c00-c10, R between c10-c11, T between c01-c11,
# L between c00-c01.  Saddles (5, 10) split on the center mean.
_CASE_SEGS: dict[int, list[tuple[str, str]]] = {
    0: [],
    1: [("L", "B")],
    2: [("B", "R")],
    3: [("L", "R")],
    4: [("R", "T")],
    6: [("B", "T")],
    7: [("L", "T")],
    8: [("L", "T")],
    9: [("B", "T")],
    11: [("R", "T")],
    12: [("L", "R")],
    13: [("B", "R")],
    14: [("L", "B")],
    15: [],
}
_SADDLE = {
    # (case, center_above) -> segments
    (5, True): [("B", "R"), ("L", "T")],  # diagonal c00-c11 connected
    (5, False): [("L", "B"), ("R", "T")],
    (10, True): [("L", "B"), ("R", "T")],  # diagonal c10-c01 connected
    (10, False): [("B", "R"), ("L", "T")],
}


def marching_squares(grid: DataFrame, theta: float = 2.5) -> DataFrame:
    """Contour the (xb, yb, x) cell grid at level ``theta``.

    Returns (xb, yb, case_idx, seg_no, ax_q, ay_q, bx_q, by_q): one row
    per emitted segment, endpoints in cell units quantized x1e6, endpoint
    pair sorted so orientation is canonical.
    """
    th = float(theta)
    # scatter: cell (x, y, z) is corner c00 of block (x, y), c10 of
    # (x-1, y), c01 of (x, y-1), c11 of (x-1, y-1)
    corners = grid.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("xb").alias("bx"),
                    F.col("yb").alias("by"),
                    F.lit(0).alias("tag"),
                    F.col("x").alias("z"),
                ),
                F.struct(
                    (F.col("xb") - 1).alias("bx"),
                    F.col("yb").alias("by"),
                    F.lit(1).alias("tag"),
                    F.col("x").alias("z"),
                ),
                F.struct(
                    F.col("xb").alias("bx"),
                    (F.col("yb") - 1).alias("by"),
                    F.lit(2).alias("tag"),
                    F.col("x").alias("z"),
                ),
                F.struct(
                    (F.col("xb") - 1).alias("bx"),
                    (F.col("yb") - 1).alias("by"),
                    F.lit(3).alias("tag"),
                    F.col("x").alias("z"),
                ),
            )
        ).alias("c")
    ).select("c.bx", "c.by", "c.tag", "c.z")
    blocks = corners.groupBy("bx", "by").agg(
        F.sum(F.when(F.col("tag") == 0, F.col("z")).otherwise(0)).alias("z00"),
        F.sum(F.when(F.col("tag") == 1, F.col("z")).otherwise(0)).alias("z10"),
        F.sum(F.when(F.col("tag") == 2, F.col("z")).otherwise(0)).alias("z01"),
        F.sum(F.when(F.col("tag") == 3, F.col("z")).otherwise(0)).alias("z11"),
    )

    z00, z10, z01, z11 = (F.col(c).cast("double") for c in ("z00", "z10", "z01", "z11"))
    idx = (
        F.when(z00 > th, 1).otherwise(0)
        + F.when(z10 > th, 2).otherwise(0)
        + F.when(z11 > th, 4).otherwise(0)
        + F.when(z01 > th, 8).otherwise(0)
    )
    center_above = (z00 + z10 + z01 + z11) / F.lit(4.0) > F.lit(th)

    bx = F.col("bx").cast("double")
    by = F.col("by").cast("double")
    # hoist the 4 interpolated edge points into quantized columns ONCE —
    # the 16-branch case tree below only references them, keeping the
    # codegen tree small.  try_divide: an un-crossed edge's denominator
    # may be 0 (ANSI mode would raise) -> null, and no case branch ever
    # reads a null edge (θ is a half-integer, so a crossed edge always
    # has distinct integer corner values).
    edge_cols = {
        "B": ((bx + F.try_divide(F.lit(th) - z00, z10 - z00)), by),
        "R": ((bx + F.lit(1.0)), (by + F.try_divide(F.lit(th) - z10, z11 - z10))),
        "T": ((bx + F.try_divide(F.lit(th) - z01, z11 - z01)), (by + F.lit(1.0))),
        "L": (bx, (by + F.try_divide(F.lit(th) - z00, z01 - z00))),
    }
    for name, (ex, ey) in edge_cols.items():
        blocks = blocks.withColumn(
            f"ex_{name}", F.floor(ex * _Q).cast("long")
        ).withColumn(f"ey_{name}", F.floor(ey * _Q).cast("long"))

    # the case table ships as a LITERAL lookup (32 entries: cases 0-15,
    # +16 for the center-above saddle variant) of edge-code pairs
    # (0=B 1=R 2=T 3=L) instead of a 16-branch when-chain of struct
    # arrays — the chain's generated code exceeded Janino's 64KB method
    # limit and dropped the whole stage to interpreted mode (measured
    # ~10x slower); the lookup + a 4-branch edge resolve stays tiny
    edge_code = {"B": 0, "R": 1, "T": 2, "L": 3}

    def seg_entry(a: str, b: str):
        return F.struct(
            F.lit(edge_code[a]).alias("ea"), F.lit(edge_code[b]).alias("eb")
        )

    def case_entry(pairs):
        if not pairs:
            return F.array().cast("array<struct<ea:int,eb:int>>")
        return F.array(*[seg_entry(a, b) for a, b in pairs])

    table = F.array(
        *[
            case_entry(
                _SADDLE[(case, above)] if case in (5, 10) else _CASE_SEGS[case]
            )
            for above in (False, True)
            for case in range(16)
        ]
    )
    lookup = idx + F.when(center_above, 16).otherwise(0) + 1

    def resolve(which, edge):
        out = None
        for name, code in edge_code.items():
            c = F.col(f"e{which}_{name}")
            out = F.when(edge == code, c) if out is None else out.when(edge == code, c)
        return out

    exploded = (
        blocks.withColumn("case_idx", idx)
        .withColumn("segs", F.element_at(table, lookup.cast("int")))
        .select(
            F.col("bx").alias("xb"),
            F.col("by").alias("yb"),
            "case_idx",
            *[F.col(c) for c in blocks.columns if c.startswith(("ex_", "ey_"))],
            F.posexplode("segs").alias("seg_no", "s"),
        )
        .withColumn("_ax", resolve("x", F.col("s.ea")))
        .withColumn("_ay", resolve("y", F.col("s.ea")))
        .withColumn("_bx", resolve("x", F.col("s.eb")))
        .withColumn("_by", resolve("y", F.col("s.eb")))
    )
    swap = (F.col("_ax") > F.col("_bx")) | (
        (F.col("_ax") == F.col("_bx")) & (F.col("_ay") > F.col("_by"))
    )
    return exploded.select(
        "xb",
        "yb",
        "case_idx",
        "seg_no",
        F.when(swap, F.col("_bx")).otherwise(F.col("_ax")).alias("ax_q"),
        F.when(swap, F.col("_by")).otherwise(F.col("_ay")).alias("ay_q"),
        F.when(swap, F.col("_ax")).otherwise(F.col("_bx")).alias("bx_q"),
        F.when(swap, F.col("_ay")).otherwise(F.col("_by")).alias("by_q"),
    )


def marching_squares_sql(points_path: str, cell_deg: float, theta: float = 2.5) -> str:
    """DuckDB twin: GATHER formulation — candidate blocks from the 4
    corner offsets of each occupied cell, four LEFT JOINs assemble the
    corners (an independent plan; the Spark side scatters + pivots), same
    half-integer θ, same interpolation arithmetic, same canonical endpoint
    sort."""
    th = float(theta)
    c = float(cell_deg)

    def edge_sql(which: str) -> tuple[str, str]:
        if which == "B":
            return (f"bx + ({th!r} - z00) / (z10 - z00)", "CAST(by_ AS DOUBLE)")
        if which == "R":
            return ("bx + 1.0", f"by_ + ({th!r} - z10) / (z11 - z10)")
        if which == "T":
            return (f"bx + ({th!r} - z01) / (z11 - z01)", "by_ + 1.0")
        return ("CAST(bx AS DOUBLE)", f"by_ + ({th!r} - z00) / (z01 - z00)")

    def seg_row(a: str, b: str, n: int) -> str:
        ax, ay = edge_sql(a)
        bx, by = edge_sql(b)
        return (
            f"struct_pack(seg_no := {n}, "
            f"ax := CAST(floor(({ax}) * 1e6) AS BIGINT), "
            f"ay := CAST(floor(({ay}) * 1e6) AS BIGINT), "
            f"bx := CAST(floor(({bx}) * 1e6) AS BIGINT), "
            f"by := CAST(floor(({by}) * 1e6) AS BIGINT))"
        )

    def case_list(pairs) -> str:
        if not pairs:
            return "[]"
        return "[" + ", ".join(seg_row(a, b, i) for i, (a, b) in enumerate(pairs)) + "]"

    whens = []
    for case in range(16):
        if case in (5, 10):
            whens.append(
                f"WHEN case_idx = {case} THEN CASE WHEN center_above "
                f"THEN {case_list(_SADDLE[(case, True)])} "
                f"ELSE {case_list(_SADDLE[(case, False)])} END"
            )
        else:
            whens.append(f"WHEN case_idx = {case} THEN {case_list(_CASE_SEGS[case])}")
    seg_case = "CASE " + " ".join(whens) + " ELSE [] END"

    return f"""
        WITH counts AS (
          SELECT CAST(floor(lon / {c!r}) AS BIGINT) AS xb,
                 CAST(floor(lat / {c!r}) AS BIGINT) AS yb,
                 COUNT(*) AS z
          FROM '{points_path}' GROUP BY 1, 2),
        blocks AS (
          SELECT DISTINCT xb + o.dx AS bx, yb + o.dy AS by_
          FROM counts, (VALUES (0, 0), (-1, 0), (0, -1), (-1, -1)) o(dx, dy)),
        corners AS (
          SELECT b.bx, b.by_,
                 CAST(COALESCE(c00.z, 0) AS DOUBLE) AS z00,
                 CAST(COALESCE(c10.z, 0) AS DOUBLE) AS z10,
                 CAST(COALESCE(c01.z, 0) AS DOUBLE) AS z01,
                 CAST(COALESCE(c11.z, 0) AS DOUBLE) AS z11
          FROM blocks b
          LEFT JOIN counts c00 ON c00.xb = b.bx     AND c00.yb = b.by_
          LEFT JOIN counts c10 ON c10.xb = b.bx + 1 AND c10.yb = b.by_
          LEFT JOIN counts c01 ON c01.xb = b.bx     AND c01.yb = b.by_ + 1
          LEFT JOIN counts c11 ON c11.xb = b.bx + 1 AND c11.yb = b.by_ + 1),
        cased AS (
          SELECT *,
                 (CASE WHEN z00 > {th!r} THEN 1 ELSE 0 END
                + CASE WHEN z10 > {th!r} THEN 2 ELSE 0 END
                + CASE WHEN z11 > {th!r} THEN 4 ELSE 0 END
                + CASE WHEN z01 > {th!r} THEN 8 ELSE 0 END) AS case_idx,
                 (z00 + z10 + z01 + z11) / 4.0 > {th!r} AS center_above
          FROM corners),
        segged AS (
          SELECT bx, by_, case_idx, unnest({seg_case}) AS s FROM cased)
        SELECT bx AS xb, by_ AS yb, case_idx,
               s.seg_no AS seg_no,
               CASE WHEN s.ax > s.bx OR (s.ax = s.bx AND s.ay > s.by)
                    THEN s.bx ELSE s.ax END AS ax_q,
               CASE WHEN s.ax > s.bx OR (s.ax = s.bx AND s.ay > s.by)
                    THEN s.by ELSE s.ay END AS ay_q,
               CASE WHEN s.ax > s.bx OR (s.ax = s.bx AND s.ay > s.by)
                    THEN s.ax ELSE s.bx END AS bx_q,
               CASE WHEN s.ax > s.bx OR (s.ax = s.bx AND s.ay > s.by)
                    THEN s.ay ELSE s.by END AS by_q
        FROM segged
    """

def contour_polylines(segments: DataFrame, checkpointer=None) -> DataFrame:
    """Assemble marching-squares segments into iso-line components.

    ``segments`` is :func:`marching_squares` output (quantized endpoint
    columns).  Segments sharing an endpoint chain into one polyline:
    endpoints pack to bigint vertex ids, the segment list becomes an
    undirected edge list, and the dedup family's ``connected_components``
    labels each vertex with its component minimum — the same core that
    clusters dup pairs, applied to contour topology.  Up to 2^18 distinct
    segments finish in one bounded collect and a driver union-find; larger
    contour sets run the large-star/small-star rounds (O(log n) rounds, no
    collect_set).

    Returns (component, n_segments, n_vertices, length_micro, is_closed):
    component = min packed vertex id, length_micro = sum of per-segment
    floor(sqrt(dx^2+dy^2)) in micro cell units (IEEE sqrt is correctly
    rounded, so the per-segment integer is engine-exact and the sum
    order-independent), is_closed = 1 when n_vertices == n_segments (a
    loop; a path has one more vertex).  Marching squares never emits
    duplicate segments, which that test relies on.
    """
    from geowave_spark.operators.dedup import connected_components

    for c in ("ax_q", "ay_q", "bx_q", "by_q"):
        if c not in segments.columns:
            raise ValueError("segments must be marching_squares output")

    from geowave_spark.operators._packing import pack_xy

    def pack(x: str, y: str):
        return pack_xy(F.col(x), F.col(y))

    segs = segments.select(
        pack("ax_q", "ay_q").alias("va"),
        pack("bx_q", "by_q").alias("vb"),
        F.floor(
            F.sqrt(
                (F.col("ax_q") - F.col("bx_q")) * (F.col("ax_q") - F.col("bx_q"))
                + (F.col("ay_q") - F.col("by_q")) * (F.col("ay_q") - F.col("by_q"))
            )
        ).cast("long").alias("len_micro"),
    ).localCheckpoint()

    labels = connected_components(
        segs.select("va", "vb"), checkpointer=checkpointer
    )
    seg_lab = segs.join(
        labels.withColumnRenamed("u", "va").withColumnRenamed("label", "component"),
        "va",
    )
    per_comp = seg_lab.groupBy("component").agg(
        F.count("*").alias("n_segments"),
        F.sum("len_micro").alias("length_micro"),
    )
    verts = (
        segs.select(F.col("va").alias("u"))
        .union(segs.select(F.col("vb").alias("u")))
        .distinct()
        .join(labels, "u")
        .groupBy(F.col("label").alias("component"))
        .agg(F.count("*").alias("n_vertices"))
    )
    return (
        per_comp.join(verts, "component")
        .withColumn(
            "is_closed",
            F.when(F.col("n_vertices") == F.col("n_segments"), 1).otherwise(0),
        )
        .select("component", "n_segments", "n_vertices", "length_micro", "is_closed")
    )


def contour_polylines_sql(points_path: str, cell_deg: float, theta: float = 2.5) -> str:
    """DuckDB twin: the :func:`marching_squares_sql` gather plan feeds a
    WITH RECURSIVE transitive-closure min-label (independent of the
    star-rounds algorithm), same vertex packing and length quantization."""
    from geowave_spark.operators._packing import pack_xy_sql

    inner = marching_squares_sql(points_path, cell_deg, theta)
    return f"""
        WITH RECURSIVE segs AS (
          SELECT {pack_xy_sql("ax_q", "ay_q")} AS va,
                 {pack_xy_sql("bx_q", "by_q")} AS vb,
                 CAST(floor(sqrt((ax_q - bx_q) * (ax_q - bx_q)
                                + (ay_q - by_q) * (ay_q - by_q))) AS BIGINT)
                   AS len_micro
          FROM ({inner})),
        sym AS (
          SELECT va AS u, vb AS v FROM segs
          UNION SELECT vb, va FROM segs),
        reach(u, root) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM sym)
          UNION
          SELECT s.v, r.root FROM reach r JOIN sym s ON s.u = r.u),
        labels AS (
          SELECT u, MIN(root) AS component FROM reach GROUP BY u),
        per_comp AS (
          SELECT l.component, COUNT(*) AS n_segments,
                 SUM(s.len_micro) AS length_micro
          FROM segs s JOIN labels l ON l.u = s.va
          GROUP BY l.component),
        verts AS (
          SELECT l.component, COUNT(*) AS n_vertices
          FROM (SELECT DISTINCT u FROM sym) v JOIN labels l USING (u)
          GROUP BY l.component)
        SELECT p.component, p.n_segments, v.n_vertices, p.length_micro,
               CASE WHEN v.n_vertices = p.n_segments THEN 1 ELSE 0 END
                 AS is_closed
        FROM per_comp p JOIN verts v USING (component)
    """
