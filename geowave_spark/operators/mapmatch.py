"""Map-matching snap join: snap point pings to the nearest LINESTRING
segment within a radius.

The operator treats the tracks table as the road network (each consecutive
vertex pair is one directed segment) and snaps every point within
``radius_deg`` of some segment to its nearest one, reporting the segment
id, the projection parameter t in [0, 1] along the segment, the snapped
coordinate, and the squared planar-degree distance — the building block of
GPS map matching and of the reference's nearest-neighbor query family
(`analytics/api/.../NearestNeighbors`, and the cell-bucketed candidate
discipline of `core/index/sfc/tiered/TieredSFCIndexStrategy.java:162-195`).

Plan shape (the 100-TB contract):

* The PROBE side (pings, the 10^12-row side) is never exploded and never
  re-scanned: one narrow projection adds a single (cx, cy) grid key per
  ping.
* The BUILD side (the road network — bounded, ~10^8 segments for a planet)
  explodes each segment to the grid cells intersecting its bbox padded by
  the snap radius.  That cover is exact-complete: any point within
  ``radius_deg`` of the segment lies inside the padded bbox, so its cell is
  in the cover; candidate pairs are produced exactly once because a point
  has one cell and the cover lists distinct cells.
* One equi-join on the cell key (broadcast when the network fits, shuffle
  otherwise), an exact point-to-segment refine in pure Catalyst
  expressions, then a single groupBy-argmin on the ping id.  No Python
  anywhere; hot metro cells take the engine's standard
  ``with_hot_cell_salt`` treatment upstream if the network is skewed.

Distances are squared planar degrees (the engine's DBSCAN/Hausdorff
convention) FLOOR-quantized to 1e-9 deg^2 so the argmin ordering and
output values are bit-identical across IEEE engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geowave_spark.operators.trajectory import track_vertices

# cells a single segment may cover before the engine refuses: a segment
# whose padded bbox covers more cells than this is a degenerate geometry
# (or the cell size is misconfigured), not a workload to silently explode.
MAX_COVER_CELLS = 4096


def track_segments(
    tracks: DataFrame, wkt_col: str = "geom_wkt", fid_col: str = "fid"
) -> DataFrame:
    """LINESTRING WKT -> (fid, seg_idx, x1, y1, x2, y2), one row per
    consecutive vertex pair in vertex order."""
    v = track_vertices(tracks, wkt_col, fid_col)
    w = Window.partitionBy("fid").orderBy("idx")
    return (
        v.select(
            "fid",
            F.col("idx").alias("seg_idx"),
            F.col("x").alias("x1"),
            F.col("y").alias("y1"),
            F.lead("x").over(w).alias("x2"),
            F.lead("y").over(w).alias("y2"),
        )
        .filter(F.col("x2").isNotNull())
    )


def _seg_cells(segs: DataFrame, radius_deg: float, cell_deg: float) -> DataFrame:
    """Explode each segment to the distinct (cx, cy) grid cells whose
    extent intersects the segment bbox padded by the snap radius."""
    r = float(radius_deg)
    c = float(cell_deg)
    lo_x = F.floor((F.least("x1", "x2") - F.lit(r)) / F.lit(c)).cast("long")
    hi_x = F.floor((F.greatest("x1", "x2") + F.lit(r)) / F.lit(c)).cast("long")
    lo_y = F.floor((F.least("y1", "y2") - F.lit(r)) / F.lit(c)).cast("long")
    hi_y = F.floor((F.greatest("y1", "y2") + F.lit(r)) / F.lit(c)).cast("long")
    n_cells = (hi_x - lo_x + 1) * (hi_y - lo_y + 1)
    # the guard is folded INTO the sequence bound (not a dropped side
    # column Catalyst would prune away), so a degenerate geometry fails
    # fast instead of exploding
    hi_x_g = F.when(
        n_cells > F.lit(MAX_COVER_CELLS),
        F.raise_error(
            F.concat(
                F.lit(
                    f"map-match cover explosion: a segment spans more than "
                    f"{MAX_COVER_CELLS} cells at cell_deg={c}; "
                    f"increase cell_deg or split the geometry (seg "
                ),
                F.col("fid"),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(hi_x)
    return segs.withColumn("cx", F.explode(F.sequence(lo_x, hi_x_g))).withColumn(
        "cy", F.explode(F.sequence(lo_y, hi_y))
    )


def snap_join(
    points: DataFrame,
    tracks: DataFrame,
    radius_deg: float = 0.1,
    cell_deg: float = 0.25,
    broadcast_network: bool = True,
    id_col: str = "fid",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Snap each point within ``radius_deg`` of the track network to its
    nearest segment.

    Returns (pt_fid, seg_fid, seg_idx, d2_q, t_q, snap_x_q, snap_y_q):
    squared distance, projection parameter and snapped coordinates
    FLOOR-quantized (1e-9 deg^2 / 1e-6) for cross-engine hash stability.
    Ties break on (d2_q, seg_fid, seg_idx) — deterministic everywhere.
    """
    r2 = float(radius_deg) * float(radius_deg)
    c = float(cell_deg)
    segs = _seg_cells(track_segments(tracks), radius_deg, c)
    if broadcast_network:
        segs = F.broadcast(segs)
    pts = points.select(
        F.col(id_col).alias("pt_fid"),
        F.col(lon_col).alias("px"),
        F.col(lat_col).alias("py"),
        F.floor(F.col(lon_col) / F.lit(c)).cast("long").alias("cx"),
        F.floor(F.col(lat_col) / F.lit(c)).cast("long").alias("cy"),
    )
    j = pts.join(segs.withColumnRenamed("fid", "seg_fid"), ["cx", "cy"])
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t_raw = ((F.col("px") - F.col("x1")) * dx + (F.col("py") - F.col("y1")) * dy) / len2
    t = F.when(len2 == F.lit(0.0), F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    snap_x = F.col("x1") + t * dx
    snap_y = F.col("y1") + t * dy
    d2 = (F.col("px") - snap_x) * (F.col("px") - snap_x) + (
        F.col("py") - snap_y
    ) * (F.col("py") - snap_y)
    cand = (
        j.withColumn("t", t)
        .withColumn("sx", snap_x)
        .withColumn("sy", snap_y)
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(r2))
        .select(
            "pt_fid",
            F.floor(F.col("d2") * F.lit(1e9)).cast("long").alias("d2_q"),
            "seg_fid",
            "seg_idx",
            F.floor(F.col("t") * F.lit(1e6)).cast("long").alias("t_q"),
            F.floor(F.col("sx") * F.lit(1e6)).cast("long").alias("snap_x_q"),
            F.floor(F.col("sy") * F.lit(1e6)).cast("long").alias("snap_y_q"),
        )
    )
    best = cand.groupBy("pt_fid").agg(
        F.min(
            F.struct("d2_q", "seg_fid", "seg_idx", "t_q", "snap_x_q", "snap_y_q")
        ).alias("b")
    )
    return best.select(
        "pt_fid",
        F.col("b.seg_fid").alias("seg_fid"),
        F.col("b.seg_idx").alias("seg_idx"),
        F.col("b.d2_q").alias("d2_q"),
        F.col("b.t_q").alias("t_q"),
        F.col("b.snap_x_q").alias("snap_x_q"),
        F.col("b.snap_y_q").alias("snap_y_q"),
    )


_VERTS = (
    "list_transform(string_split(replace(replace(geom_wkt, "
    "'LINESTRING (', ''), ')', ''), ', '), "
    "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
    "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
)


def snap_join_sql(
    points_path: str, tracks_path: str, radius_deg: float = 0.1
) -> str:
    """DuckDB twin: brute-force point x segment with a bbox prefilter (a
    proven-necessary condition for d <= radius: the nearest point of the
    segment lies inside the bbox, so a point within radius lies inside the
    bbox padded by radius).  Same projection/clamp/distance arithmetic in
    the same operation order -> identical IEEE doubles -> identical floor
    quantization; same (d2_q, seg_fid, seg_idx) tie-break via row_number."""
    r = float(radius_deg)
    r2 = r * r
    return f"""
        WITH raw AS (
          SELECT fid, unnest({_VERTS}) AS vert,
                 generate_subscripts({_VERTS}, 1) AS idx1
          FROM '{tracks_path}'),
        flat AS (SELECT fid, idx1 - 1 AS idx, vert.x AS x, vert.y AS y FROM raw),
        seg AS (
          SELECT fid AS seg_fid, idx AS seg_idx, x AS x1, y AS y1,
                 lead(x) OVER (PARTITION BY fid ORDER BY idx) AS x2,
                 lead(y) OVER (PARTITION BY fid ORDER BY idx) AS y2
          FROM flat),
        seg2 AS (SELECT * FROM seg WHERE x2 IS NOT NULL),
        cand AS (
          SELECT p.fid AS pt_fid, s.seg_fid, s.seg_idx,
                 CASE WHEN (s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1) = 0.0
                      THEN 0.0
                      ELSE least(greatest(
                        ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
                          / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)),
                        0.0), 1.0)
                 END AS t,
                 p.lon AS px, p.lat AS py, s.x1, s.y1, s.x2, s.y2
          FROM '{points_path}' p
          JOIN seg2 s
            ON p.lon >= least(s.x1, s.x2) - {r!r} AND p.lon <= greatest(s.x1, s.x2) + {r!r}
           AND p.lat >= least(s.y1, s.y2) - {r!r} AND p.lat <= greatest(s.y1, s.y2) + {r!r}),
        scored AS (
          SELECT pt_fid, seg_fid, seg_idx, t,
                 x1 + t * (x2 - x1) AS sx, y1 + t * (y2 - y1) AS sy,
                 (px - (x1 + t * (x2 - x1))) * (px - (x1 + t * (x2 - x1)))
                   + (py - (y1 + t * (y2 - y1))) * (py - (y1 + t * (y2 - y1))) AS d2
          FROM cand),
        kept AS (
          SELECT pt_fid, seg_fid, seg_idx,
                 CAST(floor(d2 * 1e9) AS BIGINT) AS d2_q,
                 CAST(floor(t * 1e6) AS BIGINT) AS t_q,
                 CAST(floor(sx * 1e6) AS BIGINT) AS snap_x_q,
                 CAST(floor(sy * 1e6) AS BIGINT) AS snap_y_q
          FROM scored WHERE d2 <= {r2!r}),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY pt_fid ORDER BY d2_q, seg_fid, seg_idx) AS rn
          FROM kept)
        SELECT pt_fid, seg_fid, seg_idx, d2_q, t_q, snap_x_q, snap_y_q
        FROM ranked WHERE rn = 1
    """
