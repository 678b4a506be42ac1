"""Raster regionization ("dissolve"): label connected components of
occupied cells in a gridded surface.

The region-group pass every raster stack ships (GDAL sieve/polygonize,
ArcGIS Region Group): occupied cells that touch merge into one region.
The reference's raster analytics stop at tiles/resampling; regionization
is what turns its KDE/density surfaces into discrete footprints (the
vector step after thresholding).

Spark-first shape: candidate edges come from ``neighbor_join`` — each
occupied cell is copied once per 4- or 8-neighborhood offset and one
equi-join on the uniform cell key finds occupied neighbors (cells <<
points, so this joins the CELL table, never the corpus) — and the dedup
family's ``connected_components`` labels them.  A cell graph is small
(thousands of edges at 0.5° cells), so it usually finishes in one bounded
collect and a driver union-find; past 2^18 edges the same call runs the
large-star/small-star rounds (O(log n) rounds).  Isolated cells (no
occupied neighbor) label themselves via a left join + coalesce.

Output per region: (region = min packed cell id, n_cells, n_points, and
the region bbox in cell coords) — everything integer, engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.neighborhood import RING, ROOK, neighbor_join

__all__ = ["region_label", "region_label_sql"]


def region_label(
    cells: DataFrame, connectivity: int = 4, checkpointer=None
) -> DataFrame:
    """Label connected components of the (xb, yb, x) occupied-cell grid.

    Returns (region, n_cells, n_points, min_xb, max_xb, min_yb, max_yb)
    with ``region`` the minimum packed cell id in the component."""
    from geowave_spark.operators.dedup import connected_components

    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    offsets = ROOK if connectivity == 4 else RING

    from geowave_spark.operators._packing import pack_xy

    packed = pack_xy(F.col("xb"), F.col("yb"))
    base = cells.select(
        "xb", "yb", F.col("x").alias("n_points"), packed.alias("v")
    ).localCheckpoint()

    edges = neighbor_join(
        base.select("xb", "yb", F.col("v").alias("u")),
        base.select("xb", "yb", "v"),
        ("xb", "yb"),
        offsets,
    ).select("u", "v")
    labels = connected_components(edges, checkpointer=checkpointer)
    labeled = base.join(
        labels.withColumnRenamed("u", "v"), "v", "left"
    ).withColumn("region", F.coalesce(F.col("label"), F.col("v")))
    return labeled.groupBy("region").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_points").alias("n_points"),
        F.min("xb").alias("min_xb"),
        F.max("xb").alias("max_xb"),
        F.min("yb").alias("min_yb"),
        F.max("yb").alias("max_yb"),
    )


def region_label_sql(points_table: str, cell_deg: float, connectivity: int = 4) -> str:
    """DuckDB twin over the raw point table: grid via the engine's floor
    bins (the `cell_counts` convention), then WITH RECURSIVE
    transitive-closure min-label over the same neighborhood — an
    independent components algorithm."""
    from geowave_spark.operators._packing import pack_xy_sql

    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    offsets = ROOK if connectivity == 4 else RING
    c = float(cell_deg)
    vals = ", ".join(f"({dx}, {dy})" for dx, dy in offsets)
    return f"""
        WITH RECURSIVE cells AS (
          SELECT CAST(floor(lon / {c!r}) AS BIGINT) AS xb,
                 CAST(floor(lat / {c!r}) AS BIGINT) AS yb,
                 COUNT(*) AS n_points
          FROM {points_table} GROUP BY 1, 2),
        keyed AS (
          SELECT xb, yb, n_points, {pack_xy_sql("xb", "yb")} AS v
          FROM cells),
        edges AS (
          SELECT a.v AS u, b.v
          FROM keyed a
          JOIN (VALUES {vals}) o(dx, dy) ON TRUE
          JOIN keyed b ON b.xb = a.xb + o.dx AND b.yb = a.yb + o.dy),
        reach(u, root) AS (
          SELECT v, v FROM keyed
          UNION
          SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.u),
        labels AS (
          SELECT u AS v, MIN(root) AS region FROM reach GROUP BY u)
        SELECT l.region, COUNT(*) AS n_cells, SUM(k.n_points) AS n_points,
               MIN(k.xb) AS min_xb, MAX(k.xb) AS max_xb,
               MIN(k.yb) AS min_yb, MAX(k.yb) AS max_yb
        FROM keyed k JOIN labels l USING (v)
        GROUP BY l.region
    """
