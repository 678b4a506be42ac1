"""Brute-force kNN oracle for the tests: broadcast nested loop (crossJoin)
plus a window top-k — the reference's AnalyticRecipes.findClosest /
aggregateByKey(topN) shape (J3).  The cell-bucketed joins in
``geowave_spark.operators.knn`` must return exactly its rows."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def knn_join_brute(
    queries: DataFrame, points: DataFrame, k: int, max_distance_deg: float
) -> DataFrame:
    """(qid, fid, dist_sq, rank) over (qid, qlon, qlat) queries and
    (fid, lon, lat) points, rank ordered by (dist_sq, fid)."""
    dx = F.col("lon") - F.col("qlon")
    dy = F.col("lat") - F.col("qlat")
    joined = (
        points.crossJoin(F.broadcast(queries))
        .withColumn("dist_sq", dx * dx + dy * dy)
        .filter(F.col("dist_sq") <= max_distance_deg * max_distance_deg)
    )
    w = Window.partitionBy("qid").orderBy("dist_sq", "fid")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "fid", "dist_sq", "rank")
    )
