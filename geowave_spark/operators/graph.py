"""Track-network graph construction + bounded-hop shortest paths.

GeoWave's analytics stop at clustering/kNN; the movement family here
(map-matching `operators/mapmatch.py`, OD flows, co-travel) produces
exactly the artifact a routing question needs — a network — and
single-source shortest path is the canonical iterative-distributed
algorithm over it.

**Graph construction** (`track_graph`): track vertices snap to a cell
grid (the map-generalization contraction every road-network derivation
from GPS traces uses — Biagioni & Eriksson 2012's map-inference stage),
consecutive snapped vertices become undirected edges weighted by the
micro-quantized cell-center distance, and parallel edges collapse to
their minimum weight.  Where tracks overlap, their cells merge, so the
corpus stitches into one network.

**SSSP** (`sssp_bounded`): bounded-H Bellman-Ford with a DELTA FRONTIER —
each round relaxes only edges out of vertices whose distance improved
last round (the Pregel/GraphX message discipline re-expressed as a
DataFrame join), so a settled subgraph costs nothing.  Every round is
one equi-join on vertex keys + one min-agg, both uniform; each round's
state passes the round barrier so the iterative plan never grows, and H bounds
the rounds deterministically (matching the oracle's unrolled levels).
Weights are non-negative integers, so min-relaxation is monotone and
the H-hop result is exactly min-plus matrix power H applied to the
source row — engine-independent by construction.

Oracle: the relaxation unrolled into H generated CTE levels (dist_h =
min(dist_{h-1}, min over edges of dist_{h-1} + w)) — no recursion, no
frontier, an independent formulation of the same fixpoint prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.plans.lineage import LOCAL_ROUNDS

__all__ = ["track_graph", "sssp_bounded", "track_graph_sql", "sssp_bounded_sql"]

_M = 1_000_000


def track_graph(tracks: DataFrame, snap_deg: float = 0.05) -> DataFrame:
    """Contract track polylines into an undirected weighted graph:
    (u, v, w_micro) with u < v packed snapped-cell ids, w_micro the
    micro-degree distance between cell centers, parallel edges collapsed
    to min weight, self-loops dropped."""
    from geowave_spark.operators.mapmatch import track_segments

    c = float(snap_deg)
    if c <= 0:
        raise ValueError("snap_deg must be positive")

    segs = track_segments(tracks)
    cx1 = F.floor(F.col("x1") / c).cast("long")
    cy1 = F.floor(F.col("y1") / c).cast("long")
    cx2 = F.floor(F.col("x2") / c).cast("long")
    cy2 = F.floor(F.col("y2") / c).cast("long")
    from geowave_spark.operators._packing import pack_xy

    p1 = pack_xy(cx1, cy1)
    p2 = pack_xy(cx2, cy2)
    dx = (cx1 - cx2).cast("double")
    dy = (cy1 - cy2).cast("double")
    w = F.floor(F.sqrt(dx * dx + dy * dy) * c * _M).cast("long")
    return (
        segs.select(
            F.least(p1, p2).alias("u"),
            F.greatest(p1, p2).alias("v"),
            w.alias("w_micro"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w_micro").alias("w_micro"))
    )


def _hub_source(sym: DataFrame) -> int | None:
    """Deterministic default source: highest degree, ties to smallest id."""
    row = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("u"))
        .first()
    )
    return None if row is None else int(row["u"])


def sssp_bounded(
    edges: DataFrame,
    source: int | None = None,
    hops: int = 6,
    checkpointer=None,
) -> DataFrame:
    """H-hop shortest distances from ``source`` (default: the highest-
    degree vertex, ties to the smallest id — a deterministic hub) over
    undirected (u, v, w_micro) edges.  Returns (vertex, dist_micro) for
    every vertex reachable within ``hops``.

    Every relaxation round goes through one barrier: ``checkpointer`` (a
    ``plans.lineage.RoundCheckpointer``: the symmetric edge table lands
    once as static state, (dist, frontier) land per round, and a killed run
    re-invoked with the same config resumes from the last committed hop)
    or ``plans.lineage.LOCAL_ROUNDS`` (``truncate_plan``)."""
    if hops < 1:
        raise ValueError("hops must be >= 1")
    ck = checkpointer or LOCAL_ROUNDS
    sym = ck.stage(
        "sym",
        lambda: edges.select("u", "v", "w_micro").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w_micro")
        ),
    )
    resumed = ck.resume()
    if resumed is not None:
        rno, dfs, extras = resumed
        if extras.get("done"):
            return dfs["dist"]
        dist, frontier, start_hop = dfs["dist"], dfs["frontier"], rno + 1
    else:
        if source is None:
            source = _hub_source(sym)
            if source is None:
                return sym.select(
                    F.col("u").alias("vertex"), F.col("w_micro").alias("dist_micro")
                ).limit(0)
        dist = sym.sparkSession.createDataFrame(
            [(int(source), 0)], "vertex bigint, dist_micro bigint"
        ).localCheckpoint()
        frontier, start_hop = dist, 0
    for rnd in range(start_hop, int(hops)):
        relaxed = (
            frontier.join(sym, frontier.vertex == sym.u)
            .select(
                F.col("v").alias("vertex"),
                (F.col("dist_micro") + F.col("w_micro")).alias("dist_micro"),
            )
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("vertex")
            .agg(F.min("dist_micro").alias("dist_micro"))
        )
        # delta frontier: only vertices whose distance changed this round
        # propagate next round — settled subgraphs cost nothing
        old_dist = dist.withColumnRenamed("dist_micro", "_old")
        saved, extras = ck.save_round(
            rnd,
            {
                "dist": new_dist,
                # built from the materialized dist so the round's groupBy
                # runs once, not twice
                "frontier": lambda rb: rb["dist"]
                .join(old_dist, "vertex", "left")
                .filter(
                    F.col("_old").isNull() | (F.col("dist_micro") < F.col("_old"))
                )
                .select("vertex", "dist_micro"),
            },
            extras_fn=lambda dfs: {"done": dfs["frontier"].limit(1).count() == 0},
        )
        dist, frontier = saved["dist"], saved["frontier"]
        if extras["done"]:
            break
    return dist


def track_graph_sql(tracks_path: str, snap_deg: float = 0.05) -> str:
    """DuckDB twin of :func:`track_graph` over the raw LINESTRING WKT:
    regex-split vertex parse (the established tracks-oracle idiom), same
    snapping, packing, weighting and parallel-edge min."""
    from geowave_spark.operators._packing import pack_xy_sql

    c = float(snap_deg)
    # the movement family's shared WKT vertex idiom (mapmatch oracle)
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        SELECT u, v, MIN(w_micro) AS w_micro FROM (
          SELECT LEAST(p1, p2) AS u, GREATEST(p1, p2) AS v,
                 CAST(floor(sqrt(CAST(cx1 - cx2 AS DOUBLE) * (cx1 - cx2)
                                + CAST(cy1 - cy2 AS DOUBLE) * (cy1 - cy2))
                            * {c!r} * {_M}) AS BIGINT) AS w_micro
          FROM (
            SELECT {pack_xy_sql("cx1", "cy1")} AS p1,
                   {pack_xy_sql("cx2", "cy2")} AS p2,
                   cx1, cy1, cx2, cy2
            FROM (
              SELECT CAST(floor(vs[i].x / {c!r}) AS BIGINT) AS cx1,
                     CAST(floor(vs[i].y / {c!r}) AS BIGINT) AS cy1,
                     CAST(floor(vs[i + 1].x / {c!r}) AS BIGINT) AS cx2,
                     CAST(floor(vs[i + 1].y / {c!r}) AS BIGINT) AS cy2
              FROM (SELECT {verts} AS vs FROM '{tracks_path}'),
                   unnest(range(1, len(vs))) AS t(i)))
          WHERE p1 <> p2)
        GROUP BY u, v
    """


def sssp_bounded_sql(tracks_path: str, snap_deg: float = 0.05, hops: int = 6) -> str:
    """DuckDB twin of :func:`sssp_bounded` over :func:`track_graph_sql`
    edges: the relaxation unrolled into ``hops`` CTE levels, source =
    the max-degree hub (ties to min id)."""
    h = int(hops)
    parts = [
        f"edges AS ({track_graph_sql(tracks_path, snap_deg)})",
        "sym AS (SELECT u, v, w_micro FROM edges"
        " UNION ALL SELECT v, u, w_micro FROM edges)",
        "d0 AS (SELECT u AS vertex, CAST(0 AS BIGINT) AS dist_micro"
        " FROM (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u"
        " ORDER BY deg DESC, u ASC LIMIT 1))",
    ]
    for i in range(1, h + 1):
        parts.append(
            f"d{i} AS (SELECT vertex, MIN(dist_micro) AS dist_micro FROM ("
            f"SELECT vertex, dist_micro FROM d{i - 1}"
            f" UNION ALL "
            f"SELECT s.v AS vertex, p.dist_micro + s.w_micro AS dist_micro"
            f" FROM d{i - 1} p JOIN sym s ON s.u = p.vertex"
            f") GROUP BY vertex)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vertex, dist_micro FROM d{h}"
    )
