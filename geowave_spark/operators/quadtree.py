"""Adaptive quadtree binning: split cells until each leaf holds <= cap.

This is the data-adaptive complement to the reference's FIXED tier ladder:
`TieredSFCIndexStrategy` (core/index/.../tiered/TieredSFCIndexStrategy.java)
picks a tier per ENTRY from its extent; a density-adaptive LAYOUT — leaves
fine where data is dense, coarse where sparse — is what its
`SplitsProvider`/statistics machinery approximates when it balances scan
splits, and what every heatmap/tiling front-end wants served directly.

Spark-first shape (10^12 points): the split loop runs COARSE-TO-FINE with
the active point set SHRINKING each round — points whose tier-t cell is
within cap retire into that leaf and leave the loop, so round t+1 re-keys
only the points under still-oversized cells (an inner equi-join against
the oversized-cell set, which is at most n_points/cap rows and usually
tiny).  Each round is one groupBy shuffle on uniform cell keys + one join;
rounds are bounded by ``max_tier - min_tier`` (<= ~20), and each round's
active set and accumulated leaf table (cells, not points) pass the round
barrier so the iterative plan never grows.

Cell convention: the engine's ceil-minus-1 bins (`sfc.lon_bins` /
`spatiotemporal_bins`): xb = greatest(ceil((lon+180)/360 * 2^t) - 1, 0),
yb likewise over the clamped latitude — self-clamping at +180/+90, and
the parent of (xb, yb) at tier t is exactly (xb >> 1, yb >> 1) at t-1, so
cross-tier joins are bit shifts (the `cell_at_tier` prefix property).

Oracle: the DuckDB twin unrolls the bounded level loop into generated
CTEs — each level gathers counts for points under the previous level's
oversized cells (an independent per-level join formulation; the Spark
side iterates with a shrinking checkpointed frontier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.plans.lineage import LOCAL_ROUNDS

__all__ = ["adaptive_quadtree", "adaptive_quadtree_sql"]


def _xb(lon_col: str, tier: int):
    n = 1 << tier
    return F.greatest(
        F.ceil((F.col(lon_col) + 180.0) / 360.0 * n) - 1, F.lit(0)
    ).cast("long")


def _yb(lat_col: str, tier: int):
    n = 1 << tier
    lat = F.least(F.greatest(F.col(lat_col), F.lit(-90.0)), F.lit(90.0))
    return F.greatest(F.ceil((lat + 180.0) / 360.0 * n) - 1, F.lit(0)).cast("long")


def adaptive_quadtree(
    points: DataFrame,
    max_per_cell: int,
    min_tier: int = 3,
    max_tier: int = 12,
    lon_col: str = "lon",
    lat_col: str = "lat",
    checkpointer=None,
) -> DataFrame:
    """Leaf cells of the adaptive quadtree: (tier, xb, yb, n_points),
    where every leaf holds <= ``max_per_cell`` points unless it sits at
    ``max_tier`` (depth-capped leaves keep their full count).

    Every tier is a round of one barrier: ``checkpointer`` (a
    ``plans.lineage.RoundCheckpointer``, which makes each tier's (active
    frontier, accumulated leaves) durable so a killed run resumes at the
    last committed tier instead of re-splitting from ``min_tier``) or
    ``plans.lineage.LOCAL_ROUNDS`` (``truncate_plan``)."""
    if max_per_cell <= 0:
        raise ValueError("max_per_cell must be positive")
    if not (0 <= min_tier <= max_tier <= 28):
        raise ValueError("need 0 <= min_tier <= max_tier <= 28")

    ck = checkpointer or LOCAL_ROUNDS
    resumed = ck.resume()
    if resumed is None:
        # the frontier carries (lon, lat) plus the current-tier cell; points
        # retire as soon as their cell fits the cap, so the frontier shrinks
        active = points.select(
            F.col(lon_col).alias("_lon"),
            F.col(lat_col).alias("_lat"),
            _xb(lon_col, min_tier).alias("xb"),
            _yb(lat_col, min_tier).alias("yb"),
        ).localCheckpoint()
        leaves_df, start_tier = None, min_tier
    else:
        rno, dfs, extras = resumed
        leaves_df = dfs["leaves"]
        if extras.get("done"):
            return leaves_df.select("tier", "xb", "yb", "n_points")
        active, start_tier = dfs["active"], rno + 1

    for tier in range(start_tier, max_tier + 1):
        counts = active.groupBy("xb", "yb").agg(
            F.count("*").alias("n_points")
        )
        if tier == max_tier:  # depth cap: every remaining cell is a leaf
            fits, new_active = counts, active.limit(0)
        else:
            fits = counts.filter(F.col("n_points") <= max_per_cell)
            over = counts.filter(F.col("n_points") > max_per_cell).select("xb", "yb")
            # one tier finer for the points under oversized cells only: the
            # inner join on the current cell key keeps the frontier shrinking
            # (|over| <= n/cap, so Spark broadcasts it once it's small)
            new_active = active.join(over, ["xb", "yb"]).select(
                "_lon",
                "_lat",
                _xb("_lon", tier + 1).alias("xb"),
                _yb("_lat", tier + 1).alias("yb"),
            )
        new_leaves = fits.withColumn("tier", F.lit(tier))
        saved, extras = ck.save_round(
            tier,
            {
                "active": new_active,
                "leaves": new_leaves if leaves_df is None else leaves_df.unionByName(new_leaves),
            },
            extras_fn=lambda dfs: {"done": dfs["active"].limit(1).count() == 0},
        )
        active, leaves_df = saved["active"], saved["leaves"]
        if extras["done"]:
            break
    return leaves_df.select("tier", "xb", "yb", "n_points")


def _xb_sql(lon_col: str, tier: int) -> str:
    n = 1 << tier
    return f"CAST(GREATEST(CEIL((({lon_col} + 180.0) / 360.0) * {n}) - 1, 0) AS BIGINT)"


def _yb_sql(lat_col: str, tier: int) -> str:
    n = 1 << tier
    return (
        f"CAST(GREATEST(CEIL(((LEAST(GREATEST({lat_col}, -90.0), 90.0) + 180.0)"
        f" / 360.0) * {n}) - 1, 0) AS BIGINT)"
    )


def adaptive_quadtree_sql(
    points_table: str,
    max_per_cell: int,
    min_tier: int = 3,
    max_tier: int = 12,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin: the level loop unrolled into generated CTEs.  Level t
    counts points whose tier-(t-1) cell is in the previous level's
    oversized set — a cell is oversized at t-1 only if its whole ancestor
    chain was oversized (children of fitting cells are never counted), so
    ONE join per level reproduces the Spark side's shrinking frontier."""
    cap = int(max_per_cell)
    parts = [
        f"lvl{min_tier} AS (SELECT {_xb_sql(lon_col, min_tier)} AS xb, "
        f"{_yb_sql(lat_col, min_tier)} AS yb, COUNT(*) AS n_points "
        f"FROM {points_table} GROUP BY 1, 2)"
    ]
    unions = []
    for t in range(min_tier, max_tier + 1):
        if t == max_tier:
            unions.append(f"SELECT {t} AS tier, xb, yb, n_points FROM lvl{t}")
            break
        unions.append(
            f"SELECT {t} AS tier, xb, yb, n_points FROM lvl{t} "
            f"WHERE n_points <= {cap}"
        )
        parts.append(
            f"over{t} AS (SELECT xb, yb FROM lvl{t} WHERE n_points > {cap})"
        )
        parts.append(
            f"lvl{t + 1} AS (SELECT {_xb_sql('p.' + lon_col, t + 1)} AS xb, "
            f"{_yb_sql('p.' + lat_col, t + 1)} AS yb, COUNT(*) AS n_points "
            f"FROM {points_table} p JOIN over{t} o "
            f"ON {_xb_sql('p.' + lon_col, t)} = o.xb "
            f"AND {_yb_sql('p.' + lat_col, t)} = o.yb "
            f"GROUP BY 1, 2)"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + " UNION ALL ".join(f"({u})" for u in unions)
    )
