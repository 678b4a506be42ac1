"""KDE tile pyramid (R1-R3) + tile math — the exact-match tile surface.

Re-expression of the reference's three-job KDE pipeline
(`analytics/mapreduce/.../kde/GaussianCellMapper.java:60-133`,
`CellSummationReducer.java`, `AccumuloKDEReducer.java:124-256`) as a single
declarative DataFrame plan with **zero Python in the hot path**: the Gaussian
splat is a broadcast cross-join against the 49-row kernel-offset table, the
per-cell sum is a native partial+final hash aggregation, and max/percentile
are window functions per level.

Bit-for-bit contract:
- kernel = the reference's fixed 7-tap sigma=1 kernel
  [0.006,0.061,0.242,0.383,0.242,0.061,0.006] (`GaussianFilter.java:16-24`),
  carried as x1000 integers so cell sums are exact in any accumulation order;
- bin: xbin = floor((lon+180)/360 * numXPosts) (`GaussianFilter.java:176-186`
  min==max point path keeps only floor(bin)+offset within bounds);
- cell id = xPost * numYPosts + yPost (`GaussianFilter.getPosition`);
- level L => numXTiles = 2^(L+1), numYTiles = 2^L, posts = tiles * tileSize
  (`AccumuloKDEReducer.java:211-239`);
- tile decomposition + raster y inversion per
  `AccumuloKDEReducer.fromCellIndexToTileInfo` (`:186-209`);
- percentile = rank/totalKeys with ties sharing the lowest rank
  (`AccumuloKDEReducer.reduce:131-143`), normalized = weight/levelMax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# x1000 integer kernel (exact sums); /1000 per dim where the reference uses
# the raw doubles — reported weight = weight_scaled / 1e6 for 2D
KERNEL_X1000 = [6, 61, 242, 383, 242, 61, 6]
MAX_OFFSET = 3


def _offsets_df(spark: SparkSession) -> DataFrame:
    rows = [
        (dx, dy, KERNEL_X1000[dx + MAX_OFFSET] * KERNEL_X1000[dy + MAX_OFFSET])
        for dx in range(-MAX_OFFSET, MAX_OFFSET + 1)
        for dy in range(-MAX_OFFSET, MAX_OFFSET + 1)
    ]
    return spark.createDataFrame(rows, "dx int, dy int, w long")


def _splat_cells(
    points: DataFrame,
    min_level: int,
    max_level: int,
    tile_size: int,
    lon_col: str,
    lat_col: str,
) -> DataFrame:
    """Shared stage: Gaussian splat (broadcast 49-row kernel join) + exact
    per-(level, cell) integer sums — identical for every percentile mode."""
    spark = points.sparkSession
    levels = spark.createDataFrame([(lv,) for lv in range(min_level, max_level + 1)], "level int")
    offsets = _offsets_df(spark)

    # 2^(L+1)*TS and 2^L*TS; shiftleft-by-column needs the SQL form
    num_x_posts = F.expr(f"shiftleft(2L, level) * {tile_size}")
    num_y_posts = F.expr(f"shiftleft(1L, level) * {tile_size}")

    splat = (
        points.select(lon_col, lat_col)
        .crossJoin(F.broadcast(levels))
        .withColumn("nx", num_x_posts)
        .withColumn("ny", num_y_posts)
        .withColumn("xbin", F.floor((F.col(lon_col) + 180.0) / 360.0 * F.col("nx")))
        .withColumn("ybin", F.floor((F.col(lat_col) + 90.0) / 180.0 * F.col("ny")))
        .crossJoin(F.broadcast(offsets))
        .withColumn("x", F.col("xbin") + F.col("dx"))
        .withColumn("y", F.col("ybin") + F.col("dy"))
        .filter((F.col("x") >= 0) & (F.col("x") < F.col("nx")) & (F.col("y") >= 0) & (F.col("y") < F.col("ny")))
        .withColumn("cell_id", F.col("x") * F.col("ny") + F.col("y"))
    )
    return splat.groupBy("level", "cell_id").agg(F.sum("w").alias("weight_scaled"))


def _exact_bands(cells: DataFrame) -> DataFrame:
    """Bit-exact normalized/percentile via per-level windows — each level
    gathers into one partition, so this is the small-pyramid/oracle path."""
    by_level = Window.partitionBy("level")
    rank_w = Window.partitionBy("level").orderBy("weight_scaled")
    return (
        cells.withColumn("_max", F.max("weight_scaled").over(by_level))
        .withColumn("_total", F.count("*").over(by_level))
        .withColumn("normalized", F.col("weight_scaled") / F.col("_max"))
        .withColumn("percentile", F.rank().over(rank_w) / F.col("_total"))
        .drop("_max", "_total")
    )


def _approx_bands(cells: DataFrame, quantile_buckets: int) -> DataFrame:
    """Scale-path normalized/percentile: per-level max + quantile sketch via
    partial/final aggregation broadcast back — no per-level window, partition
    sizes stay bounded at any scale."""
    probs = [i / quantile_buckets for i in range(1, quantile_buckets + 1)]
    stats = cells.groupBy("level").agg(
        F.max("weight_scaled").alias("_max"),
        F.percentile_approx(
            "weight_scaled", F.array(*[F.lit(p) for p in probs]), F.lit(100_000)
        ).alias("_qs"),
    )
    return (
        cells.join(F.broadcast(stats), "level")
        .withColumn("normalized", F.col("weight_scaled") / F.col("_max"))
        .withColumn(
            "percentile",
            F.size(F.filter(F.col("_qs"), lambda q: q <= F.col("weight_scaled")))
            / F.lit(float(quantile_buckets)),
        )
        .drop("_max", "_qs")
    )


# above this many occupied cells (upper-bounded without running a job when
# possible) the exact per-level rank window would hold one oversized task
# per level — auto mode switches to the sketch path
MAX_EXACT_CELLS = 50_000_000


def kde_pyramid(
    points: DataFrame,
    min_level: int = 1,
    max_level: int = 25,
    tile_size: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
    percentile_mode: str = "auto",  # 'auto' | 'exact' | 'approx'
    max_exact_cells: int = MAX_EXACT_CELLS,
    quantile_buckets: int = 1000,
) -> DataFrame:
    """points -> per-(level, cell) KDE weights with normalized + percentile
    bands and tile assignment columns.

    Output columns: level, cell_id, tile_x, tile_y, px, py, weight_scaled
    (exact int, kernel x 10^6), normalized, percentile, tile_west, tile_south.

    ``percentile_mode='auto'`` picks the percentile plan from an occupied-cell
    upper bound: the largest level holds at most
    ``min(n_points * 49, 2^(2L+1) * tile_size^2)`` non-empty cells.  The post
    grid bound is pure arithmetic (no job); only when it alone exceeds
    ``max_exact_cells`` does auto pay one ``count()`` to test the splat bound.
    Under the threshold: bit-exact per-level rank windows (the reference's
    `AccumuloKDEReducer.reduce` contract).  Over it: the sketch path
    (:func:`_approx_bands`, error <= 1/quantile_buckets + sketch error) —
    at level 25 the exact window would gather every non-empty cell of the
    level into ONE task, which no executor holds at 100 TB.
    """
    cells = _splat_cells(points, min_level, max_level, tile_size, lon_col, lat_col)
    if percentile_mode == "auto":
        grid_bound = 2 ** (2 * max_level + 1) * tile_size * tile_size
        if grid_bound > max_exact_cells:
            splat_bound = points.count() * len(KERNEL_X1000) ** 2
            exact = min(grid_bound, splat_bound) <= max_exact_cells
        else:
            exact = True
    elif percentile_mode in ("exact", "approx"):
        exact = percentile_mode == "exact"
    else:
        raise ValueError(
            f"percentile_mode must be 'auto', 'exact' or 'approx', got {percentile_mode!r}"
        )
    banded = _exact_bands(cells) if exact else _approx_bands(cells, quantile_buckets)
    return with_tile_columns(banded, tile_size)


def with_tile_columns(cells: DataFrame, tile_size: int) -> DataFrame:
    """Tile decomposition of (level, cell_id) rows per
    `AccumuloKDEReducer.fromCellIndexToTileInfo` (:186-209): post grid ->
    (tile_x, tile_y, px, py) with raster y inversion, tile west/south edges."""
    ts = F.lit(tile_size)
    n_y_posts = F.expr(f"shiftleft(1L, level) * {tile_size}")
    num_x_tiles = F.expr("shiftleft(2L, level)")
    num_y_tiles = F.expr("shiftleft(1L, level)")
    x_post = (F.col("cell_id") / n_y_posts).cast("long")
    y_post = F.col("cell_id") % n_y_posts
    return (
        cells.withColumn("tile_x", (x_post / ts).cast("long"))
        .withColumn("tile_y", (y_post / ts).cast("long"))
        .withColumn("px", (x_post % ts).cast("int"))
        .withColumn("py", (ts - 1 - (y_post % ts)).cast("int"))  # raster y inverted
        .withColumn("tile_west", (F.col("tile_x") * 360.0) / num_x_tiles - 180.0)
        .withColumn("tile_south", (F.col("tile_y") * 180.0) / num_y_tiles - 90.0)
    )


def resize_pyramid(cells: DataFrame, old_tile_size: int, new_tile_size: int) -> DataFrame:
    """R7 tile resize without recomputation: numXPosts = 2^(L+1) * tileSize,
    so halving the tile size while incrementing the level keeps the exact
    post grid — `cell_id`, weights, normalized and percentile bands are all
    invariant; only the tile decomposition changes.  This is the property
    `KDERasterResizeIT.testSamplesMatch` asserts pixel-for-pixel
    (`RasterTileResizeJobRunner.java:1-338` does it the hard way, re-keying
    every tile through a mapper).

    Requires old/new to be a power-of-two ratio.  Catalyst-only: zero
    shuffle, zero Python.
    """
    import math

    ratio = old_tile_size / new_tile_size
    shift = int(math.log2(ratio))
    if 2**shift != ratio or shift < 0:
        raise ValueError("tile-size ratio must be a power of two >= 1")
    base = cells.select(
        (F.col("level") + shift).alias("level"),
        "cell_id",
        "weight_scaled",
        "normalized",
        "percentile",
    )
    return with_tile_columns(base, new_tile_size)


def kde_oracle_sql(points_path: str, min_level: int, max_level: int, tile_size: int) -> str:
    """DuckDB SQL computing the identical pyramid (independent executor)."""
    kern = ", ".join(
        f"({dx}, {dy}, {KERNEL_X1000[dx + MAX_OFFSET] * KERNEL_X1000[dy + MAX_OFFSET]})"
        for dx in range(-MAX_OFFSET, MAX_OFFSET + 1)
        for dy in range(-MAX_OFFSET, MAX_OFFSET + 1)
    )
    levels = ", ".join(f"({lv})" for lv in range(min_level, max_level + 1))
    return f"""
        WITH offsets(dx, dy, w) AS (VALUES {kern}),
        levels(level) AS (VALUES {levels}),
        splat AS (
          SELECT l.level,
                 (FLOOR((p.lon + 180.0) / 360.0 * ((1 << (l.level + 1)) * {tile_size})) + o.dx) AS x,
                 (FLOOR((p.lat + 90.0) / 180.0 * ((1 << l.level) * {tile_size})) + o.dy) AS y,
                 ((1 << (l.level + 1)) * {tile_size}) AS nx,
                 ((1 << l.level) * {tile_size}) AS ny,
                 o.w
          FROM '{points_path}' p, levels l, offsets o),
        cells AS (
          SELECT level, CAST(x * ny + y AS BIGINT) AS cell_id,
                 CAST(SUM(w) AS BIGINT) AS weight_scaled,
                 MAX(ny) AS ny
          FROM splat WHERE x >= 0 AND x < nx AND y >= 0 AND y < ny
          GROUP BY level, x * ny + y),
        ranked AS (
          SELECT level, cell_id, weight_scaled,
                 weight_scaled / (MAX(weight_scaled) OVER (PARTITION BY level)) AS normalized,
                 RANK() OVER (PARTITION BY level ORDER BY weight_scaled)
                   / (COUNT(*) OVER (PARTITION BY level)) AS percentile,
                 ny
          FROM cells)
        SELECT level, cell_id, weight_scaled, normalized, percentile,
               CAST((cell_id // ny) // {tile_size} AS BIGINT) AS tile_x,
               CAST((cell_id % ny) // {tile_size} AS BIGINT) AS tile_y,
               CAST((cell_id // ny) % {tile_size} AS INT) AS px,
               CAST({tile_size} - 1 - ((cell_id % ny) % {tile_size}) AS INT) AS py,
               (CAST((cell_id // ny) // {tile_size} AS BIGINT) * 360.0) / (1 << (level + 1)) - 180.0 AS tile_west,
               (CAST((cell_id % ny) // {tile_size} AS BIGINT) * 180.0) / (1 << level) - 90.0 AS tile_south
        FROM ranked
    """


def assemble_tiles(cells: DataFrame, tile_size: int) -> DataFrame:
    """R3 tile assembly: group posts into tileSize^2 rasters (3 bands:
    weight, normalized, percentile) — the DataFrame analog of the reducer's
    WritableRaster.  Kept as arrays of (px, py, bands) structs; pixel order is
    deterministic (sorted by px, py)."""
    return (
        cells.groupBy("level", "tile_x", "tile_y")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("px", "py", "weight_scaled", "normalized", "percentile")
                )
            ).alias("pixels"),
            F.count("*").alias("n_pixels"),
            F.first("tile_west").alias("tile_west"),
            F.first("tile_south").alias("tile_south"),
        )
    )
