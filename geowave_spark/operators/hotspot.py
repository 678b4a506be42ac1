"""Getis-Ord Gi* hotspot detection over gridded point counts.

The classic local spatial statistic (Getis & Ord 1992; Ord & Getis 1995):
for each occupied grid cell i with binary 3x3 queen-contiguity weights,

    Gi* = (sum_j x_j  -  Xbar * W_i)
          / ( S * sqrt( (n * W_i - W_i^2) / (n - 1) ) )

where j ranges over i's occupied neighbors incl. itself, W_i = their count,
n = occupied cells, Xbar/S the global mean/std of cell counts.  |Gi*| > ~2
flags statistically hot (cold) cells — the standard first pass over event
data the reference serves to density renderers (its KDE pyramid,
`analytics/mapreduce/.../kde/`, answers the same "where is it hot" question
non-parametrically; Gi* adds the significance test).

Determinism & oracle story: every input to the statistic is an INTEGER
(cell counts, neighbor counts, their sums), so the handful of double ops
(two divides, two sqrts) are bit-identical in any IEEE engine as long as
the expression tree is written in the same shape — which `gi_star_sql`
guarantees by construction.  The emitted z-score is quantized to ppm with
FLOOR so hashes compare exactly.

100 TB shape: one shuffle to grid the points (groupBy cell), one cell-keyed
equi-join for the neighborhood (the probe side explodes to the 9 literal
queen offsets — rows x9, never points x9, since cells << points), and the
3-number global reduce broadcasts back.  No window over a global ordering,
no Python, no driver data but the 3 aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.neighborhood import (
    FORWARD,
    FORWARD_1D,
    QUEEN,
    RING,
    SPACE_TIME,
    neighbor_join,
)


def cell_counts(
    points: DataFrame,
    cell_deg: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Grid the points: (xb, yb, x) with x = count in the cell."""
    return (
        points.groupBy(
            F.floor(F.col(lon_col) / F.lit(cell_deg)).cast("long").alias("xb"),
            F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long").alias("yb"),
        )
        .agg(F.count("*").alias("x"))
    )


def gi_star(
    points: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per occupied cell: (xb, yb, n_neighbors, gi_ppm) — Gi* z-score in
    parts-per-million (FLOOR-quantized; see module docstring)."""
    # the cell table is grid-bounded (tiny); materialize it ONCE so the
    # three consumers below (neighbor probe, neighbor join, global agg)
    # never re-scan the corpus — the engine's read-the-big-side-once rule
    cells = cell_counts(points, cell_deg, lon_col, lat_col).localCheckpoint()

    nb = (
        neighbor_join(
            cells.select("xb", "yb", F.col("x").alias("_xj")),
            cells.select("xb", "yb"),
            ("xb", "yb"),
            QUEEN,
        )
        .groupBy("xb", "yb")
        .agg(F.count("*").alias("wn"), F.sum("_xj").alias("wx"))
    )

    g = cells.agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("x").cast("double").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("_sx2"),
    )
    # the z-score expression tree mirrors gi_star_sql term for term
    wn_d = F.col("wn").cast("double")
    mean = F.col("_sx") / F.col("_n")
    s = F.sqrt(F.col("_sx2") / F.col("_n") - mean * mean)
    denom = s * F.sqrt((F.col("_n") * wn_d - wn_d * wn_d) / (F.col("_n") - F.lit(1.0)))
    z = (F.col("wx").cast("double") - mean * wn_d) / denom
    # degenerate inputs make the statistic undefined, not infinite: S = 0
    # (every occupied cell holds the same count) and W_i = n (one cell's
    # neighborhood covers ALL occupied cells) both zero the denominator —
    # emit NULL, mirrored in gi_star_sql
    return (
        nb.crossJoin(F.broadcast(g))
        .select(
            "xb",
            "yb",
            F.col("wn").alias("n_neighbors"),
            F.when(denom > 0, F.floor(z * F.lit(1000000.0)).cast("long"))
            .otherwise(F.lit(None).cast("long"))
            .alias("gi_ppm"),
        )
    )


def gi_star_sql(points_path: str, cell_deg: float) -> str:
    """The DuckDB twin: same statistic, same expression shape, declarative
    BETWEEN neighborhood (the oracle optimizes for clarity, not scale)."""
    return f"""
        WITH cells AS (
          SELECT CAST(FLOOR(lon / {cell_deg!r}) AS BIGINT) AS xb,
                 CAST(FLOOR(lat / {cell_deg!r}) AS BIGINT) AS yb,
                 count(*) AS x
          FROM '{points_path}' GROUP BY 1, 2),
        g AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(x * x) AS DOUBLE) AS sx2
          FROM cells),
        nb AS (
          SELECT c.xb, c.yb,
                 CAST(count(*) AS BIGINT) AS wn,
                 SUM(o.x) AS wx
          FROM cells c JOIN cells o
            ON o.xb BETWEEN c.xb - 1 AND c.xb + 1
           AND o.yb BETWEEN c.yb - 1 AND c.yb + 1
          GROUP BY c.xb, c.yb)
        SELECT nb.xb, nb.yb, wn AS n_neighbors,
               CASE WHEN sqrt(g.sx2 / g.n - (g.sx / g.n) * (g.sx / g.n))
                         * sqrt((g.n * CAST(wn AS DOUBLE)
                                 - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))
                                / (g.n - 1.0)) > 0
               THEN CAST(FLOOR(
                 (CAST(wx AS DOUBLE) - (g.sx / g.n) * CAST(wn AS DOUBLE))
                 / (sqrt(g.sx2 / g.n - (g.sx / g.n) * (g.sx / g.n))
                    * sqrt((g.n * CAST(wn AS DOUBLE)
                            - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))
                           / (g.n - 1.0)))
                 * 1000000.0) AS BIGINT)
               ELSE NULL END AS gi_ppm
        FROM nb, g
    """


# ---------------------------------------------------------------------------
# Emerging hotspots: space-time Gi* + Mann-Kendall trend per cell
# ---------------------------------------------------------------------------

def emerging_hotspots(
    points: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "event_ts",
) -> DataFrame:
    """Space-time hotspot trends (the Esri "emerging hot spot" analysis
    shape, built from first principles): bin events into (cell, month),
    score every occupied bin with the space-time Gi* (3x3x3 neighborhood —
    queen contiguity x adjacent months), then trend each cell's z-series
    with the Mann-Kendall S statistic.

    Output: (xb, yb, n_bins, mk_s, trend) — trend is
    'rising'/'falling'/'flat' by the sign of S.

    Everything that feeds the hash is an integer: bin counts, the
    ppm-quantized z (FLOOR of an expression whose shape gi_star already
    proved engine-identical), and S = sum of signs of BIGINT differences.
    Plan: two cell-keyed shuffles (bin, neighborhood join via the 27-offset
    broadcast explode) + one per-cell pair join whose width is bounded by
    the month count (<= a few hundred pairs per cell), keyed on the cell."""
    tb = (F.year(F.col(ts_col)) * F.lit(12) + F.month(F.col(ts_col))).alias("tb")
    cells = (
        points.groupBy(
            F.floor(F.col(lon_col) / F.lit(cell_deg)).cast("long").alias("xb"),
            F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long").alias("yb"),
            tb,
        )
        .agg(F.count("*").alias("x"))
    ).localCheckpoint()  # (cell, month) bins are grid-bounded: corpus scans once
    nb = (
        neighbor_join(
            cells.select("xb", "yb", "tb", F.col("x").alias("_xj")),
            cells.select("xb", "yb", "tb"),
            ("xb", "yb", "tb"),
            SPACE_TIME,
        )
        .groupBy("xb", "yb", "tb")
        .agg(F.count("*").alias("wn"), F.sum("_xj").alias("wx"))
    )
    g = cells.agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("x").cast("double").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("_sx2"),
    )
    wn_d = F.col("wn").cast("double")
    mean = F.col("_sx") / F.col("_n")
    s = F.sqrt(F.col("_sx2") / F.col("_n") - mean * mean)
    denom = s * F.sqrt((F.col("_n") * wn_d - wn_d * wn_d) / (F.col("_n") - F.lit(1.0)))
    z = (F.col("wx").cast("double") - mean * wn_d) / denom
    scored = (
        nb.crossJoin(F.broadcast(g))
        .select(
            "xb",
            "yb",
            "tb",
            F.when(denom > 0, F.floor(z * F.lit(1000000.0)).cast("long"))
            .otherwise(F.lit(None).cast("long"))
            .alias("gi_ppm"),
        )
        .filter(F.col("gi_ppm").isNotNull())
    )
    a = scored.select("xb", "yb", F.col("tb").alias("ta"), F.col("gi_ppm").alias("za"))
    b = scored.select("xb", "yb", F.col("tb").alias("tc"), F.col("gi_ppm").alias("zc"))
    pairs = a.join(b, ["xb", "yb"]).filter(F.col("ta") < F.col("tc"))
    mk = pairs.groupBy("xb", "yb").agg(
        F.sum(F.signum((F.col("zc") - F.col("za")).cast("double")).cast("long")).alias("mk_s")
    )
    nbins = scored.groupBy("xb", "yb").agg(F.count("*").alias("n_bins"))
    return nbins.join(mk, ["xb", "yb"], "left").select(
        "xb",
        "yb",
        "n_bins",
        F.coalesce("mk_s", F.lit(0)).alias("mk_s"),
        F.when(F.coalesce("mk_s", F.lit(0)) > 0, F.lit("rising"))
        .when(F.coalesce("mk_s", F.lit(0)) < 0, F.lit("falling"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
    )


def emerging_hotspots_sql(points_path: str, cell_deg: float = 1.0) -> str:
    """DuckDB twin: same bins, BETWEEN space-time neighborhood, same z
    shape, same Mann-Kendall pair sum."""
    return f"""
        WITH cells AS (
          SELECT CAST(FLOOR(lon / {cell_deg!r}) AS BIGINT) AS xb,
                 CAST(FLOOR(lat / {cell_deg!r}) AS BIGINT) AS yb,
                 CAST(date_part('year', event_ts) * 12
                      + date_part('month', event_ts) AS BIGINT) AS tb,
                 count(*) AS x
          FROM '{points_path}' GROUP BY 1, 2, 3),
        g AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(x * x) AS DOUBLE) AS sx2
          FROM cells),
        nb AS (
          SELECT c.xb, c.yb, c.tb,
                 CAST(count(*) AS BIGINT) AS wn, SUM(o.x) AS wx
          FROM cells c JOIN cells o
            ON o.xb BETWEEN c.xb - 1 AND c.xb + 1
           AND o.yb BETWEEN c.yb - 1 AND c.yb + 1
           AND o.tb BETWEEN c.tb - 1 AND c.tb + 1
          GROUP BY c.xb, c.yb, c.tb),
        scored AS (
          SELECT nb.xb, nb.yb, nb.tb,
                 CASE WHEN sqrt(g.sx2 / g.n - (g.sx / g.n) * (g.sx / g.n))
                           * sqrt((g.n * CAST(wn AS DOUBLE)
                                   - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))
                                  / (g.n - 1.0)) > 0
                 THEN CAST(FLOOR(
                   (CAST(wx AS DOUBLE) - (g.sx / g.n) * CAST(wn AS DOUBLE))
                   / (sqrt(g.sx2 / g.n - (g.sx / g.n) * (g.sx / g.n))
                      * sqrt((g.n * CAST(wn AS DOUBLE)
                              - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))
                             / (g.n - 1.0)))
                   * 1000000.0) AS BIGINT)
                 ELSE NULL END AS gi_ppm
          FROM nb, g),
        sc AS (SELECT * FROM scored WHERE gi_ppm IS NOT NULL),
        mk AS (
          SELECT a.xb, a.yb,
                 SUM(CAST(SIGN(CAST(b.gi_ppm - a.gi_ppm AS DOUBLE)) AS BIGINT)) AS mk_s
          FROM sc a JOIN sc b ON a.xb = b.xb AND a.yb = b.yb AND a.tb < b.tb
          GROUP BY a.xb, a.yb),
        nbins AS (SELECT xb, yb, CAST(count(*) AS BIGINT) AS n_bins FROM sc GROUP BY 1, 2)
        SELECT nbins.xb, nbins.yb, n_bins,
               COALESCE(mk.mk_s, 0) AS mk_s,
               CASE WHEN COALESCE(mk.mk_s, 0) > 0 THEN 'rising'
                    WHEN COALESCE(mk.mk_s, 0) < 0 THEN 'falling'
                    ELSE 'flat' END AS trend
        FROM nbins LEFT JOIN mk ON nbins.xb = mk.xb AND nbins.yb = mk.yb
    """


# ---------------------------------------------------------------------------
# Global Moran's I: the corpus-wide spatial autocorrelation twin of Gi*
# ---------------------------------------------------------------------------

def morans_i(
    points: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Global Moran's I (Moran 1950) over gridded point counts with binary
    queen contiguity (8 neighbors, w_ii = 0), the single-number complement
    to the per-cell Gi* map:

        I = (n / W) * sum_ij w_ij (x_i - xbar)(x_j - xbar)
                    / sum_i (x_i - xbar)^2

    Every sum is taken over INTEGERS first (pair count W, pair products
    P = sum x_i x_j, pair margins T = sum_pairs x_i, plus n / sum x /
    sum x^2 from the cell table), then the statistic is one pinned float
    expression over those seven exact numbers:

        num = P - 2*xbar*T + W*xbar^2        (expanding the product)
        den = Sx2 - n*xbar^2
        I   = (n / W) * num / den

    so the Spark and DuckDB trees agree bit-for-bit and the emitted value
    quantizes to ppm with FLOOR.  Degenerate corpora (every occupied cell
    the same count -> den = 0; no neighboring pairs -> W = 0) emit NULL.

    100 TB shape: identical to :func:`gi_star` — one shuffle grids the
    points, the pair stage explodes the CELL table (cells << points) by the
    8 literal offsets into one equi-join, and the result is a 1-row global
    agg; nothing downstream of the first groupBy scales with the corpus.
    """
    # grid-bounded cell table, three consumers: materialize once so the
    # corpus is scanned exactly once (same rationale as gi_star)
    cells = cell_counts(points, cell_deg, lon_col, lat_col).localCheckpoint()
    pairs = (
        neighbor_join(
            cells.select("xb", "yb", F.col("x").alias("_xj")),
            cells.select("xb", "yb", F.col("x").alias("_xi")),
            ("xb", "yb"),
            RING,
        )
        .agg(
            F.count("*").alias("w_pairs"),
            F.sum(F.col("_xi") * F.col("_xj")).alias("_p"),
            F.sum("_xi").alias("_t"),
        )
    )
    g = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).alias("_sx2"),
    )
    n_d = F.col("n_cells").cast("double")
    w_d = F.col("w_pairs").cast("double")
    xbar = F.col("_sx").cast("double") / n_d
    num = F.col("_p").cast("double") - F.lit(2.0) * xbar * F.col("_t").cast("double") + w_d * xbar * xbar
    den = F.col("_sx2").cast("double") - n_d * xbar * xbar
    i_expr = (n_d / w_d) * num / den
    return (
        pairs.crossJoin(g)
        .select(
            "n_cells",
            "w_pairs",
            F.when(
                (F.col("w_pairs") > 0) & (den > 0),
                F.floor(i_expr * F.lit(1000000.0)).cast("long"),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("morans_i_ppm"),
        )
    )


def morans_i_sql(points_path: str, cell_deg: float) -> str:
    """DuckDB twin: same integer sums, same pinned float combine."""
    return f"""
        WITH cells AS (
          SELECT CAST(FLOOR(lon / {cell_deg!r}) AS BIGINT) AS xb,
                 CAST(FLOOR(lat / {cell_deg!r}) AS BIGINT) AS yb,
                 count(*) AS x
          FROM '{points_path}' GROUP BY 1, 2),
        p AS (
          SELECT CAST(count(*) AS BIGINT) AS w_pairs,
                 SUM(c.x * o.x) AS p, SUM(c.x) AS t
          FROM cells c JOIN cells o
            ON o.xb BETWEEN c.xb - 1 AND c.xb + 1
           AND o.yb BETWEEN c.yb - 1 AND c.yb + 1
           AND NOT (o.xb = c.xb AND o.yb = c.yb)),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 SUM(x) AS sx, SUM(x * x) AS sx2
          FROM cells)
        SELECT g.n_cells, p.w_pairs,
               CASE WHEN p.w_pairs > 0
                     AND CAST(g.sx2 AS DOUBLE)
                         - CAST(g.n_cells AS DOUBLE)
                           * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE))
                           * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE)) > 0
               THEN CAST(FLOOR(
                 (CAST(g.n_cells AS DOUBLE) / CAST(p.w_pairs AS DOUBLE))
                 * (CAST(p.p AS DOUBLE)
                    - 2.0 * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE))
                          * CAST(p.t AS DOUBLE)
                    + CAST(p.w_pairs AS DOUBLE)
                      * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE))
                      * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE)))
                 / (CAST(g.sx2 AS DOUBLE)
                    - CAST(g.n_cells AS DOUBLE)
                      * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE))
                      * (CAST(g.sx AS DOUBLE) / CAST(g.n_cells AS DOUBLE)))
                 * 1000000.0) AS BIGINT)
               ELSE NULL END AS morans_i_ppm
        FROM p, g
    """


# ---------------------------------------------------------------------------
# Knox space-time interaction test
# ---------------------------------------------------------------------------


def knox_test(
    points: DataFrame,
    dist_deg: float = 0.5,
    tau_ms: int = 3 * 86_400_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "event_ts",
) -> DataFrame:
    """Knox (1964) space-time interaction statistic over an event corpus:
    of all unordered event pairs, how many are close in BOTH space
    (planar distance <= dist_deg) and time (|dt| <= tau_ms), versus the
    count expected if spatial and temporal proximity were independent?

        knox_ratio = st_pairs * total_pairs / (space_pairs * time_pairs)

    Ratio >> 1 flags space-time clustering (outbreaks, aftershock
    sequences, coordinated movement) — the pairwise complement of the
    cell-binned emerging-hotspot scan above (the reference's closest
    analog is its spatial-temporal constrained scan,
    `core/geotime/.../SpatialTemporalQuery.java`, which answers the
    per-query half; Knox aggregates the interaction globally).

    Output (one row, all BIGINT): n, total_pairs, space_pairs,
    time_pairs, st_pairs, knox_ppm (ratio FLOOR-quantized to ppm; the
    divide tree is shape-pinned against the SQL twin, so the double ops
    are bit-identical cross-engine).

    100 TB shape — every pair count is OUTPUT-SENSITIVE, no n^2 stage:

    * space (+ joint) pairs: :func:`_near_pairs` grids events at
      dist_deg and probes the FORWARD half-neighborhood (x5) — only pairs
      within ~2*sqrt(2)*d ever materialize (the hausdorff_join bound), at
      ~half the full 3x3 probe's candidates for the identical pair set.
      Exact d^2 filter restores the circle, and the SAME joined rows yield
      the joint space-AND-time count (one extra |dt| predicate — no second
      join).
    * time pairs: identical pattern in 1D — bin at tau, probe the forward
      bins {0,+1} (x2; bin -1 pairs are found from their earlier
      endpoint), exact |dt| filter; candidates are bounded by pairs within
      2*tau.
    * the three 1-row aggregates broadcast-crossJoin into the result.

    Each self-join side is a column-pruned scan of (id, lon, lat, ts)
    only; hot metro cells take the engine's standard salting/AQE
    treatment, and the time-bin keys are uniform by construction.
    """
    tau = int(tau_ms)
    # _pid: dense per-row ordering key (any unique id works; xxhash64 of the
    # position+time tuple is collision-checked by the pair semantics only in
    # the astronomically unlikely full-tuple tie, where dropping the
    # duplicate pair is the correct dedup anyway)
    pts = points.select(
        F.xxhash64(F.col(lon_col), F.col(lat_col), F.col(ts_col), F.lit(41)).alias("_pid"),
        F.col(lon_col).cast("double").alias("x"),
        F.col(lat_col).cast("double").alias("y"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ms"),
    )

    # --- space + joint counts: one forward-half neighborhood join ---------
    space_agg = _near_pairs(pts, dist_deg).agg(
        F.count("*").alias("space_pairs"),
        # SUM over an empty near set is NULL; the statistic's value is 0
        F.coalesce(
            F.sum(
                F.when(F.abs(F.col("ams") - F.col("bms")) <= F.lit(tau), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("st_pairs"),
    )

    # --- time count: the 1D twin ------------------------------------------
    tb = pts.withColumn("_tb", F.floor(F.col("ms") / F.lit(tau)).cast("long"))
    time_agg = neighbor_join(
        tb.select(F.col("_pid").alias("a_pid"), F.col("ms").alias("ams"), "_tb"),
        tb.select(F.col("_pid").alias("b_pid"), F.col("ms").alias("bms"), "_tb"),
        ("_tb",),
        FORWARD_1D,
        before=F.col("a_pid") < F.col("b_pid"),
    ).filter(
        F.abs(F.col("ams") - F.col("bms")) <= F.lit(tau)
    ).agg(F.count("*").alias("time_pairs"))

    n_agg = pts.agg(F.count("*").alias("n"))

    out = n_agg.crossJoin(space_agg).crossJoin(time_agg)
    total = (F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2)).cast("long")
    return out.select(
        F.col("n"),
        total.alias("total_pairs"),
        F.col("space_pairs"),
        F.col("time_pairs"),
        F.col("st_pairs"),
        F.when(
            (F.col("space_pairs") > 0) & (F.col("time_pairs") > 0),
            F.floor(
                F.lit(1000000.0)
                * F.col("st_pairs").cast("double")
                * total.cast("double")
                / (F.col("space_pairs").cast("double") * F.col("time_pairs").cast("double"))
            ).cast("long"),
        ).alias("knox_ppm"),
    )


def knox_test_sql(
    points_path: str, dist_deg: float = 0.5, tau_ms: int = 3 * 86_400_000
) -> str:
    """DuckDB twin: brute-force over every unordered pair (an independent
    algorithm — no grid, no binning; the oracle optimizes for clarity).
    The ppm combine mirrors :func:`knox_test`'s double tree shape-for-shape."""
    return f"""
        WITH p AS (
          SELECT hash(lon, lat, event_ts, 41) AS pid, lon AS x, lat AS y,
                 epoch_ms(event_ts) AS ms
          FROM '{points_path}'),
        pr AS (
          SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dd,
                 ABS(a.ms - b.ms) AS dt
          FROM p a JOIN p b ON a.pid < b.pid),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS total_pairs,
                 CAST(COALESCE(SUM(CASE WHEN dd <= {dist_deg!r} * {dist_deg!r}
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS space_pairs,
                 CAST(COALESCE(SUM(CASE WHEN dt <= {tau_ms} THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS time_pairs,
                 CAST(COALESCE(SUM(CASE WHEN dd <= {dist_deg!r} * {dist_deg!r}
                               AND dt <= {tau_ms} THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS st_pairs
          FROM pr),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
        SELECT g.n, agg.total_pairs, agg.space_pairs, agg.time_pairs,
               agg.st_pairs,
               CASE WHEN agg.space_pairs > 0 AND agg.time_pairs > 0
               THEN CAST(FLOOR(
                 1000000.0 * CAST(agg.st_pairs AS DOUBLE)
                 * CAST(agg.total_pairs AS DOUBLE)
                 / (CAST(agg.space_pairs AS DOUBLE)
                    * CAST(agg.time_pairs AS DOUBLE))) AS BIGINT)
               ELSE NULL END AS knox_ppm
        FROM g, agg
    """


# ---------------------------------------------------------------------------
# Ripley's K / cross-K colocation
# ---------------------------------------------------------------------------


def _dd() -> Column:
    """Squared planar distance between the (ax, ay) and (bx, by) columns."""
    return (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))


def _near_pairs(pts: DataFrame, dmax: float) -> DataFrame:
    """Every unordered pair of ``pts`` rows within planar distance ``dmax``,
    found output-sensitively: grid at dmax, probe the FORWARD
    half-neighborhood (x5) with the id-order rule on same-cell matches, and
    filter on the exact squared distance.

    ``pts`` carries (_pid, x, y, ...); each of its columns comes back once
    per side, prefixed ``a`` and ``b`` (a_pid, ax, ay, ...), plus ``dd``,
    the squared distance.  Callers aggregate the SAME joined rows for every
    count they need, so m radii or predicates cost m WHEN-sums, never m
    joins."""
    c = float(dmax)
    cells = pts.select(
        "*",
        F.floor(F.col("x") / c).cast("long").alias("cx"),
        F.floor(F.col("y") / c).cast("long").alias("cy"),
    )
    a, b = (
        cells.select(*[F.col(n).alias(side + n) for n in pts.columns], "cx", "cy")
        for side in "ab"
    )
    dd = _dd()
    return (
        neighbor_join(a, b, ("cx", "cy"), FORWARD, before=F.col("a_pid") < F.col("b_pid"))
        .filter(dd <= F.lit(c * c))
        .withColumn("dd", dd)
    )


def ripley_k(
    points: DataFrame,
    dists: tuple = (0.25, 0.5, 1.0),
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "fid",
) -> DataFrame:
    """Ripley's K function (Ripley 1977) at a ladder of radii — the classic
    second-order point-pattern statistic: K(d) is the expected number of
    further points within d of a typical point, scaled by intensity, so
    K(d) above pi*d^2 flags clustering at that scale and below it
    regularity.  Uncorrected (naive-boundary) estimator over the observed
    bounding box:

        K_hat(d) = A * 2 * pairs(d) / (n * (n - 1)),   L(d) = sqrt(K/pi)

    The reference serves the same "at which scales does this corpus
    cluster" question through its KDE pyramid level sweep
    (`analytics/mapreduce/.../kde/AccumuloKDEReducer.java:211-239` renders
    one density per level); Ripley's K quantifies it in one pass.

    Output: one row per radius — d_ppm, pairs (unordered BIGINT), n,
    k_ppm, l_ppm (FLOOR ppm quantization; the double trees are shape-pinned
    against :func:`ripley_k_sql`, every aggregate input is exact).

    100 TB shape: ONE output-sensitive candidate join at the LARGEST
    radius (:func:`_near_pairs`, the :func:`knox_test` pattern); all m
    radii are WHEN-sums over those same joined rows, so the pair matrix is
    never materialized and adding radii adds no joins.  The global reduce
    is 5 numbers (n + bbox)."""
    ds = sorted(float(d) for d in dists)
    if not ds or ds[0] <= 0:
        raise ValueError("dists must be positive radii")
    pts = points.select(
        F.col(id_col).alias("_pid"),
        F.col(lon_col).cast("double").alias("x"),
        F.col(lat_col).cast("double").alias("y"),
    )
    sums = _near_pairs(pts, ds[-1]).agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("dd") <= F.lit(d * d), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"_p{i}")
            for i, d in enumerate(ds)
        ]
    )
    glob = pts.agg(
        F.count("*").alias("n"),
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    rows = glob.crossJoin(sums).select(
        "n",
        "minx",
        "maxx",
        "miny",
        "maxy",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(round(d * 1_000_000))).cast("long").alias("d_ppm"),
                        F.col(f"_p{i}").alias("pairs"),
                    )
                    for i, d in enumerate(ds)
                ]
            )
        ).alias("r"),
    )
    area = (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
    nn = (F.col("n") * (F.col("n") - F.lit(1))).cast("double")
    kraw = (area * (F.lit(2.0) * F.col("r.pairs").cast("double"))) / nn
    return rows.select(
        F.col("r.d_ppm").alias("d_ppm"),
        F.col("r.pairs").alias("pairs"),
        F.col("n"),
        F.when(F.col("n") > 1, F.floor(F.lit(1000000.0) * kraw))
        .cast("long")
        .alias("k_ppm"),
        F.when(
            F.col("n") > 1,
            F.floor(F.lit(1000000.0) * F.sqrt(kraw / F.lit(3.141592653589793))),
        )
        .cast("long")
        .alias("l_ppm"),
    )


def ripley_k_sql(points_path: str, dists: tuple = (0.25, 0.5, 1.0)) -> str:
    """DuckDB twin: brute-force over every unordered pair (no grid — an
    independent algorithm); the K/L double trees mirror :func:`ripley_k`
    shape-for-shape so FLOOR-ppm values compare exactly."""
    ds = sorted(float(d) for d in dists)
    sums = ",\n                 ".join(
        f"CAST(COALESCE(SUM(CASE WHEN dd <= {d!r} * {d!r} THEN 1 ELSE 0 END), 0) "
        f"AS BIGINT) AS _p{i}"
        for i, d in enumerate(ds)
    )
    sel = "\n          UNION ALL ".join(
        f"SELECT CAST({int(round(d * 1_000_000))} AS BIGINT) AS d_ppm, _p{i} AS pairs FROM s"
        for i, d in enumerate(ds)
    )
    kraw = (
        "(((g.maxx - g.minx) * (g.maxy - g.miny)) * (2.0 * CAST(sel.pairs AS DOUBLE)))"
        " / CAST(g.n * (g.n - 1) AS DOUBLE)"
    )
    return f"""
        WITH p AS (SELECT fid AS pid, lon AS x, lat AS y FROM '{points_path}'),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n, min(x) AS minx, max(x) AS maxx,
                     min(y) AS miny, max(y) AS maxy FROM p),
        pr AS (SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dd
               FROM p a JOIN p b ON a.pid < b.pid),
        s AS (SELECT {sums} FROM pr),
        sel AS ({sel})
        SELECT sel.d_ppm, sel.pairs, g.n,
               CASE WHEN g.n > 1 THEN CAST(FLOOR(1000000.0 * {kraw}) AS BIGINT)
               ELSE NULL END AS k_ppm,
               CASE WHEN g.n > 1 THEN CAST(FLOOR(1000000.0 *
                 SQRT({kraw} / 3.141592653589793)) AS BIGINT)
               ELSE NULL END AS l_ppm
        FROM sel, g
    """


def cross_k(
    points: DataFrame,
    cat_a: str,
    cat_b: str,
    dists: tuple = (0.25, 0.5, 1.0),
    lon_col: str = "lon",
    lat_col: str = "lat",
    cat_col: str = "category",
    id_col: str = "fid",
) -> DataFrame:
    """Bivariate (cross-type) Ripley's K — the standard colocation
    statistic: K_ab(d) = A * pairs_ab(d) / (n_a * n_b) counts category-b
    points within d of category-a points, so K_ab above pi*d^2 flags the
    two types attracting and below it repelling.  Same naive-boundary
    estimator and output conventions as :func:`ripley_k` (d_ppm, pairs,
    n_a, n_b, k_ppm, l_ppm).

    100 TB shape: the corpus is filtered to the two categories BEFORE the
    candidate join (predicate pushdown on the category column), category a
    alone explodes to the bounded 3x3 neighborhood, and the equi-join is
    a-cells x b-cells — disjoint sides, so every cross pair materializes
    exactly once and no ordering filter is needed."""
    ds = sorted(float(d) for d in dists)
    if not ds or ds[0] <= 0:
        raise ValueError("dists must be positive radii")
    both = points.filter(F.col(cat_col).isin([cat_a, cat_b])).select(
        F.col(id_col).alias("_pid"),
        F.col(lon_col).cast("double").alias("x"),
        F.col(lat_col).cast("double").alias("y"),
        F.col(cat_col).alias("_cat"),
    )
    c = ds[-1]
    cells = both.select(
        "*",
        F.floor(F.col("x") / c).cast("long").alias("cx"),
        F.floor(F.col("y") / c).cast("long").alias("cy"),
    )
    near = neighbor_join(
        cells.filter(F.col("_cat") == cat_a).select(
            F.col("x").alias("ax"), F.col("y").alias("ay"), "cx", "cy"
        ),
        cells.filter(F.col("_cat") == cat_b).select(
            F.col("x").alias("bx"), F.col("y").alias("by"), "cx", "cy"
        ),
        ("cx", "cy"),
        QUEEN,
    ).filter(_dd() <= F.lit(c * c)).select(_dd().alias("dd"))
    sums = near.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("dd") <= F.lit(d * d), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"_p{i}")
            for i, d in enumerate(ds)
        ]
    )
    glob = both.agg(
        F.coalesce(
            F.sum(F.when(F.col("_cat") == cat_a, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("_cat") == cat_b, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_b"),
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    rows = glob.crossJoin(sums).select(
        "n_a",
        "n_b",
        "minx",
        "maxx",
        "miny",
        "maxy",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(round(d * 1_000_000))).cast("long").alias("d_ppm"),
                        F.col(f"_p{i}").alias("pairs"),
                    )
                    for i, d in enumerate(ds)
                ]
            )
        ).alias("r"),
    )
    area = (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
    nn = (F.col("n_a") * F.col("n_b")).cast("double")
    kraw = (area * F.col("r.pairs").cast("double")) / nn
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return rows.select(
        F.col("r.d_ppm").alias("d_ppm"),
        F.col("r.pairs").alias("pairs"),
        F.col("n_a"),
        F.col("n_b"),
        F.when(ok, F.floor(F.lit(1000000.0) * kraw)).cast("long").alias("k_ppm"),
        F.when(
            ok, F.floor(F.lit(1000000.0) * F.sqrt(kraw / F.lit(3.141592653589793)))
        )
        .cast("long")
        .alias("l_ppm"),
    )


def cross_k_sql(
    points_path: str, cat_a: str, cat_b: str, dists: tuple = (0.25, 0.5, 1.0)
) -> str:
    """DuckDB twin of :func:`cross_k`: brute-force a x b pair matrix, same
    pinned double trees."""
    ds = sorted(float(d) for d in dists)
    sums = ",\n                 ".join(
        f"CAST(COALESCE(SUM(CASE WHEN dd <= {d!r} * {d!r} THEN 1 ELSE 0 END), 0) "
        f"AS BIGINT) AS _p{i}"
        for i, d in enumerate(ds)
    )
    sel = "\n          UNION ALL ".join(
        f"SELECT CAST({int(round(d * 1_000_000))} AS BIGINT) AS d_ppm, _p{i} AS pairs FROM s"
        for i, d in enumerate(ds)
    )
    kraw = (
        "(((g.maxx - g.minx) * (g.maxy - g.miny)) * CAST(sel.pairs AS DOUBLE))"
        " / CAST(g.n_a * g.n_b AS DOUBLE)"
    )
    return f"""
        WITH q AS (SELECT lon AS x, lat AS y, category AS cat FROM '{points_path}'
                   WHERE category IN ('{cat_a}', '{cat_b}')),
        g AS (SELECT CAST(COALESCE(SUM(CASE WHEN cat = '{cat_a}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
                     CAST(COALESCE(SUM(CASE WHEN cat = '{cat_b}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
                     min(x) AS minx, max(x) AS maxx, min(y) AS miny, max(y) AS maxy
              FROM q),
        pr AS (SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dd
               FROM (SELECT * FROM q WHERE cat = '{cat_a}') a,
                    (SELECT * FROM q WHERE cat = '{cat_b}') b),
        s AS (SELECT {sums} FROM pr),
        sel AS ({sel})
        SELECT sel.d_ppm, sel.pairs, g.n_a, g.n_b,
               CASE WHEN g.n_a > 0 AND g.n_b > 0
               THEN CAST(FLOOR(1000000.0 * {kraw}) AS BIGINT) ELSE NULL END AS k_ppm,
               CASE WHEN g.n_a > 0 AND g.n_b > 0
               THEN CAST(FLOOR(1000000.0 * SQRT({kraw} / 3.141592653589793)) AS BIGINT)
               ELSE NULL END AS l_ppm
        FROM sel, g
    """


def colocation_pi(
    points: DataFrame,
    d: float = 0.25,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cat_col: str = "category",
    id_col: str = "fid",
) -> DataFrame:
    """Colocation-pattern participation index (Shekhar & Huang, SSTD 2001)
    for every category pair at neighbor radius ``d``: the participation
    ratio pr(a | {a,b}) is the fraction of a's instances with at least one
    b-neighbor within d, and PI(a,b) = min(pr(a), pr(b)) — the standard
    prevalence measure for "these two feature types occur together".
    Complements :func:`cross_k` (which measures pair *density*; PI measures
    pattern *coverage* and is robust to a few prolific instances).

    Returns one row per unordered category pair that has at least one
    neighbor pair: (cat_a, cat_b, pairs, n_a, n_b, part_a, part_b, pi_ppm)
    with cat_a < cat_b, part_* = distinct participating instances, and
    pi_ppm the integer-exact floor(1e6 * PI) — no float ever enters, so
    the oracle is hash-exact by construction.

    100 TB shape: one cell-neighborhood self-join (:func:`_near_pairs` —
    probe side explodes to the FORWARD half-neighborhood only, x5 instead
    of x9, build side keeps its exact cell, join keys uniform under
    clustering), one distinct-participant aggregation per side, and a
    broadcast join against the category totals (category
    cardinality-sized).  Nothing is ever all-pairs: output is bounded by
    true neighbor pairs.  The forward half emits the same pair SET as the
    full 3x3 probe (see ``operators/neighborhood.py``), so results are
    hash-equal while the exploded shuffle and candidate volume nearly
    halve."""
    c = float(d)
    if c <= 0:
        raise ValueError("d must be positive")
    pts = points.select(
        F.col(id_col).alias("_pid"),
        F.col(lon_col).cast("double").alias("x"),
        F.col(lat_col).cast("double").alias("y"),
        F.col(cat_col).alias("_cat"),
    )
    near = _near_pairs(pts, c).filter(F.col("a_cat") != F.col("b_cat"))
    lo_first = F.col("a_cat") < F.col("b_cat")
    grouped = near.select(
        F.least("a_cat", "b_cat").alias("cat_a"),
        F.greatest("a_cat", "b_cat").alias("cat_b"),
        F.when(lo_first, F.col("a_pid")).otherwise(F.col("b_pid")).alias("_lo_pid"),
        F.when(lo_first, F.col("b_pid")).otherwise(F.col("a_pid")).alias("_hi_pid"),
    ).groupBy("cat_a", "cat_b").agg(
        F.count(F.lit(1)).alias("pairs"),
        F.countDistinct("_lo_pid").alias("part_a"),
        F.countDistinct("_hi_pid").alias("part_b"),
    )
    totals = pts.groupBy("_cat").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    out = (
        grouped.join(
            F.broadcast(totals.select(F.col("_cat").alias("cat_a"), F.col("_n").alias("n_a"))),
            "cat_a",
        )
        .join(
            F.broadcast(totals.select(F.col("_cat").alias("cat_b"), F.col("_n").alias("n_b"))),
            "cat_b",
        )
    )
    # integer-exact ppm ratios: part * 1e6 < 2^53, so the double division
    # under floor is exact; DuckDB's // mirrors it
    pr_a = F.floor((F.col("part_a") * F.lit(1_000_000)) / F.col("n_a"))
    pr_b = F.floor((F.col("part_b") * F.lit(1_000_000)) / F.col("n_b"))
    return out.select(
        "cat_a",
        "cat_b",
        "pairs",
        "n_a",
        "n_b",
        "part_a",
        "part_b",
        F.least(pr_a, pr_b).cast("long").alias("pi_ppm"),
    )


def colocation_pi_sql(points_path: str, d: float = 0.25) -> str:
    """DuckDB twin of :func:`colocation_pi`: brute-force cross-category
    pair matrix (independent algorithm), identical integer arithmetic."""
    c = float(d)
    return f"""
        WITH p AS (SELECT fid AS pid, lon AS x, lat AS y, category AS cat
                   FROM '{points_path}'),
        tot AS (SELECT cat, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY cat),
        pr AS (SELECT least(a.cat, b.cat) AS cat_a, greatest(a.cat, b.cat) AS cat_b,
                      CASE WHEN a.cat < b.cat THEN a.pid ELSE b.pid END AS lo_pid,
                      CASE WHEN a.cat < b.cat THEN b.pid ELSE a.pid END AS hi_pid
               FROM p a JOIN p b ON a.pid < b.pid
               WHERE a.cat <> b.cat
                 AND (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) <= {c!r} * {c!r}),
        g AS (SELECT cat_a, cat_b, CAST(count(*) AS BIGINT) AS pairs,
                     CAST(count(DISTINCT lo_pid) AS BIGINT) AS part_a,
                     CAST(count(DISTINCT hi_pid) AS BIGINT) AS part_b
              FROM pr GROUP BY cat_a, cat_b)
        SELECT g.cat_a, g.cat_b, g.pairs, ta.n AS n_a, tb.n AS n_b,
               g.part_a, g.part_b,
               CAST(least((g.part_a * 1000000) // ta.n,
                          (g.part_b * 1000000) // tb.n) AS BIGINT) AS pi_ppm
        FROM g
        JOIN tot ta ON ta.cat = g.cat_a
        JOIN tot tb ON tb.cat = g.cat_b
    """

def local_morans_i(
    points: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Local Moran's I (Anselin 1995, "LISA") over gridded point counts
    with binary 8-neighbor weights — the per-cell decomposition of
    :func:`morans_i` and the standard cluster/outlier map (HH/LH/LL/HL)
    next to the Gi* hotspot map.

        I_i = n * (x_i - xbar) * (lag_i) / sum_k (x_k - xbar)^2,
        lag_i = sum_j w_ij (x_j - xbar) = wx_i - wn_i * xbar

    Everything aggregates over INTEGERS (cell counts, neighbor sums,
    global sums); the statistic is one pinned float expression over those
    exact numbers, ppm-FLOOR quantized, NULL when the variance is 0.
    Returns (xb, yb, n_neighbors, lisa_ppm, quadrant) for every occupied
    cell with >= 1 occupied neighbor; quadrant 1=HH 2=LH 3=LL 4=HL from
    the signs of (x_i - xbar) and lag_i.

    100 TB shape: identical to :func:`gi_star` — one gridding shuffle,
    one bounded 8-offset cell-table explode + equi-join, a broadcast
    1-row global agg."""
    cells = cell_counts(points, cell_deg, lon_col, lat_col).localCheckpoint()
    nb = (
        neighbor_join(
            cells.select("xb", "yb", F.col("x").alias("_xj")),
            cells.select("xb", "yb", F.col("x").alias("_xi")),
            ("xb", "yb"),
            RING,
        )
        .groupBy("xb", "yb", "_xi")
        .agg(F.count("*").alias("wn"), F.sum("_xj").alias("wx"))
    )
    g = cells.agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("x").cast("double").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("_sx2"),
    )
    xbar = F.col("_sx") / F.col("_n")
    zi = F.col("_xi").cast("double") - xbar
    lag = F.col("wx").cast("double") - F.col("wn").cast("double") * xbar
    den = F.col("_sx2") - F.col("_sx") * F.col("_sx") / F.col("_n")
    lisa = F.col("_n") * zi * lag / den
    quadrant = (
        F.when((zi > 0) & (lag > 0), 1)
        .when((zi <= 0) & (lag > 0), 2)
        .when((zi <= 0) & (lag <= 0), 3)
        .otherwise(4)
    )
    return nb.crossJoin(F.broadcast(g)).select(
        "xb",
        "yb",
        F.col("wn").alias("n_neighbors"),
        F.when(den > 0, F.floor(lisa * F.lit(1000000.0)).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("lisa_ppm"),
        quadrant.alias("quadrant"),
    )


def local_morans_i_sql(points_path: str, cell_deg: float) -> str:
    """DuckDB twin of :func:`local_morans_i`: same integer aggregates,
    term-for-term identical float expression, BETWEEN neighborhood."""
    return f"""
        WITH cells AS (
          SELECT CAST(FLOOR(lon / {cell_deg!r}) AS BIGINT) AS xb,
                 CAST(FLOOR(lat / {cell_deg!r}) AS BIGINT) AS yb,
                 count(*) AS x
          FROM '{points_path}' GROUP BY 1, 2),
        g AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(x * x) AS DOUBLE) AS sx2
          FROM cells),
        nb AS (
          SELECT a.xb, a.yb, a.x AS xi,
                 count(*) AS wn, SUM(b.x) AS wx
          FROM cells a JOIN cells b
            ON b.xb BETWEEN a.xb - 1 AND a.xb + 1
           AND b.yb BETWEEN a.yb - 1 AND a.yb + 1
           AND NOT (b.xb = a.xb AND b.yb = a.yb)
          GROUP BY a.xb, a.yb, a.x)
        SELECT nb.xb, nb.yb, nb.wn AS n_neighbors,
               CASE WHEN (g.sx2 - g.sx * g.sx / g.n) > 0 THEN
                 CAST(FLOOR(g.n * (CAST(nb.xi AS DOUBLE) - g.sx / g.n)
                      * (CAST(nb.wx AS DOUBLE)
                         - CAST(nb.wn AS DOUBLE) * (g.sx / g.n))
                      / (g.sx2 - g.sx * g.sx / g.n)
                      * 1000000.0) AS BIGINT)
               ELSE NULL END AS lisa_ppm,
               CASE WHEN (CAST(nb.xi AS DOUBLE) - g.sx / g.n) > 0
                     AND (CAST(nb.wx AS DOUBLE)
                          - CAST(nb.wn AS DOUBLE) * (g.sx / g.n)) > 0 THEN 1
                    WHEN (CAST(nb.xi AS DOUBLE) - g.sx / g.n) <= 0
                     AND (CAST(nb.wx AS DOUBLE)
                          - CAST(nb.wn AS DOUBLE) * (g.sx / g.n)) > 0 THEN 2
                    WHEN (CAST(nb.xi AS DOUBLE) - g.sx / g.n) <= 0
                     AND (CAST(nb.wx AS DOUBLE)
                          - CAST(nb.wn AS DOUBLE) * (g.sx / g.n)) <= 0 THEN 3
                    ELSE 4 END AS quadrant
        FROM nb CROSS JOIN g
    """

def cell_diversity(
    points: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cat_col: str = "category",
) -> DataFrame:
    """Per-cell Shannon diversity of the category mix (the landscape-
    ecology / mixture-diagnostics staple next to the density statistics):
    H_i = -sum_c p_c ln p_c over the categories present in cell i, with
    p_c = n_ic / n_i.  H = 0 for single-category cells; ln(k) for a
    perfectly even k-category mix.

    Determinism: each category's term -p ln p is floor-quantized to
    micro-nats BEFORE the per-cell sum (the per-term-quantize rule), and
    p is one exact integer ratio, so the engines agree bit-for-bit.
    Also returns the evenness ratio H / ln(n_cats) in ppm (NULL for
    single-category cells, where evenness is undefined).

    100 TB shape: one gridding shuffle to (cell, category) counts, one
    re-agg to cells — both uniform keys; category cardinality bounds the
    blowup at x|cats|, nothing is ever per-point downstream."""
    c = float(cell_deg)
    per_cat = (
        points.select(
            F.floor(F.col(lon_col) / c).cast("long").alias("xb"),
            F.floor(F.col(lat_col) / c).cast("long").alias("yb"),
            F.col(cat_col).alias("_cat"),
        )
        .groupBy("xb", "yb", "_cat")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    totals = per_cat.groupBy("xb", "yb").agg(F.sum("nc").alias("n"))
    p = F.col("nc").cast("double") / F.col("n").cast("double")
    term = F.floor(-p * F.log(p) * 1_000_000).cast("long")
    agg = (
        per_cat.join(totals, ["xb", "yb"])
        .select("xb", "yb", "n", term.alias("_t"))
        .groupBy("xb", "yb", "n")
        .agg(F.count(F.lit(1)).alias("n_cats"), F.sum("_t").alias("shannon_micro"))
    )
    evenness = F.floor(
        F.col("shannon_micro").cast("double")
        / (F.log(F.col("n_cats").cast("double")) * 1_000_000)
        * 1_000_000
    ).cast("long")
    return agg.select(
        "xb",
        "yb",
        F.col("n").alias("n_points"),
        "n_cats",
        "shannon_micro",
        F.when(F.col("n_cats") > 1, evenness).alias("evenness_ppm"),
    )


def cell_diversity_sql(points_path: str, cell_deg: float) -> str:
    """DuckDB twin of :func:`cell_diversity`: identical quantization and
    expression trees."""
    c = float(cell_deg)
    return f"""
        WITH per_cat AS (
          SELECT CAST(FLOOR(lon / {c!r}) AS BIGINT) AS xb,
                 CAST(FLOOR(lat / {c!r}) AS BIGINT) AS yb,
                 category, COUNT(*) AS nc
          FROM '{points_path}' GROUP BY 1, 2, 3),
        totals AS (
          SELECT xb, yb, SUM(nc) AS n FROM per_cat GROUP BY 1, 2),
        agg AS (
          SELECT p.xb, p.yb, t.n, COUNT(*) AS n_cats,
                 SUM(CAST(floor(-(CAST(p.nc AS DOUBLE) / CAST(t.n AS DOUBLE))
                     * ln(CAST(p.nc AS DOUBLE) / CAST(t.n AS DOUBLE))
                     * 1000000) AS BIGINT)) AS shannon_micro
          FROM per_cat p JOIN totals t USING (xb, yb)
          GROUP BY 1, 2, 3)
        SELECT xb, yb, n AS n_points, n_cats, shannon_micro,
               CASE WHEN n_cats > 1 THEN
                 CAST(floor(CAST(shannon_micro AS DOUBLE)
                      / (ln(CAST(n_cats AS DOUBLE)) * 1000000)
                      * 1000000) AS BIGINT)
               ELSE NULL END AS evenness_ppm
        FROM agg
    """
