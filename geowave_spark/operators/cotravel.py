"""Co-traveler detection: entity pairs repeatedly co-located in space+time.

The classic "companion" / "travelling together" analytic over movement
data: two entities co-travel when their pings fall within ``radius_deg``
AND ``tau_s`` of each other, repeatedly.  The reference indexes tracks for
spatial-temporal range scans (`core/geotime/.../SpatialTemporalQuery.java`)
but has no pairwise movement analytic; this is the beyond-reference
movement-family capstone the round brief calls for, built as a bucketed
spatio-temporal self-join — the same candidate-then-refine discipline as
`operators/spatial_join.py`.

Plan shape (one shuffle, no DISTINCT, nothing quadratic):

- pings: LINESTRING vertex explode (`trajectory.track_vertices`) + an
  exact-integer per-vertex timestamp (microseconds, floor-interpolated
  between the track's start/end — BIGINT arithmetic, identical in any
  engine).
- bucket keys: space cell = floor(x/radius), floor(y/radius); time bin =
  tu / tau (integer div).  A qualifying pair differs by <=1 in each key.
- candidates: side A explodes to the forward half of its 3x3x3 (cell,
  bin) block (`neighborhood.SPACE_TIME_FORWARD`: 5 cells at the same bin,
  all 9 at bin+1 — 14 copies, a bounded map-side constant); side B keeps
  its exact key; one (cell,bin) equi-join.  The exactly-once rule that
  replaces a dedup shuffle: a same-bin same-cell pair matches in BOTH
  orientations -> keep only ping_a < ping_b, where ping order is (fid,
  idx) lexicographic; every other pair matches in one orientation only.
- refine: |dt| <= tau and squared planar-degree distance <= radius^2
  (doubles, identical IEEE evaluation order in Spark and DuckDB — the
  `operators/trajectory.py` convention).
- aggregate: groupBy canonical (fid_lo, fid_hi): ping-pair count + distinct
  co-occurrence time bins (bin of the earlier ping).

100 TB shape: the only shuffle is the (cell, bin) hash join — keys are
uniform under clustering because a metro blob spans thousands of
radius-sized cells x time bins (the `operators/hotspot.py` argument, with
time as an extra smoothing dimension).  The 14x explode multiplies map
output, not join fan-out; output is bounded by true co-travel events
(output-sensitive, like the Hausdorff join's candidate stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.neighborhood import QUEEN, SPACE_TIME_FORWARD, neighbor_join

US = 1_000_000  # microseconds per second


def track_pings(
    tracks: DataFrame,
    wkt_col: str = "geom_wkt",
    fid_col: str = "fid",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """(fid, idx, x, y, tu): vertices with exact-integer interpolated
    timestamps — vertex i of an n-vertex track pings at
    ``start + floor(i * (end - start) / (n - 1))`` microseconds (BIGINT all
    the way; a 2-vertex track spans its full window, 1-vertex tracks are
    dropped as timeless)."""
    # the WKT parse is the expensive map stage: if the source exposes fewer
    # splits than cores (the single-file local fixture; never a real 100-TB
    # table, which arrives in thousands of files), spread the RAW rows first
    # so the parse parallelizes — guarded, so well-split inputs pay nothing
    sc = tracks.sparkSession.sparkContext
    if tracks.rdd.getNumPartitions() < sc.defaultParallelism:
        tracks = tracks.repartition(sc.defaultParallelism)
    # same WKT parse as trajectory.track_vertices, carrying the time window
    body = F.regexp_replace(F.col(wkt_col), r"LINESTRING \(|\)", "")
    verts = F.transform(
        F.split(body, ", "),
        lambda p: F.struct(
            F.split(p, " ")[0].cast("double").alias("x"),
            F.split(p, " ")[1].cast("double").alias("y"),
        ),
    )
    return (
        tracks.select(
            F.col(fid_col).alias("fid"),
            F.unix_micros(F.col(start_col).cast("timestamp")).alias("_su"),
            F.unix_micros(F.col(end_col).cast("timestamp")).alias("_eu"),
            F.posexplode(verts).alias("idx", "_v"),
            F.size(verts).alias("_n"),
        )
        .filter(F.col("_n") >= F.lit(2))
        .select(
            "fid",
            "idx",
            F.col("_v.x").alias("x"),
            F.col("_v.y").alias("y"),
            (
                F.col("_su")
                + F.floor(
                    F.col("idx") * (F.col("_eu") - F.col("_su")) / (F.col("_n") - 1)
                )
            )
            .cast("long")
            .alias("tu"),
        )
    )


def cotravel_hits(
    tracks: DataFrame,
    radius_deg: float = 0.2,
    tau_s: int = 14400,
) -> DataFrame:
    """One row per qualifying ping pair: (fid_a, fid_b, cobin) with
    fid_a < fid_b canonical and ``cobin`` = the earlier ping's tau bin —
    the shared candidate+refine stage under ``cotravel_pairs`` (pair
    aggregation) and ``convoy_pairs`` (consecutive-bin islands)."""
    if radius_deg <= 0 or tau_s <= 0:
        raise ValueError("radius_deg and tau_s must be positive")
    tau_u = int(tau_s) * US
    p = track_pings(tracks)
    keyed = p.select(
        "fid",
        "idx",
        "x",
        "y",
        "tu",
        F.floor(F.col("x") / F.lit(float(radius_deg))).cast("long").alias("cx"),
        F.floor(F.col("y") / F.lit(float(radius_deg))).cast("long").alias("cy"),
        F.floor(F.col("tu") / F.lit(tau_u)).cast("long").alias("tb"),
    )
    # both join sides read `keyed`: materialize the parsed/keyed pings ONCE
    # (the hotspot-family single-corpus-scan discipline) — without this the
    # WKT vertex parse runs in each branch.  eager=False: nothing runs
    # unless the query itself does.
    keyed = keyed.localCheckpoint(eager=False)
    # the forward half of the 3x3x3 block (see the module docstring): the
    # full block's hit set at ~half the exploded volume
    a, b = (
        keyed.select(
            *[F.col(c).alias(f"{c}_{side}") for c in ("fid", "idx", "x", "y", "tu")],
            "cx",
            "cy",
            "tb",
        )
        for side in "ab"
    )
    r2 = float(radius_deg) * float(radius_deg)
    dx = F.col("x_a") - F.col("x_b")
    dy = F.col("y_a") - F.col("y_b")
    ping_a_lt_b = (F.col("fid_a") < F.col("fid_b")) | (
        (F.col("fid_a") == F.col("fid_b")) & (F.col("idx_a") < F.col("idx_b"))
    )
    pairs = (
        neighbor_join(a, b, ("cx", "cy", "tb"), SPACE_TIME_FORWARD, before=ping_a_lt_b)
        .filter(F.col("fid_a") != F.col("fid_b"))
        .filter(F.abs(F.col("tu_a") - F.col("tu_b")) <= F.lit(tau_u))
        .filter(dx * dx + dy * dy <= F.lit(r2))
    )
    lo_t = F.least(F.col("tu_a"), F.col("tu_b"))
    return pairs.select(
        F.least("fid_a", "fid_b").alias("fid_a"),
        F.greatest("fid_a", "fid_b").alias("fid_b"),
        F.floor(lo_t / F.lit(tau_u)).cast("long").alias("cobin"),
    )


def cotravel_pairs(
    tracks: DataFrame,
    radius_deg: float = 0.2,
    tau_s: int = 14400,
    min_pairs: int = 1,
) -> DataFrame:
    """Entity pairs with >= ``min_pairs`` ping co-occurrences within
    ``radius_deg`` planar degrees and ``tau_s`` seconds.

    Returns (fid_a, fid_b, n_pairs, n_bins): fid_a < fid_b, ping-pair count
    and distinct co-occurrence time bins (earlier ping's bin)."""
    return (
        cotravel_hits(tracks, radius_deg, tau_s)
        .groupBy("fid_a", "fid_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("cobin").alias("n_bins"),
        )
        .filter(F.col("n_pairs") >= F.lit(int(min_pairs)))
    )


def convoy_pairs(
    tracks: DataFrame,
    radius_deg: float = 0.2,
    tau_s: int = 14400,
    min_len: int = 2,
) -> DataFrame:
    """Sustained companions: pairs co-located in >= ``min_len``
    CONSECUTIVE tau bins — the pairwise core of convoy/flock detection
    (Jeung et al., "Discovery of Convoys in Trajectory Databases",
    VLDB 2008): a convoy requires density-connection sustained over k
    consecutive timestamps; the pairwise sustained-k relation is its
    candidate graph.  Built as gaps-and-islands over the distinct
    co-occurrence bins: island id = cobin - row_number() is constant
    exactly on maximal consecutive runs.

    Returns (fid_a, fid_b, n_bins, max_run): total distinct co-bins and
    the longest consecutive run, filtered to max_run >= min_len.

    100 TB shape: the hits stage is the cotravel bucketed join; after a
    distinct (pair, bin) agg, the window partitions by pair — million-row
    partitions would need a pair to co-occur for a million consecutive
    bins, so the window never skews."""
    from pyspark.sql.window import Window

    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    bins = (
        cotravel_hits(tracks, radius_deg, tau_s)
        .select("fid_a", "fid_b", "cobin")
        .distinct()
    )
    w = Window.partitionBy("fid_a", "fid_b").orderBy("cobin")
    runs = bins.withColumn("isl", F.col("cobin") - F.row_number().over(w)).groupBy(
        "fid_a", "fid_b", "isl"
    )
    return (
        runs.agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("fid_a", "fid_b")
        .agg(
            F.sum("run_len").alias("n_bins"),
            F.max("run_len").alias("max_run"),
        )
        .filter(F.col("max_run") >= F.lit(int(min_len)))
    )


def _hits_ctes(tracks_path: str, radius_deg: float, tau_s: int) -> str:
    """Shared DuckDB CTE prefix (raw -> pings -> hits): an independent
    time-band self-join (no cell bucketing, no orientation trick; IEJoin
    handles the band) with the same exact-integer ping interpolation and
    the same refine arithmetic as the Spark side."""
    tau_u = int(tau_s) * US
    r2 = float(radius_deg) * float(radius_deg)
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH raw AS (
          SELECT fid, epoch_us(start_ts) AS su, epoch_us(end_ts) AS eu,
                 unnest({verts}) AS vert,
                 generate_subscripts({verts}, 1) AS idx1,
                 len({verts}) AS n
          FROM '{tracks_path}'),
        pings AS (
          SELECT fid, idx1 - 1 AS idx, vert.x AS x, vert.y AS y,
                 su + CAST(floor((idx1 - 1) * (eu - su) / (n - 1)) AS BIGINT) AS tu
          FROM raw WHERE n >= 2),
        hits AS (
          SELECT p1.fid AS fid_a, p2.fid AS fid_b,
                 CAST(floor(least(p1.tu, p2.tu) / {tau_u}) AS BIGINT) AS cobin
          FROM pings p1, pings p2
          WHERE p1.fid < p2.fid
            AND p2.tu BETWEEN p1.tu - {tau_u} AND p1.tu + {tau_u}
            AND (p1.x - p2.x) * (p1.x - p2.x)
              + (p1.y - p2.y) * (p1.y - p2.y) <= {r2!r})
    """


def cotravel_sql(
    tracks_path: str,
    radius_deg: float = 0.2,
    tau_s: int = 14400,
    min_pairs: int = 1,
) -> str:
    """DuckDB twin of :func:`cotravel_pairs` (see :func:`_hits_ctes`)."""
    return f"""
        {_hits_ctes(tracks_path, radius_deg, tau_s)}
        SELECT fid_a, fid_b,
               count(*) AS n_pairs,
               count(DISTINCT cobin) AS n_bins
        FROM hits
        GROUP BY fid_a, fid_b
        HAVING count(*) >= {int(min_pairs)}
    """


def convoy_sql(
    tracks_path: str,
    radius_deg: float = 0.2,
    tau_s: int = 14400,
    min_len: int = 2,
) -> str:
    """DuckDB twin of :func:`convoy_pairs`: same gaps-and-islands over the
    independent time-band hits join."""
    return f"""
        {_hits_ctes(tracks_path, radius_deg, tau_s)},
        bins AS (SELECT DISTINCT fid_a, fid_b, cobin FROM hits),
        isl AS (
          SELECT fid_a, fid_b,
                 cobin - ROW_NUMBER() OVER (
                   PARTITION BY fid_a, fid_b ORDER BY cobin) AS isl
          FROM bins),
        runs AS (
          SELECT fid_a, fid_b, count(*) AS run_len
          FROM isl GROUP BY fid_a, fid_b, isl)
        SELECT fid_a, fid_b,
               sum(run_len) AS n_bins,
               max(run_len) AS max_run
        FROM runs
        GROUP BY fid_a, fid_b
        HAVING max(run_len) >= {int(min_len)}
    """


def snapshot_clusters(
    tracks: DataFrame,
    eps_deg: float,
    bin_s: int,
    min_pts: int = 3,
) -> DataFrame:
    """Per-time-bin density clusters of track pings: every ping of every
    entity is grid-bucketed within its own time bin and clustered by the
    shared DBSCAN label propagation (`operators/clustering.py
    _cluster_from_edges`) — since no edge ever crosses a bin, ALL bins
    cluster in ONE propagation run (components are bin-local by
    construction; the plan never loops over bins).

    Returns ping-level membership: (bin, cluster, fid) distinct — the
    entity sets of every snapshot cluster."""
    from geowave_spark.operators.clustering import _cluster_from_edges

    if eps_deg <= 0 or bin_s <= 0:
        raise ValueError("eps_deg and bin_s must be positive")
    bin_u = int(bin_s) * US
    p = track_pings(tracks).select(
        F.concat_ws(":", "fid", "idx").alias("_pid"),
        "fid",
        "x",
        "y",
        F.floor(F.col("tu") / F.lit(bin_u)).cast("long").alias("bin"),
    )
    keyed = p.select(
        "*",
        F.floor(F.col("x") / F.lit(float(eps_deg))).cast("long").alias("cx"),
        F.floor(F.col("y") / F.lit(float(eps_deg))).cast("long").alias("cy"),
    )
    a, b = (
        keyed.select(
            F.col("_pid").alias(side),
            F.col("x").alias(f"x_{side}"),
            F.col("y").alias(f"y_{side}"),
            "cx",
            "cy",
            "bin",
        )
        for side in "ab"
    )
    d2 = (F.col("x_a") - F.col("x_b")) ** 2 + (F.col("y_a") - F.col("y_b")) ** 2
    # same time bin only: the 2-D offsets with the bin unshifted
    edges = (
        neighbor_join(a, b, ("cx", "cy", "bin"), tuple(o + (0,) for o in QUEEN))
        .filter(F.col("a") != F.col("b"))
        .filter(d2 <= F.lit(float(eps_deg) * float(eps_deg)))
        .select("a", "b")
    )
    members = _cluster_from_edges(edges, min_pts, "a").withColumnRenamed("a", "_pid")
    return (
        members.join(p.select("_pid", "fid", "bin"), "_pid")
        .select("bin", "cluster", "fid")
        .distinct()
    )


def moving_clusters(
    tracks: DataFrame,
    eps_deg: float = 0.5,
    bin_s: int = 7 * 86400,
    min_pts: int = 3,
    theta_ppm: int = 300_000,
) -> DataFrame:
    """Moving clusters (Kalnis, Mamoulis & Bakiras, SSTD 2005): pairs of
    snapshot clusters in CONSECUTIVE time bins whose entity sets overlap
    with Jaccard >= theta — the cluster-level convoy analytic above the
    pairwise :func:`convoy_pairs`.  The reference has no movement
    analytics; this is the movement-family capstone built entirely from
    parts already proven here (grid edges, shared label propagation, one
    equi-join on entity).

    Returns (bin, cluster_a, cluster_b, n_a, n_b, shared, jaccard_ppm):
    cluster_a lives in ``bin``, cluster_b in ``bin + 1``, jaccard_ppm the
    integer-exact floor(1e6 * |A&B| / |A|B|).

    100 TB shape: one ping scan, one bounded 9x explode edge join keyed by
    (bin, cell) — uniform keys — one label propagation (O(log diameter)
    rounds over core edges), then the chain join keyed by entity id: an
    entity is in at most one cluster per bin, so the join fan-out per
    (entity, bin) is 1 and the output is bounded by true chains."""
    if not 0 < theta_ppm <= 1_000_000:
        raise ValueError("theta_ppm must be in (0, 1e6]")
    m = snapshot_clusters(tracks, eps_deg, bin_s, min_pts)
    sizes = m.groupBy("bin", "cluster").agg(F.count(F.lit(1)).alias("n"))
    a = m.select(F.col("bin"), F.col("cluster").alias("cluster_a"), "fid")
    b = m.select(
        (F.col("bin") - 1).alias("bin"), F.col("cluster").alias("cluster_b"), "fid"
    )
    shared = (
        a.join(b, ["bin", "fid"])
        .groupBy("bin", "cluster_a", "cluster_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(
            sizes.select(
                "bin", F.col("cluster").alias("cluster_a"), F.col("n").alias("n_a")
            ),
            ["bin", "cluster_a"],
        )
        .join(
            sizes.select(
                (F.col("bin") - 1).alias("bin"),
                F.col("cluster").alias("cluster_b"),
                F.col("n").alias("n_b"),
            ),
            ["bin", "cluster_b"],
        )
    )
    jac = F.floor(
        (F.col("shared") * F.lit(1_000_000))
        / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    ).cast("long")
    return out.select(
        "bin",
        "cluster_a",
        "cluster_b",
        "n_a",
        "n_b",
        "shared",
        jac.alias("jaccard_ppm"),
    ).filter(F.col("jaccard_ppm") >= F.lit(int(theta_ppm)))


def moving_clusters_sql(
    tracks_path: str,
    eps_deg: float = 0.5,
    bin_s: int = 7 * 86400,
    min_pts: int = 3,
    theta_ppm: int = 300_000,
) -> str:
    """DuckDB twin of :func:`moving_clusters`: WITH RECURSIVE reachability
    per (bin-local) component — independent of the Spark label
    propagation — then the same integer chain arithmetic."""
    bin_u = int(bin_s) * US
    e2 = float(eps_deg) * float(eps_deg)
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH RECURSIVE raw AS (
          SELECT fid, epoch_us(start_ts) AS su, epoch_us(end_ts) AS eu,
                 unnest({verts}) AS vert,
                 generate_subscripts({verts}, 1) AS idx1,
                 len({verts}) AS n
          FROM '{tracks_path}'),
        pings AS (
          SELECT fid || ':' || CAST(idx1 - 1 AS VARCHAR) AS pid, fid,
                 vert.x AS x, vert.y AS y,
                 CAST(floor((su + CAST(floor((idx1 - 1) * (eu - su) / (n - 1))
                   AS BIGINT)) / {bin_u}) AS BIGINT) AS bin
          FROM raw WHERE n >= 2),
        edges AS (
          SELECT p.pid AS a, q.pid AS b
          FROM pings p JOIN pings q
            ON p.bin = q.bin AND p.pid <> q.pid
           AND (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= {e2!r}),
        core AS (SELECT a AS id FROM edges GROUP BY a
                 HAVING count(*) >= {int(min_pts) - 1}),
        cc AS (SELECT e.a, e.b FROM edges e
               WHERE e.a IN (SELECT id FROM core) AND e.b IN (SELECT id FROM core)),
        reach(id, r) AS (
          SELECT id, id FROM core
          UNION
          SELECT cc.a, reach.r FROM cc JOIN reach ON reach.id = cc.b),
        labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
        border AS (
          SELECT e.a AS id, MIN(e.b) AS attach FROM edges e
          WHERE e.b IN (SELECT id FROM core) AND e.a NOT IN (SELECT id FROM core)
          GROUP BY e.a),
        members0 AS (
          SELECT id, label FROM labels
          UNION ALL
          SELECT b.id, l.label FROM border b JOIN labels l ON l.id = b.attach),
        members AS (
          SELECT DISTINCT p.bin, m.label AS cluster, p.fid
          FROM members0 m JOIN pings p ON p.pid = m.id),
        sizes AS (SELECT bin, cluster, CAST(count(*) AS BIGINT) AS n
                  FROM members GROUP BY bin, cluster),
        chains AS (
          SELECT a.bin, a.cluster AS cluster_a, b.cluster AS cluster_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM members a JOIN members b
            ON b.bin = a.bin + 1 AND b.fid = a.fid
          GROUP BY a.bin, a.cluster, b.cluster)
        SELECT c.bin, c.cluster_a, c.cluster_b, sa.n AS n_a, sb.n AS n_b,
               c.shared,
               CAST((c.shared * 1000000) // (sa.n + sb.n - c.shared) AS BIGINT)
                 AS jaccard_ppm
        FROM chains c
        JOIN sizes sa ON sa.bin = c.bin AND sa.cluster = c.cluster_a
        JOIN sizes sb ON sb.bin = c.bin + 1 AND sb.cluster = c.cluster_b
        WHERE (c.shared * 1000000) // (sa.n + sb.n - c.shared) >= {int(theta_ppm)}
    """
