"""Trajectory operators over LINESTRING tracks: vertex explosion and
stay-point detection.

Stay-points (Li et al. 2008, "Mining user similarity based on location
history"): a vertex anchors a stay iff the next ``min_run - 1`` vertices of
the same track all remain within ``radius_deg`` of it — the distance-only
variant of the classic detector (the fixture tracks carry no per-vertex
timestamps; with them the run predicate gains a duration term, same plan).

Plan shape: WKT parse + posexplode is one narrow projection; the run
predicate is ``min_run - 1`` LEAD columns over (track, vertex-order) — one
shuffle on the track id, bounded window state, no Python anywhere.  At
100 TB the window partitions by track id, which is the natural key (tracks
are bounded; a single track never outgrows an executor).

The reference stores tracks as single geometries and answers range/temporal
constraints over them (`core/geotime/.../SpatialTemporalQuery.java`);
per-vertex sequence analytics are beyond-reference scope from the round
brief's trajectory family.  Distances are squared planar degrees, the
engine's DBSCAN convention (`operators/clustering.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geowave_spark.operators.neighborhood import QUEEN, neighbor_join
from geowave_spark.plans.lineage import truncate_plan


def track_vertices(
    tracks: DataFrame, wkt_col: str = "geom_wkt", fid_col: str = "fid"
) -> DataFrame:
    """LINESTRING WKT -> (fid, idx, x, y), idx 0-based in vertex order."""
    body = F.regexp_replace(F.col(wkt_col), r"LINESTRING \(|\)", "")
    verts = F.transform(
        F.split(body, ", "),
        lambda p: F.struct(
            F.split(p, " ")[0].cast("double").alias("x"),
            F.split(p, " ")[1].cast("double").alias("y"),
        ),
    )
    return tracks.select(
        F.col(fid_col).alias("fid"), F.posexplode(verts).alias("idx", "v")
    ).select("fid", "idx", F.col("v.x").alias("x"), F.col("v.y").alias("y"))


def staypoints(
    tracks: DataFrame,
    radius_deg: float = 0.15,
    min_run: int = 3,
    wkt_col: str = "geom_wkt",
    fid_col: str = "fid",
) -> DataFrame:
    """Stay-point anchors: (fid, anchor_idx, anchor_lon, anchor_lat)."""
    if min_run < 2:
        raise ValueError("min_run must be >= 2 (a stay needs a successor)")
    v = track_vertices(tracks, wkt_col, fid_col)
    w = Window.partitionBy("fid").orderBy("idx")
    r2 = radius_deg * radius_deg
    cond = F.lit(True)
    for j in range(1, min_run):
        lx = F.lead("x", j).over(w)
        ly = F.lead("y", j).over(w)
        cond = cond & lx.isNotNull() & (
            (lx - F.col("x")) * (lx - F.col("x"))
            + (ly - F.col("y")) * (ly - F.col("y"))
            <= F.lit(r2)
        )
    return (
        v.withColumn("_stay", cond)
        .filter(F.col("_stay"))
        .select(
            "fid",
            F.col("idx").alias("anchor_idx"),
            F.col("x").alias("anchor_lon"),
            F.col("y").alias("anchor_lat"),
        )
    )


def staypoints_sql(tracks_path: str, radius_deg: float = 0.15, min_run: int = 3) -> str:
    """DuckDB twin: same parse, same LEAD-run predicate, 0-based idx."""
    r2 = radius_deg * radius_deg
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    leads = ", ".join(
        f"lead(x, {j}) OVER w AS x{j}, lead(y, {j}) OVER w AS y{j}"
        for j in range(1, min_run)
    )
    conds = " AND ".join(
        f"x{j} IS NOT NULL AND (x{j} - x) * (x{j} - x) + (y{j} - y) * (y{j} - y) <= {r2!r}"
        for j in range(1, min_run)
    )
    return f"""
        WITH raw AS (
          SELECT fid, unnest({verts}) AS vert,
                 generate_subscripts({verts}, 1) AS idx1
          FROM '{tracks_path}'),
        flat AS (SELECT fid, idx1 - 1 AS idx, vert.x AS x, vert.y AS y FROM raw),
        led AS (
          SELECT fid, idx, x, y, {leads}
          FROM flat WINDOW w AS (PARTITION BY fid ORDER BY idx))
        SELECT fid, idx AS anchor_idx, x AS anchor_lon, y AS anchor_lat
        FROM led WHERE {conds}
    """


def od_endpoints(
    tracks: DataFrame, wkt_col: str = "geom_wkt", fid_col: str = "fid"
) -> DataFrame:
    """(fid, role 'o'|'d', lon, lat): each track's first and last vertex."""
    body = F.regexp_replace(F.col(wkt_col), r"LINESTRING \(|\)", "")
    verts = F.transform(
        F.split(body, ", "),
        lambda p: F.struct(
            F.split(p, " ")[0].cast("double").alias("x"),
            F.split(p, " ")[1].cast("double").alias("y"),
        ),
    )
    ends = F.array(
        F.struct(F.lit("o").alias("role"), F.element_at(verts, 1).alias("v")),
        F.struct(F.lit("d").alias("role"), F.element_at(verts, -1).alias("v")),
    )
    return tracks.select(F.col(fid_col).alias("fid"), F.explode(ends).alias("e")).select(
        "fid",
        F.col("e.role").alias("role"),
        F.col("e.v.x").alias("lon"),
        F.col("e.v.y").alias("lat"),
    )


def od_flows(tracks: DataFrame, zones: DataFrame, **pip_kwargs) -> DataFrame:
    """Origin-destination flow matrix: (origin_zone, dest_zone, n_tracks)
    over every (origin in zone A, destination in zone B) pair — overlapping
    zones contribute one flow per containing pair, the deterministic
    convention the oracle mirrors.

    Plan: ONE cell-bucketed PIP join localizes both endpoints (the endpoint
    table is 2 rows/track; `operators/spatial_join.pip_join` broadcasts the
    zones and derives the probe cell with pure Catalyst), then a self-join
    on the track id pairs origins with destinations, then one groupBy on the
    zone pair.  At 100 TB every stage keys on uniform ids (track id, zone
    pair); no stage is quadratic — the self-join is 1:1 per (track,
    containing-zone)."""
    ends = od_endpoints(tracks)
    from geowave_spark.operators.spatial_join import pip_join

    located = pip_join(ends, zones, **pip_kwargs).select("fid", "role", "zone_id")
    o = located.filter(F.col("role") == "o").select("fid", F.col("zone_id").alias("origin_zone"))
    d = located.filter(F.col("role") == "d").select("fid", F.col("zone_id").alias("dest_zone"))
    return (
        o.join(d, "fid")
        .groupBy("origin_zone", "dest_zone")
        .agg(F.count("*").alias("n_tracks"))
    )


def od_flows_sql(tracks_path: str, halfplanes_path: str) -> str:
    """DuckDB twin: endpoint extraction + half-plane PIP (convex zones) +
    the same o/d pairing, declaratively."""
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH v AS (SELECT fid, {verts} AS verts FROM '{tracks_path}'),
        ends AS (
          SELECT fid, 'o' AS role, verts[1].x AS px, verts[1].y AS py FROM v
          UNION ALL
          SELECT fid, 'd' AS role, verts[-1].x AS px, verts[-1].y AS py FROM v),
        inz AS (
          SELECT e.fid, e.role, h.zone_id
          FROM ends e, (SELECT DISTINCT zone_id FROM '{halfplanes_path}') h
          WHERE NOT EXISTS (
            SELECT 1 FROM '{halfplanes_path}' q
            WHERE q.zone_id = h.zone_id AND q.a * e.px + q.b * e.py > q.c))
        SELECT o.zone_id AS origin_zone, d.zone_id AS dest_zone,
               CAST(count(*) AS BIGINT) AS n_tracks
        FROM inz o JOIN inz d ON o.fid = d.fid AND d.role = 'd'
        WHERE o.role = 'o'
        GROUP BY 1, 2
    """


def track_stats(
    tracks: DataFrame, wkt_col: str = "geom_wkt", fid_col: str = "fid"
) -> DataFrame:
    """Per-track summary: (fid, n_verts, n_segs, length_udeg, duration_ms).

    Length is the planar polyline length in exact integer micro-degrees:
    each segment's sqrt(dx^2 + dy^2) is FLOOR-quantized to 1e-6 deg BEFORE
    the sum (the per-term-quantize trick — integer sums are
    order-independent, and sqrt/multiply of identical doubles are correctly
    rounded identically in every IEEE engine).

    Plan shape: the whole operator is ONE map-side projection — the vertex
    array never explodes and nothing shuffles; the per-track fold runs as a
    Catalyst ``aggregate`` over the parsed array.  At 10^12 tracks this is
    a pure scan, embarrassingly parallel, with zero Python."""
    body = F.regexp_replace(F.col(wkt_col), r"LINESTRING \(|\)", "")
    verts = F.transform(
        F.split(body, ", "),
        lambda p: F.struct(
            F.split(p, " ")[0].cast("double").alias("x"),
            F.split(p, " ")[1].cast("double").alias("y"),
        ),
    )
    # fixtures are tz-naive parquet; unix_millis of the UTC reading is the
    # queries.py convention (session tz pinned to UTC in get_spark).  Tracks
    # ingested without timestamps (e.g. plain GeoJSON) get NULL duration.
    if "start_ts" in tracks.columns and "end_ts" in tracks.columns:
        duration = F.unix_millis(F.col("end_ts").cast("timestamp")) - F.unix_millis(
            F.col("start_ts").cast("timestamp")
        )
    else:
        duration = F.lit(None).cast("long")
    t = tracks.select(
        F.col(fid_col).alias("fid"),
        verts.alias("_v"),
        duration.alias("duration_ms"),
    )
    n = F.size(F.col("_v"))
    seg = lambda i: F.floor(  # noqa: E731 — segment i -> i+1 in micro-deg
        F.sqrt(
            (F.element_at(F.col("_v"), i + 1).x - F.element_at(F.col("_v"), i).x)
            * (F.element_at(F.col("_v"), i + 1).x - F.element_at(F.col("_v"), i).x)
            + (F.element_at(F.col("_v"), i + 1).y - F.element_at(F.col("_v"), i).y)
            * (F.element_at(F.col("_v"), i + 1).y - F.element_at(F.col("_v"), i).y)
        )
        * F.lit(1000000.0)
    ).cast("long")
    length = F.aggregate(
        F.sequence(F.lit(1), n - F.lit(1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc + seg(i),
    )
    return t.select(
        "fid",
        n.alias("n_verts"),
        (n - F.lit(1)).alias("n_segs"),
        F.when(n > 1, length).otherwise(F.lit(0).cast("long")).alias("length_udeg"),
        "duration_ms",
    )


def track_stats_sql(tracks_path: str) -> str:
    """DuckDB twin: same parse, LEAD-window segment quantization, same
    integer sums (the oracle favors the declarative unnest over the fold)."""
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH raw AS (
          SELECT fid,
                 epoch_ms(end_ts) - epoch_ms(start_ts) AS duration_ms,
                 unnest({verts}) AS vert,
                 generate_subscripts({verts}, 1) AS idx
          FROM '{tracks_path}'),
        led AS (
          SELECT fid, duration_ms, idx, vert.x AS x, vert.y AS y,
                 lead(vert.x) OVER w AS nx, lead(vert.y) OVER w AS ny
          FROM raw WINDOW w AS (PARTITION BY fid ORDER BY idx))
        SELECT fid,
               CAST(count(*) AS INTEGER) AS n_verts,
               CAST(count(*) - 1 AS INTEGER) AS n_segs,
               COALESCE(CAST(SUM(CASE WHEN nx IS NOT NULL THEN
                 CAST(FLOOR(sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y))
                            * 1000000.0) AS BIGINT) END) AS BIGINT), 0)
                 AS length_udeg,
               MIN(duration_ms) AS duration_ms
        FROM led
        GROUP BY fid
    """


# ---------------------------------------------------------------------------
# Douglas-Peucker track simplification: distributed split rounds
# ---------------------------------------------------------------------------


def simplify_tracks(
    tracks: DataFrame,
    tolerance_deg: float = 0.05,
    wkt_col: str = "geom_wkt",
    fid_col: str = "fid",
) -> DataFrame:
    """Douglas-Peucker polyline simplification over every track at once:
    (fid, idx, x, y) — the kept vertices, in original vertex order.

    The classic recursion (keep a segment's farthest interior vertex iff its
    perpendicular deviation exceeds the tolerance, recurse into both halves)
    runs as DISTRIBUTED ROUNDS over a segment worklist — the adaptive-kNN /
    DBSCAN loop pattern: every round joins the active segments to their
    interior vertices, picks each segment's splitter with one ``max_by``
    agg, and replaces split segments by their two halves.  All tracks
    advance together; the number of rounds is the maximum recursion DEPTH
    across tracks (<= the longest track's vertex count, ~log n for
    non-adversarial lines), and each round's work is output-sensitive.

    Engine-exact selection rule (the DuckDB twin mirrors it term for term):
    deviation comparisons avoid the division — ``cross^2 > tol^2 * len2``
    with cross = (xj-xi)(yi-y) - (xi-x)(yj-yi), all products of stored
    doubles (correctly rounded identically everywhere); ties on cross^2
    break to the SMALLEST vertex index; degenerate zero-length segments
    never split (cross == 0).  Strict ``>`` means a vertex exactly at the
    tolerance is dropped, the usual convention.
    """
    tol2 = float(tolerance_deg) * float(tolerance_deg)
    verts = track_vertices(tracks, wkt_col, fid_col).localCheckpoint()
    ends = verts.groupBy("fid").agg(F.max("idx").alias("last"))
    vi = verts.select("fid", F.col("idx").alias("i"), F.col("x").alias("xi"), F.col("y").alias("yi"))
    vj = verts.select("fid", F.col("idx").alias("j"), F.col("x").alias("xj"), F.col("y").alias("yj"))
    active = (
        ends.filter(F.col("last") > 0)
        .select("fid", F.lit(0).alias("i"), F.col("last").alias("j"))
        .join(vi, ["fid", "i"])
        .join(vj, ["fid", "j"])
        .select("fid", "i", "xi", "yi", "j", "xj", "yj")
        .localCheckpoint()
    )
    kept = [
        verts.select("fid", "idx").join(
            ends.select("fid", F.col("last")), "fid"
        ).filter((F.col("idx") == 0) | (F.col("idx") == F.col("last"))).select("fid", "idx")
    ]
    cross = (F.col("xj") - F.col("xi")) * (F.col("yi") - F.col("y")) - (
        F.col("xi") - F.col("x")
    ) * (F.col("yj") - F.col("yi"))
    len2 = (F.col("xj") - F.col("xi")) * (F.col("xj") - F.col("xi")) + (
        F.col("yj") - F.col("yi")
    ) * (F.col("yj") - F.col("yi"))
    while active.limit(1).count() > 0:
        cand = (
            active.join(verts, "fid")
            .filter((F.col("idx") > F.col("i")) & (F.col("idx") < F.col("j")))
            .withColumn("_c2", cross * cross)
            .filter(F.col("_c2") > F.lit(tol2) * len2)
        )
        best = cand.groupBy("fid", "i", "j").agg(
            F.max_by(
                F.struct(F.col("idx").alias("k"), F.col("x").alias("xk"), F.col("y").alias("yk")),
                F.struct(F.col("_c2"), (-F.col("idx")).alias("_ni")),
            ).alias("_b")
        )
        split = active.join(best, ["fid", "i", "j"]).select(
            "fid", "i", "xi", "yi", "j", "xj", "yj",
            F.col("_b.k").alias("k"), F.col("_b.xk").alias("xk"), F.col("_b.yk").alias("yk"),
        )
        # stats-resetting round barriers (plans.lineage.truncate_plan)
        kept.append(truncate_plan(split.select("fid", F.col("k").alias("idx"))))
        halves = F.array(
            F.struct(
                F.col("i").alias("i"), F.col("xi").alias("xi"), F.col("yi").alias("yi"),
                F.col("k").alias("j"), F.col("xk").alias("xj"), F.col("yk").alias("yj"),
            ),
            F.struct(
                F.col("k").alias("i"), F.col("xk").alias("xi"), F.col("yk").alias("yi"),
                F.col("j").alias("j"), F.col("xj").alias("xj"), F.col("yj").alias("yj"),
            ),
        )
        active = (
            split.select("fid", F.explode(halves).alias("_h"))
            .select("fid", "_h.i", "_h.xi", "_h.yi", "_h.j", "_h.xj", "_h.yj")
            .filter(F.col("j") - F.col("i") > 1)  # no interior vertices -> done
        )
        active = truncate_plan(active)
    out = kept[0]
    for k in kept[1:]:
        out = out.unionByName(k)
    return out.distinct().join(verts, ["fid", "idx"]).select("fid", "idx", "x", "y")


def simplify_tracks_sql(tracks_path: str, tolerance_deg: float = 0.05) -> str:
    """DuckDB twin: the same recursion as a recursive CTE whose recursive
    term picks each segment's splitter with a correlated ORDER-BY-LIMIT
    subquery (same strict >, same smallest-index tie-break) and emits both
    halves via a 2-row lateral values join (a recursive CTE may reference
    itself only once)."""
    tol2 = float(tolerance_deg) * float(tolerance_deg)
    verts_expr = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    # the splitter of segment (i..j): farthest interior vertex over the
    # strict tolerance, ties to the smallest index — NULL when none
    k_sub = f"""(
        SELECT v.idx FROM verts v
        WHERE v.fid = s.fid AND v.idx > s.i AND v.idx < s.j
          AND ((s.xj - s.xi) * (s.yi - v.y) - (s.xi - v.x) * (s.yj - s.yi))
            * ((s.xj - s.xi) * (s.yi - v.y) - (s.xi - v.x) * (s.yj - s.yi))
            > {tol2!r} * ((s.xj - s.xi) * (s.xj - s.xi)
                          + (s.yj - s.yi) * (s.yj - s.yi))
        ORDER BY ((s.xj - s.xi) * (s.yi - v.y) - (s.xi - v.x) * (s.yj - s.yi))
               * ((s.xj - s.xi) * (s.yi - v.y) - (s.xi - v.x) * (s.yj - s.yi))
               DESC, v.idx ASC
        LIMIT 1)"""
    return f"""
        WITH RECURSIVE raw AS (
          SELECT fid, unnest({verts_expr}) AS vert,
                 generate_subscripts({verts_expr}, 1) AS idx1
          FROM '{tracks_path}'),
        verts AS (
          SELECT fid, idx1 - 1 AS idx, vert.x AS x, vert.y AS y FROM raw),
        ends AS (SELECT fid, MAX(idx) AS last FROM verts GROUP BY fid),
        seg(fid, i, xi, yi, j, xj, yj) AS (
          SELECT e.fid, 0, a.x, a.y, e.last, b.x, b.y
          FROM ends e
          JOIN verts a ON a.fid = e.fid AND a.idx = 0
          JOIN verts b ON b.fid = e.fid AND b.idx = e.last
          WHERE e.last > 0
          UNION ALL
          SELECT s.fid,
                 CASE h.half WHEN 0 THEN s.i ELSE s.k END,
                 CASE h.half WHEN 0 THEN s.xi ELSE s.xk END,
                 CASE h.half WHEN 0 THEN s.yi ELSE s.yk END,
                 CASE h.half WHEN 0 THEN s.k ELSE s.j END,
                 CASE h.half WHEN 0 THEN s.xk ELSE s.xj END,
                 CASE h.half WHEN 0 THEN s.yk ELSE s.yj END
          FROM (
            SELECT s.*, {k_sub} AS k,
                   (SELECT v.x FROM verts v
                    WHERE v.fid = s.fid AND v.idx = {k_sub}) AS xk,
                   (SELECT v.y FROM verts v
                    WHERE v.fid = s.fid AND v.idx = {k_sub}) AS yk
            FROM seg s) s,
            (VALUES (0), (1)) h(half)
          WHERE s.k IS NOT NULL),
        keptseg AS (SELECT fid, i AS idx FROM seg
                    UNION SELECT fid, j FROM seg
                    UNION SELECT fid, 0 FROM ends
                    UNION SELECT fid, last FROM ends)
        SELECT DISTINCT v.fid, v.idx, v.x, v.y
        FROM keptseg kv JOIN verts v ON v.fid = kv.fid AND v.idx = kv.idx
    """


def hausdorff_join(
    tracks: DataFrame,
    threshold_deg: float = 0.2,
    wkt_col: str = "geom_wkt",
    fid_col: str = "fid",
) -> DataFrame:
    """Trajectory-similarity self-join: all track pairs whose discrete
    Hausdorff distance (max over either track's vertices of the distance to
    the other track's nearest vertex, planar degrees) is <= threshold.
    Returns (fid_a, fid_b, hd_q) with fid_a < fid_b and hd_q the squared
    Hausdorff distance FLOOR-quantized to 1e-9 deg^2 (identical doubles in
    every IEEE engine -> identical floor; min/max aggregation is
    order-independent, so the value is hash-stable cross-engine).

    The plan is OUTPUT-SENSITIVE — it never builds a per-candidate-pair
    |A| x |B| distance matrix.  With grid cells of size c = threshold, two
    vertices within threshold always land in L-inf-adjacent cells, and two
    vertices in non-adjacent cells are always farther than threshold.  So:

      1. one vertex explode -> (fid, idx, x, y, cell);
      2. probe side expands each vertex to its 3x3 cell neighborhood
         (bounded x9) and equi-joins the build side on the cell: the ONLY
         vertex pairs ever materialized are those within ~2*sqrt(2)*c;
      3. per (fa, fb, ia) min distance = the TRUE nearest-vertex distance
         whenever it is <= threshold (any vertex outside the neighborhood
         is provably farther);
      4. a direction passes iff EVERY probe vertex found a neighbor with
         min <= threshold^2 (count == n_verts; a vertex with no joined
         partner or only far partners proves Hausdorff > threshold);
      5. a pair is emitted iff both directions pass; the Hausdorff square
         is then exactly max(directed maxes of the restricted mins).

    At 10^12 tracks: one scan + explode (x9 bounded), one equi-join on
    uniform-width cells (hot metro cells take the engine's standard
    `with_hot_cell_salt` treatment), aggregations keyed by (pair, vertex)
    then (pair) — no shuffle carries more than the near-pair matrix, which
    is the output-scale quantity.  The reference bounds the analogous
    candidate stage the same way (tiered cell buckets,
    `TieredSFCIndexStrategy.java:162-195`); trajectory similarity itself is
    beyond-reference scope from the round brief's trajectory family.
    """
    t2 = float(threshold_deg) * float(threshold_deg)
    c = float(threshold_deg)
    v = track_vertices(tracks, wkt_col, fid_col).select(
        "fid",
        "idx",
        "x",
        "y",
        F.floor(F.col("x") / c).cast("long").alias("cx"),
        F.floor(F.col("y") / c).cast("long").alias("cy"),
    )
    nv = v.groupBy("fid").agg(F.count("*").alias("n_verts"))
    # keeping only d2 <= t^2 is exact: a vertex whose within-neighborhood
    # partners are all farther than t has true min > t (out-of-neighborhood
    # partners are provably > t too), so it vanishes from per_vertex and the
    # coverage count rejects the pair — the same verdict h > t^2 would give.
    # The filter runs inside the join stage, so only near pairs ever shuffle.
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    near = (
        neighbor_join(
            v.select(
                F.col("fid").alias("fa"),
                F.col("idx").alias("ia"),
                F.col("x").alias("ax"),
                F.col("y").alias("ay"),
                "cx",
                "cy",
            ),
            v.select(
                F.col("fid").alias("fb"), F.col("x").alias("bx"), F.col("y").alias("by"), "cx", "cy"
            ),
            ("cx", "cy"),
            QUEEN,
        )
        .filter((F.col("fa") != F.col("fb")) & (d2 <= F.lit(t2)))
        .select("fa", "fb", "ia", d2.alias("d2"))
    )
    per_vertex = near.groupBy("fa", "fb", "ia").agg(F.min("d2").alias("md"))
    directed = (
        per_vertex.groupBy("fa", "fb")
        .agg(F.count("*").alias("n_cov"), F.max("md").alias("h"))
        .join(nv.select(F.col("fid").alias("fa"), "n_verts"), "fa")
        .filter((F.col("n_cov") == F.col("n_verts")) & (F.col("h") <= F.lit(t2)))
        .select("fa", "fb", "h")
    )
    fwd = directed.filter(F.col("fa") < F.col("fb"))
    rev = directed.filter(F.col("fa") > F.col("fb")).select(
        F.col("fb").alias("fa"), F.col("fa").alias("fb"), F.col("h").alias("h_rev")
    )
    return fwd.join(rev, ["fa", "fb"]).select(
        F.col("fa").alias("fid_a"),
        F.col("fb").alias("fid_b"),
        F.floor(F.greatest(F.col("h"), F.col("h_rev")) * F.lit(1e9))
        .cast("long")
        .alias("hd_q"),
    )


def hausdorff_join_sql(tracks_path: str, threshold_deg: float = 0.2) -> str:
    """DuckDB twin: brute-force discrete Hausdorff over every bbox-close
    pair (an independent algorithm — full vertex matrix per candidate, no
    cell grid).  The bbox prefilter is a proven-necessary condition:
    Hausdorff <= t forces bbox(A) inside bbox(B) expanded by t (and vice
    versa), hence the <=-overlap test below; it exists only to keep the
    oracle polynomial at sf0.01."""
    t = float(threshold_deg)
    t2 = t * t
    verts_expr = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH raw AS (
          SELECT fid, unnest({verts_expr}) AS vert FROM '{tracks_path}'),
        v AS (SELECT fid, vert.x AS x, vert.y AS y FROM raw),
        b AS (SELECT fid, MIN(x) AS x0, MAX(x) AS x1,
                     MIN(y) AS y0, MAX(y) AS y1
              FROM v GROUP BY fid),
        cand AS (
          SELECT a.fid AS fa, c.fid AS fb FROM b a JOIN b c
          ON a.fid < c.fid
          AND a.x0 - {t!r} <= c.x1 AND c.x0 - {t!r} <= a.x1
          AND a.y0 - {t!r} <= c.y1 AND c.y0 - {t!r} <= a.y1),
        dm AS (
          SELECT cand.fa, cand.fb,
                 va.x AS ax, va.y AS ay, vb.x AS bx, vb.y AS b_y,
                 (va.x - vb.x) * (va.x - vb.x)
               + (va.y - vb.y) * (va.y - vb.y) AS d2
          FROM cand
          JOIN v va ON va.fid = cand.fa
          JOIN v vb ON vb.fid = cand.fb),
        dir1 AS (
          SELECT fa, fb, MAX(md) AS h FROM (
            SELECT fa, fb, ax, ay, MIN(d2) AS md
            FROM dm GROUP BY fa, fb, ax, ay)
          GROUP BY fa, fb),
        dir2 AS (
          SELECT fa, fb, MAX(md) AS h FROM (
            SELECT fa, fb, bx, b_y, MIN(d2) AS md
            FROM dm GROUP BY fa, fb, bx, b_y)
          GROUP BY fa, fb)
        SELECT dir1.fa AS fid_a, dir1.fb AS fid_b,
               CAST(FLOOR(GREATEST(dir1.h, dir2.h) * 1e9) AS BIGINT) AS hd_q
        FROM dir1 JOIN dir2 ON dir1.fa = dir2.fa AND dir1.fb = dir2.fb
        WHERE GREATEST(dir1.h, dir2.h) <= {t2!r}
    """


def resample_tracks(
    tracks: DataFrame,
    step_s: int = 7 * 86400,
    wkt_col: str = "geom_wkt",
    fid_col: str = "fid",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Resample every track to a REGULAR absolute time grid: one position
    per ``step_s``-second epoch tick inside the track's window, linearly
    interpolated along the segment active at that instant — the
    normalization pass every movement analytic wants upstream (fixed
    cadence makes co-travel, OD, and snapshot clustering comparable across
    entities with wildly different vertex densities).

    Semantics: grid instants T = k * step (absolute epoch, so all entities
    share the grid); segment i owns the half-open span [t_i, t_{i+1}), so
    every in-window tick maps to exactly one segment; a tick landing
    exactly on the track end is dropped (half-open), degenerate
    zero-duration segments emit nothing.

    Returns (fid, k, tu, x, y): tick index, exact tick microseconds, and
    the interpolated position.

    100 TB shape: one vertex scan, one LEAD window keyed by track id
    (bounded partitions), and a per-segment ``sequence`` explode whose
    fan-out is the tick count the segment truly covers — output-sensitive,
    no cross-track shuffle at all beyond the window.

    Exactness: tick times are BIGINT; the lerp is
    ``x_i + (x_j - x_i) * ((T - t_i) / (t_j - t_i))`` evaluated in the
    same IEEE order in the DuckDB twin, so positions hash-match exactly
    (`operators/trajectory.py` staypoints convention)."""
    from geowave_spark.operators.cotravel import track_pings

    if step_s <= 0:
        raise ValueError("step_s must be positive")
    step_u = int(step_s) * 1_000_000
    p = track_pings(tracks, wkt_col, fid_col, start_col, end_col)
    w = Window.partitionBy("fid").orderBy("idx")
    seg = p.select(
        "fid",
        F.col("x").alias("xi"),
        F.col("y").alias("yi"),
        F.col("tu").alias("ti"),
        F.lead("x").over(w).alias("xj"),
        F.lead("y").over(w).alias("yj"),
        F.lead("tu").over(w).alias("tj"),
    ).filter(F.col("tj").isNotNull() & (F.col("tj") > F.col("ti")))
    # ceil/floor tick range over positive BIGINT epochs
    kmin = F.floor((F.col("ti") + F.lit(step_u - 1)) / F.lit(step_u)).cast("long")
    kmax = F.floor((F.col("tj") - F.lit(1)) / F.lit(step_u)).cast("long")
    ticks = seg.select(
        "fid",
        "xi",
        "yi",
        "ti",
        "xj",
        "yj",
        "tj",
        F.explode(
            F.when(kmax >= kmin, F.sequence(kmin, kmax)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("k"),
    )
    tu = F.col("k") * F.lit(step_u)
    frac = (tu - F.col("ti")).cast("double") / (F.col("tj") - F.col("ti")).cast(
        "double"
    )
    return ticks.select(
        "fid",
        "k",
        tu.alias("tu"),
        (F.col("xi") + (F.col("xj") - F.col("xi")) * frac).alias("x"),
        (F.col("yi") + (F.col("yj") - F.col("yi")) * frac).alias("y"),
    )


def resample_tracks_sql(tracks_path: str, step_s: int = 7 * 86400) -> str:
    """DuckDB twin of :func:`resample_tracks`: same exact-integer tick grid
    and the same IEEE lerp tree, window formulation independent."""
    step_u = int(step_s) * 1_000_000
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
        seg AS (
          SELECT fid, x AS xi, y AS yi, tu AS ti,
                 LEAD(x) OVER w AS xj, LEAD(y) OVER w AS yj,
                 LEAD(tu) OVER w AS tj
          FROM pings WINDOW w AS (PARTITION BY fid ORDER BY idx)),
        segs AS (SELECT * FROM seg WHERE tj IS NOT NULL AND tj > ti),
        ticks AS (
          SELECT fid, xi, yi, ti, xj, yj, tj, CAST(k AS BIGINT) AS k
          FROM segs, UNNEST(range((ti + {step_u - 1}) // {step_u},
                                  (tj - 1) // {step_u} + 1)) AS u(k))
        SELECT fid, k, k * {step_u} AS tu,
               xi + (xj - xi) * (CAST(k * {step_u} - ti AS DOUBLE)
                                 / CAST(tj - ti AS DOUBLE)) AS x,
               yi + (yj - yi) * (CAST(k * {step_u} - ti AS DOUBLE)
                                 / CAST(tj - ti AS DOUBLE)) AS y
        FROM ticks
    """

def track_bearing_stats(
    tracks: DataFrame, wkt_col: str = "geom_wkt", fid_col: str = "fid"
) -> DataFrame:
    """Per-track circular bearing statistics (Mardia's directional stats,
    the movement-analysis staple next to :func:`track_stats`):
    (fid, n_segs, mean_bearing_micro, resultant_ppm) where the mean
    bearing is atan2(sum sin, sum cos) over segment headings and the
    resultant length R in [0, 1] measures heading concentration (1 =
    perfectly straight, ~0 = directionless wandering).

    Same discipline and plan shape as track_stats: ONE map-side
    projection, the vertex array never explodes, nothing shuffles.
    Per-segment sin/cos are FLOOR-quantized to micro units BEFORE the
    fold so the sums are exact integers (order-independent; the trig of
    identical doubles is the terrain family's established ppm-FLOOR risk
    class).  Tracks with no segments emit NULL stats."""
    body = F.regexp_replace(F.col(wkt_col), r"LINESTRING \(|\)", "")
    verts = F.transform(
        F.split(body, ", "),
        lambda p: F.struct(
            F.split(p, " ")[0].cast("double").alias("x"),
            F.split(p, " ")[1].cast("double").alias("y"),
        ),
    )
    t = tracks.select(F.col(fid_col).alias("fid"), verts.alias("_v"))
    n = F.size(F.col("_v"))

    def bearing(i):
        dx = F.element_at(F.col("_v"), i + 1).x - F.element_at(F.col("_v"), i).x
        dy = F.element_at(F.col("_v"), i + 1).y - F.element_at(F.col("_v"), i).y
        return F.atan2(dy, dx)

    # guard: Spark's sequence(1, 0) DESCENDS instead of being empty, which
    # would index past the array on a single-vertex track (ANSI error)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    ss = F.aggregate(
        idx, F.lit(0).cast("long"),
        lambda acc, i: acc + F.floor(F.sin(bearing(i)) * 1_000_000).cast("long"),
    )
    cc = F.aggregate(
        idx, F.lit(0).cast("long"),
        lambda acc, i: acc + F.floor(F.cos(bearing(i)) * 1_000_000).cast("long"),
    )
    ssd = ss.cast("double")
    ccd = cc.cast("double")
    nseg = (n - 1).cast("long")
    return t.select(
        "fid",
        F.greatest(nseg, F.lit(0).cast("long")).alias("n_segs"),
        F.when(
            nseg > 0, F.floor(F.atan2(ssd, ccd) * 1_000_000).cast("long")
        ).alias("mean_bearing_micro"),
        F.when(
            nseg > 0,
            F.floor(F.sqrt(ssd * ssd + ccd * ccd) / nseg.cast("double")).cast("long"),
        ).alias("resultant_ppm"),
    )


def track_bearing_stats_sql(tracks_path: str) -> str:
    """DuckDB twin of :func:`track_bearing_stats`: same vertex idiom,
    list_transform bearings, list_sum of the identically quantized
    sin/cos, identical final expressions."""
    verts = (
        "list_transform(string_split(replace(replace(geom_wkt, "
        "'LINESTRING (', ''), ')', ''), ', '), "
        "p -> struct_pack(x := CAST(string_split(p, ' ')[1] AS DOUBLE), "
        "y := CAST(string_split(p, ' ')[2] AS DOUBLE)))"
    )
    return f"""
        WITH t AS (SELECT fid, {verts} AS v FROM '{tracks_path}'),
        folded AS (
          SELECT fid, len(v) - 1 AS n_segs,
                 COALESCE(list_sum(list_transform(range(1, len(v)),
                   i -> CAST(floor(sin(atan2(v[i + 1].y - v[i].y,
                                             v[i + 1].x - v[i].x))
                             * 1000000) AS BIGINT))), 0) AS ss,
                 COALESCE(list_sum(list_transform(range(1, len(v)),
                   i -> CAST(floor(cos(atan2(v[i + 1].y - v[i].y,
                                             v[i + 1].x - v[i].x))
                             * 1000000) AS BIGINT))), 0) AS cc
          FROM t)
        SELECT fid, GREATEST(n_segs, 0) AS n_segs,
               CASE WHEN n_segs > 0 THEN
                 CAST(floor(atan2(CAST(ss AS DOUBLE), CAST(cc AS DOUBLE))
                            * 1000000) AS BIGINT)
               ELSE NULL END AS mean_bearing_micro,
               CASE WHEN n_segs > 0 THEN
                 CAST(floor(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                                + CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE))
                            / CAST(n_segs AS DOUBLE)) AS BIGINT)
               ELSE NULL END AS resultant_ppm
        FROM folded
    """
