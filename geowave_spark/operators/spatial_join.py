"""Cell-bucketed point-in-polygon join (J1 pattern) + zonal aggregation (J6).

Re-expression of the reference's spatial partition-join
(`AbstractPartitioner.getCubeIdentifiers` -> shuffle by cell -> per-cell
compare, `analytics/api/.../partitioner/AbstractPartitioner.java:78-127`,
`AnalyticRecipes.scala:46-72`) as DataFrame primitives:

  build side (polygons):  explode to covering cells        (insertion ids K1
                          or fixed-resolution cover)
  probe side (points):    single cell key; ancestor cell per tier is a pure
                          bit shift (prefix property) — no re-encoding
  join:                   broadcast hash join when the polygon side is small
                          (the reference's own broadcast pattern, J3),
                          shuffle hash/SMJ on cell otherwise, AQE skew-join on
  refine:                 exact PIP in one Arrow UDF, query geometries
                          prepared once per batch (interning analog)

Pair-uniqueness invariant (no dedup shuffle needed): a point has exactly one
cell per tier and a polygon's cells at its tier are distinct, so each
(point, polygon) pair meets in at most one cell.  This replaces the
reference's DedupeFilter for the join path; `num_duplicates` is still carried
for parity with F5 semantics.

Scale notes (100 TB): the polygon side is exploded (cells/polygon bounded by
`MAX_COVER_CELLS`); the point side is never exploded.  Hot cells (skew) are
handled by AQE skew-join plus optional explicit salting of the probe side
(`with_hot_cell_salt`), mirroring HashKeyIndexStrategy (K7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
)

from geowave_spark.sfc import DEFAULT_CONFIG, cells_covering_bbox

from .indexing import cell_at_tier, with_point_cells

_PREPARED_CACHE: dict[str, object] = {}

from geowave_spark.cache import CacheRegistry

# Persisted DataFrames from prior pip_join calls (tiered probe cache, zcells)
# live until the NEXT call releases them (see geowave_spark/cache.py).
_CACHES = CacheRegistry()

# Broadcast gate of both zone joins: a zone layer with more distinct
# geometries than this takes the shuffle path instead of a driver catalog.
MAX_BROADCAST_ZONES = 65536
# Superset-or-die bound of every cover UDF: a geometry covering more cells
# than this at the chosen tier/res raises instead of exploding its rows.
MAX_COVER_CELLS = 4096
# The cover-tier rule aims for about this many cells per median zone, over
# a driver sample of at most _ZONE_SAMPLE distinct zone geometries.
_TARGET_CELLS = 16
_ZONE_SAMPLE = 10_000


def release_caches() -> None:
    """Unpersist DataFrames cached by earlier pip_join calls."""
    _CACHES.release()


def _prepared(wkt: str):
    from geowave_spark.geometry.predicates import PreparedGeometry

    pg = _PREPARED_CACHE.get(wkt)
    if pg is None:
        pg = _PREPARED_CACHE[wkt] = PreparedGeometry(wkt)
    return pg


def cover_cells_udf(bits: int):
    """pandas UDF: polygon WKT -> array<long> covering cells at a fixed tier.

    Cover is bbox-based (superset — exactness restored by the refine stage),
    date-line aware via the wrapped-range explode.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(wkt: pd.Series) -> pd.Series:
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt

        out = []
        for w in wkt:
            if w is None:
                out.append([])
                continue
            minx, miny, maxx, maxy = geom_bbox(parse_wkt(w))
            cells = cells_covering_bbox(minx, miny, maxx, maxy, bits, DEFAULT_CONFIG)
            if len(cells) > MAX_COVER_CELLS:
                # superset-or-die: silently dropping cells would lose join
                # rows.  The planner (choose_cover_tier) picked too fine a
                # tier for this geometry — use mode='tiered' for layers with
                # wildly heterogeneous extents.
                raise ValueError(
                    f"cover of geometry exceeds {MAX_COVER_CELLS} cells at tier "
                    f"{bits}; use a coarser tier or mode='tiered'"
                )
            out.append(cells.tolist())
        return pd.Series(out)

    return _cover


def hex_cover_cells_udf(res: int):
    """pandas UDF: polygon WKT -> array<long> of packed hex cell ids
    (sfc/hexgrid.py key layout) covering the geometry at resolution ``res``.

    Cover is bbox-based and conservative, same contract as the square
    :func:`cover_cells_udf`: the axial transform is linear, so a lon/lat box
    maps to a parallelogram in fractional (q, r) whose extremes sit at the
    box corners; cube rounding moves a fractional coordinate by at most 1
    (q is either floor(qf+0.5) or -ry-rz with |(yf-ry)+(rf-rz)| <= 1), so
    the corner-derived integer rectangle inflated by 1 is a superset of
    every cell any box point can round to.  The rectangle's shear slack is
    then clipped: a cell is kept only if its hexagon's own bbox
    (center +- sqrt(3)/2*R horizontally, +- R vertically) overlaps the
    geometry bbox — any point of the box binning to a cell lies inside that
    cell's hexagon, so clipped cells cannot host box points and the cover
    stays a superset.  Exactness is restored by the refine stage."""

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(wkt: pd.Series) -> pd.Series:
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt
        from geowave_spark.sfc.hexgrid import SQRT3, hex_pack, hex_size

        R = hex_size(res)
        half_w, half_h = SQRT3 / 2.0 * R, R
        out = []
        for w in wkt:
            if w is None:
                out.append([])
                continue
            minx, miny, maxx, maxy = geom_bbox(parse_wkt(w))
            xs = np.array([minx, minx, maxx, maxx], dtype=np.float64)
            ys = np.array([miny, maxy, miny, maxy], dtype=np.float64)
            qf = (SQRT3 / 3.0 * xs - ys / 3.0) / R
            rf = (2.0 / 3.0 * ys) / R
            qlo, qhi = int(np.floor(qf.min())) - 1, int(np.ceil(qf.max())) + 1
            rlo, rhi = int(np.floor(rf.min())) - 1, int(np.ceil(rf.max())) + 1
            n = (qhi - qlo + 1) * (rhi - rlo + 1)
            if n > 64 * MAX_COVER_CELLS:  # pre-clip enumeration bound
                raise ValueError(
                    f"hex cover of geometry exceeds {64 * MAX_COVER_CELLS} "
                    f"pre-clip cells at res {res}; use a coarser res"
                )
            qq, rr = np.meshgrid(
                np.arange(qlo, qhi + 1), np.arange(rlo, rhi + 1), indexing="ij"
            )
            qq, rr = qq.ravel(), rr.ravel()
            cx = R * (SQRT3 * qq + SQRT3 / 2.0 * rr)
            cy = R * 1.5 * rr
            keep = (
                (cx + half_w >= minx)
                & (cx - half_w <= maxx)
                & (cy + half_h >= miny)
                & (cy - half_h <= maxy)
            )
            if int(keep.sum()) > MAX_COVER_CELLS:
                # superset-or-die, same contract as cover_cells_udf
                raise ValueError(
                    f"hex cover of geometry exceeds {MAX_COVER_CELLS} cells at "
                    f"res {res}; use a coarser res"
                )
            out.append(hex_pack(qq[keep], rr[keep], res).tolist())
        return pd.Series(out)

    return _cover


def refine_pip_udf():
    """Exact (point-in-polygon) refine over joined candidate pairs.

    One Arrow batch holds many (lon, lat, wkt) rows; geometries are prepared
    once per distinct wkt per batch and evaluated vectorized per group —
    the Arrow-scale analog of SpatialQueryFilter's prepared-geometry
    interning (`SpatialQueryFilter.java:286-363`).
    """

    @F.pandas_udf(BooleanType())
    def _refine(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        codes, uniques = pd.factorize(wkt)
        for u, w in enumerate(uniques):
            m = codes == u
            pg = _prepared(w)
            out[m] = pg.contains_points(lon_v[m], lat_v[m])
        return pd.Series(out)

    return _refine


def _tier_from_wkts(wkts: list[str]) -> int:
    """Fixed join resolution from the polygon layer's median extent:
    cell size ~ median_extent / sqrt(_TARGET_CELLS) (the engine's cost-based
    planning analog of ChooseBestMatchIndexQueryStrategy)."""
    from geowave_spark.geometry.wkt import geom_bbox, parse_wkt

    exts = []
    for w in wkts:
        minx, miny, maxx, maxy = geom_bbox(parse_wkt(w))
        exts.append(max(maxx - minx, maxy - miny, 1e-9))
    med = float(np.median(exts)) if exts else 1.0
    cell_deg = med / np.sqrt(_TARGET_CELLS)
    cfg = DEFAULT_CONFIG
    bits = int(np.clip(np.floor(np.log2(360.0 / cell_deg)), 1, cfg.finest - 1))
    usable = [t for t in cfg.tiers if 0 < t < cfg.finest]
    return min(usable, key=lambda t: abs(t - bits)) if usable else bits


def choose_cover_tier(zones: DataFrame, wkt_col: str) -> int:
    """Driver-side tiny sample -> :func:`_tier_from_wkts` (kept for callers
    that only need the tier; the join paths use :func:`_plan_zone_layer` to
    fold this sample into the broadcast gate's single driver job)."""
    sample = [r[0] for r in zones.select(wkt_col).limit(_ZONE_SAMPLE).collect()]
    return _tier_from_wkts(sample)


def _plan_zone_layer(
    zones: DataFrame,
    wkt_col: str,
) -> tuple[int, bool, list[str] | None]:
    """ONE bounded driver job plans the whole zone side: collect distinct
    WKTs up to ``_ZONE_SAMPLE + 1`` rows, yielding

    - the cover tier (median-extent rule over the sample),
    - the broadcast gate (a short read means the full distinct set is known),
    - the WKT catalog when the layer is broadcastable.

    Only a layer with more than ``_ZONE_SAMPLE`` distinct geometries pays a
    second, count-only probe (bounded by ``limit``) to settle the gate — and
    only a broadcastable one then pays the full catalog fetch.  Replaces the
    three separate driver jobs (tier sample, gate count, catalog collect)
    that round 2 ran per call."""
    sample = [
        r[0] for r in zones.select(wkt_col).distinct().limit(_ZONE_SAMPLE + 1).collect()
    ]
    if len(sample) <= _ZONE_SAMPLE:
        broadcast_ok = len(sample) <= MAX_BROADCAST_ZONES
        catalog = sorted(sample) if broadcast_ok else None
    else:
        n = zones.select(wkt_col).distinct().limit(MAX_BROADCAST_ZONES + 1).count()
        broadcast_ok = n <= MAX_BROADCAST_ZONES
        catalog = (
            sorted(r[0] for r in zones.select(wkt_col).distinct().collect())
            if broadcast_ok
            else None
        )
    tier = _tier_from_wkts(sample[:_ZONE_SAMPLE])
    return tier, broadcast_ok, catalog


def zone_insertion_cells_udf():
    """pandas UDF: polygon WKT -> tiered insertion cells (K1): <=4 cells at
    the geometry's own tier — bounded explosion regardless of extent."""
    from pyspark.sql.types import ByteType, IntegerType, StructField, StructType

    schema = ArrayType(
        StructType(
            [
                StructField("tier", ByteType()),
                StructField("cell", LongType()),
                StructField("num_duplicates", IntegerType()),
            ]
        )
    )

    @F.pandas_udf(schema)
    def _cells(wkt: pd.Series) -> pd.Series:
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt
        from geowave_spark.sfc import bbox_insertion_cells

        boxes = np.array(
            [geom_bbox(parse_wkt(w)) if w is not None else (0, 0, 0, 0) for w in wkt],
            dtype=np.float64,
        ).reshape(-1, 4)
        rows, tiers, keys, dups = bbox_insertion_cells(
            boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3], DEFAULT_CONFIG
        )
        out: list[list[dict]] = [[] for _ in range(len(wkt))]
        for r, t, k, d in zip(rows.tolist(), tiers.tolist(), keys.tolist(), dups.tolist()):
            out[r].append({"tier": t, "cell": k, "num_duplicates": d})
        return pd.Series(out)

    return _cells


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zone_wkt_col: str = "geom_wkt",
    mode: str = "fixed",  # 'fixed' (single tier) | 'tiered' (GeoWave K1) | 'hex' (H3-family cells)
    broadcast_zones: bool = True,
    point_cell_col: str | None = None,
    salt_hot: tuple[int, int] | None = None,  # (hot_threshold, buckets)
    salt_id_col: str | None = None,
) -> DataFrame:
    """Inner join: every (point, zone) pair where the point lies inside the
    zone geometry.  Output = point columns + zone columns (minus working
    columns).

    mode='fixed': polygons explode to covering cells at one planner-chosen
    tier; points join on one derived ancestor cell.  One equi-join, best at
    scale for homogeneous zone layers.
    mode='tiered': polygons carry their K1 insertion cells (<=4, own tier);
    the join unions one equi-join per distinct tier present (<= 15, usually
    2-4), each a broadcast hash join — mirrors the reference's tiered scan.
    mode='hex': bucket keys are H3-family hex cells (sfc/hexgrid.py) instead
    of square SFC cells — the north star's "encode to H3/S2 cells, then
    cell-bucketed PIP join" literally.  The probe side bins with pure
    Catalyst expressions (no encode UDF at all on the big side); zones cover
    via :func:`hex_cover_cells_udf`.  Same planner, broadcast gate, catalog
    refine, and salting as 'fixed'; identical output rows (equality pytest).
    """
    release_caches()  # prior calls' consumers have run; drop their storage
    if salt_hot is not None and points.isStreaming:
        # hot-cell detection is a counts pass over the probe — a streaming
        # aggregation feeding a join, which Structured Streaming rejects.
        # Skew on a micro-batch probe is bounded by the batch size anyway.
        raise ValueError(
            "salt_hot is unsupported for streaming probes (hot-cell "
            "detection needs a counts pass over the probe side)"
        )
    if salt_hot is not None and mode == "tiered":
        # the tier loop would need per-tier hot-cell detection; unsupported
        # rather than a silent no-op of an explicit skew knob
        raise ValueError(
            "salt_hot applies to the mode='fixed' shuffle join only; "
            "tiered-mode salting is not implemented (broadcast joins have "
            "no shuffle to skew — drop salt_hot or use mode='fixed')"
        )
    if point_cell_col is None and mode != "hex":
        points = with_point_cells(points, lon_col, lat_col, cell_col="_pcell").drop("tier")
        point_cell_col = "_pcell"

    # avoid name collisions with the probe side (points may carry their own
    # geom_wkt); the zone geometry travels as _zwkt through the join
    zones = zones.withColumnRenamed(zone_wkt_col, "_zwkt")

    # catalog mode (whenever the zone side is broadcastable): geometries are
    # replaced by a small int index before the join so candidate rows never
    # carry WKT strings — the refine UDF holds the catalog per worker.
    # Auto-gated: the catalog fetch collects at most MAX_BROADCAST_ZONES + 1
    # distinct geometries; a larger build side falls back to the shuffle path
    # (same rows, refine via Arrow UDF) instead of OOMing the driver.
    catalog: list[str] | None = None
    planned_tier: int | None = None
    if broadcast_zones:
        # one bounded driver job: tier + gate + catalog (oversized layers
        # never pull WKT payloads into the driver beyond the tier sample)
        planned_tier, broadcast_zones, catalog = _plan_zone_layer(zones, "_zwkt")
    if catalog is not None:
        from geowave_spark.geometry.pip_expr import EDGES_SCHEMA, edges_rows

        edge_data = edges_rows(catalog)
        spark = zones.sparkSession
        cat_df = spark.createDataFrame(
            [(w, i, edge_data[i]) for i, w in enumerate(catalog)],
            f"_zwkt string, _zid int, _zedges {EDGES_SCHEMA}",
        )
        zones = zones.join(F.broadcast(cat_df), "_zwkt")

    if mode == "tiered":
        zcells = zones.withColumn("_zc", F.explode(zone_insertion_cells_udf()(F.col("_zwkt"))))
        zcells = (
            zcells.withColumn("_ztier", F.col("_zc.tier"))
            .withColumn("_zcell", F.col("_zc.cell"))
            .drop("_zc")
        )
        if catalog is not None:
            zcells = zcells.drop("_zwkt")
        zcells = _CACHES.add(zcells.persist())
        # SINGLE probe-side pass (the 100-TB side is read exactly once):
        # collect the distinct zone tiers (bounded by the tier count, usually
        # 2-4 — a driver job on the SMALL side only), then explode each probe
        # row to one (tier, ancestor_cell) struct per zone tier present and
        # run ONE two-column equi-join.  Replaces the round-3 per-tier
        # union-of-joins that re-scanned the probe relation once per tier.
        # Each point has exactly one ancestor cell per tier, so the
        # pair-uniqueness invariant is unchanged.
        tiers = sorted(r[0] for r in zcells.select("_ztier").distinct().collect())
        # coalesce makes the join key non-nullable so Catalyst skips the
        # isnotnull pre-filter that would re-evaluate the encode UDF on
        # every probe row (sentinel -1 never equals a real cell)
        tier_structs = F.array(
            *[
                F.struct(
                    F.lit(int(t)).cast("byte").alias("t"),
                    F.coalesce(
                        cell_at_tier(F.col(point_cell_col), DEFAULT_CONFIG.finest, int(t)),
                        F.lit(-1),
                    ).alias("c"),
                )
                for t in tiers
            ]
        )
        probe = (
            points.withColumn("_tc", F.explode(tier_structs))
            .withColumn("_jtier", F.col("_tc.t"))
            .withColumn("_jcell", F.col("_tc.c"))
            .drop("_tc")
        )
        build = F.broadcast(zcells) if broadcast_zones else zcells
        joined = probe.join(
            build,
            (probe["_jtier"] == build["_ztier"]) & (probe["_jcell"] == build["_zcell"]),
            "inner",
        ).drop("_jtier", "_ztier")
    else:
        cover_bits = (
            planned_tier
            if planned_tier is not None
            else choose_cover_tier(zones, "_zwkt")
        )
        if mode == "hex":
            # hex area ~ square cell area: one res step finer than the
            # circumradius match (45/2^res ~ 360/2^bits) measurably tightens
            # the candidate set below the square cover's at equal tier
            from geowave_spark.operators.indexing import with_hex_bins
            from geowave_spark.sfc.hexgrid import MAX_HEX_RES

            hex_res = int(np.clip(cover_bits - 2, 0, MAX_HEX_RES))
            zcells = zones.withColumn(
                "_zcell", F.explode(hex_cover_cells_udf(hex_res)(F.col("_zwkt")))
            )
        else:
            zcells = zones.withColumn(
                "_zcell", F.explode(cover_cells_udf(cover_bits)(F.col("_zwkt")))
            )
        if catalog is not None:
            zcells = zcells.drop("_zwkt")
        build = F.broadcast(zcells) if broadcast_zones else zcells
        # name-based equi-join (not cross-plan column refs): keeps attribute
        # binding unambiguous for the higher-order refine expression above it
        if mode == "hex":
            # packed key arithmetic mirrors hexgrid.hex_pack bit-for-bit
            # (values are in-range non-negative, so + and * == | and <<)
            probe = (
                with_hex_bins(points, lon_col, lat_col, hex_res)
                .withColumn(
                    "_zcell",
                    (
                        F.lit(hex_res * (1 << 46))
                        + (F.col("hex_q") + F.lit(1 << 22)) * F.lit(1 << 23)
                        + (F.col("hex_r") + F.lit(1 << 22))
                    ).cast("long"),
                )
                .drop("hex_q", "hex_r")
            )
        else:
            probe = points.withColumn(
                "_zcell",
                F.coalesce(
                    cell_at_tier(F.col(point_cell_col), DEFAULT_CONFIG.finest, cover_bits),
                    F.lit(-1),
                ),
            )
        if salt_hot is not None and not broadcast_zones:
            # K7 explicit skew salting for the shuffle join: hot probe cells
            # spread over `buckets` reducers, the build side replicates its
            # rows for hot cells only (cold cells pay nothing) — mirrors
            # HashKeyIndexStrategy's key prefixing
            threshold, buckets = salt_hot
            salted_probe, hot = with_hot_cell_salt(
                probe, "_zcell", threshold, buckets, id_col=salt_id_col
            )
            hot_cells = F.broadcast(hot.select("_zcell"))
            build_hot = zcells.join(hot_cells, "_zcell", "left_semi").withColumn(
                "salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
            )
            build_cold = zcells.join(hot_cells, "_zcell", "left_anti").withColumn(
                "salt", F.lit(0)
            )
            joined = salted_probe.join(
                build_hot.unionByName(build_cold), ["_zcell", "salt"], "inner"
            ).drop("salt")
        else:
            joined = probe.join(build, "_zcell", "inner")

    if catalog is not None:
        # pure-JVM refine: ray-cast fold over the edge array riding the
        # broadcast build side — zero Python in the query hot path
        from geowave_spark.geometry.pip_expr import pip_edges_expr

        refined = joined.filter(
            pip_edges_expr(F.col("_zedges"), F.col(lon_col), F.col(lat_col))
        )
    else:
        refined = joined.filter(refine_pip_udf()(F.col(lon_col), F.col(lat_col), F.col("_zwkt")))
    drop = [
        c
        for c in ("_jcell", "_zcell", "_pcell", "_zwkt", "_zid", "_zedges", "num_duplicates")
        if c in refined.columns
    ]
    return refined.drop(*drop)


def refine_areal_udf(within: bool, catalog: list[str] | None = None):
    """Vectorized any-geometry-vs-zone refine over joined candidate pairs.

    Both sides are factorized per Arrow batch: each distinct feature WKT is
    parsed ONCE (features repeat across zones), areal data geometries are
    prepared once (reused by the polygon-polygon kernels), and each distinct
    zone is prepared once.  Point-kind features — the bulk of a mixed corpus
    — evaluate fully vectorized per zone group via the prepared ray-cast;
    line/areal features run one pre-parsed kernel call per distinct
    (feature, zone) pair (pairs are already deduped upstream, so there is no
    per-candidate re-parse anywhere).

    ``catalog``: when the zone side is broadcastable the candidates carry a
    small int zone index and the WKT catalog ships once per worker in the
    closure instead of a WKT string per candidate row; otherwise the second
    argument is the zone WKT string itself.
    """

    @F.pandas_udf(BooleanType())
    def _refine(wkt: pd.Series, zkey: pd.Series) -> pd.Series:
        from geowave_spark.geometry.predicates import (
            PreparedGeometry,
            geom_intersects_prepared,
            geom_within_prepared,
        )
        from geowave_spark.geometry.wkt import parse_wkt

        pred = geom_within_prepared if within else geom_intersects_prepared
        out = np.zeros(len(wkt), dtype=bool)
        fcodes, funiq = pd.factorize(wkt)
        parsed = [None if w is None else parse_wkt(w) for w in funiq]
        dprep = [
            PreparedGeometry(g)
            if g is not None and g[0] in ("polygon", "multipolygon")
            else None
            for g in parsed
        ]
        is_point = np.array(
            [g is not None and g[0] == "point" for g in parsed], dtype=bool
        )
        px = np.array([g[1][0] if g is not None and g[0] == "point" else 0.0 for g in parsed])
        py = np.array([g[1][1] if g is not None and g[0] == "point" else 0.0 for g in parsed])

        if catalog is not None:
            zcodes = zkey.to_numpy(np.int64)
            zuniq_keys = np.unique(zcodes)
            groups = [(catalog[int(u)], np.nonzero(zcodes == u)[0]) for u in zuniq_keys]
        else:
            zcodes, zuniq = pd.factorize(zkey)
            groups = [(zw, np.nonzero(zcodes == u)[0]) for u, zw in enumerate(zuniq)]

        for zw, idx in groups:
            # null feature WKT factorizes to code -1, which would otherwise
            # index the LAST distinct geometry — such rows stay False
            idx = idx[fcodes[idx] >= 0]
            if not len(idx):
                continue
            pg = _prepared(zw)
            fc = fcodes[idx]
            pts = is_point[fc]
            if pts.any():
                pfc = fc[pts]
                out[idx[pts]] = pg.contains_points(px[pfc], py[pfc])
            for j in idx[~pts]:
                g = parsed[fcodes[j]]
                if g is not None:
                    out[j] = pred(g, pg, dp=dprep[fcodes[j]])
        return pd.Series(out)

    return _refine


def areal_join(
    features: DataFrame,
    zones: DataFrame,
    *,
    feature_wkt_col: str = "geom_wkt",
    feature_bbox_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    zone_wkt_col: str = "geom_wkt",
    feature_id_col: str = "doc_id",
    zone_id_col: str = "zone_id",
    compare_op: str = "OVERLAPS",
) -> DataFrame:
    """Geometry-vs-geometry intersects join: features of ANY kind (point /
    line / polygon WKT + bbox columns) x polygon zones.

    Extends the J1 pattern to areal probe geometries: BOTH sides explode to
    covering cells at one planner-chosen tier (feature covers are bounded by
    extent/cell ratio — at the zone-derived tier a typical feature touches
    1-4 cells), so a pair can meet in several cells; candidate pairs dedup
    with a distinct on ids BEFORE the (expensive) exact refine
    (:func:`refine_areal_udf` — per-kind dispatch, both sides parsed and
    prepared once per Arrow batch).  Mirrors the reference's any-geometry
    join semantics (`SpatialQueryFilter.java:182-228` applied pairwise).

    Broadcast discipline: the exploded build side carries only
    ``(cell, zone_id[, zone index])`` — never WKT — so the broadcast payload
    is bounded by zones x cells_per_zone x 16 bytes plus ONE catalog of
    distinct zone WKTs shipped per worker in the refine closure; the gate on
    ``MAX_BROADCAST_ZONES`` therefore gauges the true payload.  Zone
    attribute columns rejoin after the refine on ``zone_id`` (broadcast when
    gated on, shuffle otherwise)."""
    release_caches()
    zones = zones.withColumnRenamed(zone_wkt_col, "_zwkt")
    cover_bits, _, catalog = _plan_zone_layer(zones, "_zwkt")
    zcells = zones.withColumn(
        "_cell", F.explode(cover_cells_udf(cover_bits)(F.col("_zwkt")))
    )

    fminx, fminy, fmaxx, fmaxy = (F.col(c) for c in feature_bbox_cols)
    fcover = cover_cells_bbox_udf(cover_bits)(fminx, fminy, fmaxx, fmaxy)
    fcells = features.withColumn("_cell", F.explode(fcover))

    within = compare_op == "CONTAINS"
    # one row per zone id for the post-refine attribute rejoin — without the
    # dedup a zone layer carrying repeated ids (e.g. a polygon stored as two
    # rows) would fan each refined (feature, zone) pair out per repeat
    zattrs = zones.drop("_zwkt").dropDuplicates([zone_id_col])
    if catalog is not None:
        cat_df = zones.sparkSession.createDataFrame(
            [(w, i) for i, w in enumerate(catalog)], "_zwkt string, _zidx int"
        )
        build = F.broadcast(
            zcells.join(F.broadcast(cat_df), "_zwkt").select(
                "_cell", zone_id_col, "_zidx"
            )
        )
        cand = (
            fcells.join(build, "_cell")
            .drop("_cell")
            .dropDuplicates([feature_id_col, zone_id_col])
        )
        refined = cand.filter(
            refine_areal_udf(within, catalog)(F.col(feature_wkt_col), F.col("_zidx"))
        ).drop("_zidx")
        if len(zattrs.columns) > 1:
            refined = refined.join(F.broadcast(zattrs), zone_id_col)
        return refined
    # shuffle path (oversized zone layer): cell equi-join with WKT riding the
    # build side — no catalog fits a worker, the refine factorizes per batch
    build = zcells.select("_cell", zone_id_col, "_zwkt")
    cand = (
        fcells.join(build, "_cell")
        .drop("_cell")
        .dropDuplicates([feature_id_col, zone_id_col])
    )
    refined = cand.filter(
        refine_areal_udf(within)(F.col(feature_wkt_col), F.col("_zwkt"))
    ).drop("_zwkt")
    if len(zattrs.columns) > 1:
        refined = refined.join(zattrs, zone_id_col)
    return refined


def cover_cells_bbox_udf(bits: int):
    """pandas UDF: bbox columns -> covering cells at a fixed tier (the
    feature-side twin of cover_cells_udf, skipping the WKT re-parse when the
    bbox columns already exist)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        out = []
        for a, b, c, d in zip(
            minx.to_numpy(np.float64),
            miny.to_numpy(np.float64),
            maxx.to_numpy(np.float64),
            maxy.to_numpy(np.float64),
        ):
            cells = cells_covering_bbox(a, b, c, d, bits, DEFAULT_CONFIG)
            if len(cells) > MAX_COVER_CELLS:
                raise ValueError(
                    f"feature cover exceeds {MAX_COVER_CELLS} cells at tier {bits}"
                )
            out.append(cells.tolist())
        return pd.Series(out)

    return _cover


def zonal_stats(
    points: DataFrame,
    zones: DataFrame,
    aggs: list,
    zone_id_col: str = "zone_id",
    **join_kw,
) -> DataFrame:
    """Zonal aggregation = PIP join + groupBy(zone) (J6 zonal path):
    partial aggregation is map-side (Catalyst native partial/final agg,
    the analog of the reference's server-side AggregationIterator)."""
    return pip_join(points, zones, **join_kw).groupBy(zone_id_col).agg(*aggs)


def with_hot_cell_salt(
    points: DataFrame,
    cell_col: str,
    hot_threshold: int = 1_000_000,
    buckets: int = 16,
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Explicit skew mitigation (K7 analog): returns (points+salt, hot_cells).

    Count per cell (cheap partial-agg pass), mark cells above threshold,
    salt the probe side deterministically; the caller explodes the build side
    over `sequence(0, buckets-1)` for hot cells only.  For most workloads
    AQE's skew-join split makes this unnecessary — provided for the extreme
    (10^12-doc hot-spot) case and exercised in tests.
    """
    counts = points.groupBy(cell_col).count()
    hot = counts.filter(F.col("count") >= hot_threshold).select(cell_col, "count")
    salt_src = F.xxhash64(F.col(id_col)) if id_col else F.monotonically_increasing_id()
    # ONE scan: broadcast-left-join the (tiny) hot-cell list and salt
    # conditionally — a semi/anti pair would read the probe twice
    flag = hot.select(cell_col).withColumn("_is_hot", F.lit(True))
    salted = (
        points.join(F.broadcast(flag), cell_col, "left")
        .withColumn(
            "salt",
            F.when(F.col("_is_hot"), F.pmod(salt_src, F.lit(buckets)))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("_is_hot")
    )
    return salted, hot
