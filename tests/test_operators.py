"""Spark operator tests: PIP join modes, kNN pruning == brute force, KDE
reference arithmetic, subsampling, salting.  Mirrors the reference IT suite
(GeoWaveBasicIT / GeoWaveNNIT / KDERasterResizeIT, SURVEY.md §5.2) including
the centroid-hash result-set contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _pts(spark, geo001):
    return spark.read.parquet(str(geo001 / "points.parquet"))


def _as_queries(pts):
    return pts.select(F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))


def _zones(spark, geo001):
    return spark.read.parquet(str(geo001 / "zones.parquet"))


class TestPipJoin:
    def test_fixed_equals_tiered(self, spark, geo001):
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001).filter(F.col("zclass") != "dateline")
        a = {(r.fid, r.zone_id) for r in pip_join(pts, zones).select("fid", "zone_id").collect()}
        b = {
            (r.fid, r.zone_id)
            for r in pip_join(pts, zones, mode="tiered").select("fid", "zone_id").collect()
        }
        assert a == b and len(a) > 0

    def test_broadcast_autogate_fallback_same_rows(self, spark, geo001, monkeypatch):
        """A zone layer larger than MAX_BROADCAST_ZONES must auto-fall-back to
        the shuffle path (no unconditional driver collect of the catalog) and
        still produce the identical pair set."""
        from geowave_spark.operators import spatial_join
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001).filter(F.col("zclass") == "convex")
        a = {(r.fid, r.zone_id) for r in pip_join(pts, zones).select("fid", "zone_id").collect()}
        # force the gate: the convex layer has > 2 distinct geometries
        monkeypatch.setattr(spatial_join, "MAX_BROADCAST_ZONES", 2)
        b = {
            (r.fid, r.zone_id)
            for r in pip_join(pts, zones).select("fid", "zone_id").collect()
        }
        c = {
            (r.fid, r.zone_id)
            for r in pip_join(pts, zones, broadcast_zones=False)
            .select("fid", "zone_id")
            .collect()
        }
        assert a == b == c and len(a) > 0

    def test_tiered_single_probe_scan(self, spark, geo001):
        """Scale contract: tiered mode must read the probe relation exactly
        ONCE (a packed (tier, ancestor_cell) explode + one equi-join), not
        once per zone tier — at 10^12 docs the probe side is the 100-TB
        side.  Pinned by counting probe-parquet scans in the physical plan;
        both the broadcast and the shuffle variant are checked."""
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001)
        for bc in (True, False):
            out = pip_join(pts, zones, mode="tiered", broadcast_zones=bc)
            plan = out._jdf.queryExecution().executedPlan().toString()
            n_probe_scans = sum(
                1 for ln in plan.splitlines() if "points.parquet" in ln and "Scan" in ln
            )
            assert n_probe_scans == 1, f"broadcast={bc}: {n_probe_scans} probe scans"

    def test_no_duplicate_pairs(self, spark, geo001):
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001)
        out = pip_join(pts, zones, mode="tiered").select("fid", "zone_id")
        assert out.count() == out.distinct().count()

    def test_concave_and_dateline_zones(self, spark, geo001):
        """Engine-only check for geometry the SQL oracle can't express:
        concave zones + the dateline multipolygon, verified against the
        pure-python prepared geometry (independent of the Spark path)."""
        from geowave_spark.geometry.predicates import PreparedGeometry
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001).filter(F.col("zclass").isin("concave", "dateline"))
        got = {
            (r.fid, r.zone_id)
            for r in pip_join(pts, zones, mode="tiered").select("fid", "zone_id").collect()
        }
        prows = pts.select("fid", "lon", "lat").collect()
        lon = np.array([r.lon for r in prows])
        lat = np.array([r.lat for r in prows])
        fids = [r.fid for r in prows]
        want = set()
        for z in zones.collect():
            pg = PreparedGeometry(z.geom_wkt)
            for i in np.nonzero(pg.contains_points(lon, lat))[0]:
                want.add((fids[int(i)], z.zone_id))
        assert got == want

    def test_centroid_hash_contract(self, spark, geo001):
        """GeoWaveBasicIT.testQuery semantics: result set compared by exact
        count + set of centroid hashes (GeoWaveTestEnvironment.java:328-414)."""
        from geowave_spark.geometry.wkt import hash_centroid
        from geowave_spark.operators.range_query import spatial_query_points

        pts = _pts(spark, geo001)
        box = "POLYGON ((-75.0 39.5, -72.0 39.5, -72.0 42.5, -75.0 42.5, -75.0 39.5))"
        got = spatial_query_points(pts, box).select("lon", "lat").collect()
        got_hashes = set(
            hash_centroid(
                np.array([r.lon for r in got]), np.array([r.lat for r in got])
            ).tolist()
        )
        rows = pts.select("lon", "lat").collect()
        lon = np.array([r.lon for r in rows])
        lat = np.array([r.lat for r in rows])
        m = (lon >= -75) & (lon <= -72) & (lat >= 39.5) & (lat <= 42.5)
        want_hashes = set(hash_centroid(lon[m], lat[m]).tolist())
        assert len(got) == int(m.sum())
        assert got_hashes == want_hashes


class TestKnn:
    def test_pruned_equals_brute(self, spark, geo001):
        from knn_oracle import knn_join_brute

        from geowave_spark.operators.knn import knn_join

        pts = _pts(spark, geo001)
        q = (
            pts.filter(F.col("fid").endswith("0"))
            .select(F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
            .limit(50)
        )
        a = {tuple(r) for r in knn_join(q, pts, k=5, max_distance_deg=1.5).collect()}
        b = {tuple(r) for r in knn_join_brute(q, pts, k=5, max_distance_deg=1.5).collect()}
        assert a == b and len(a) > 0

    def test_adaptive_equals_fixed(self, spark, geo001):
        from geowave_spark.operators.knn import knn_join, knn_join_adaptive

        pts = _pts(spark, geo001)
        q = (
            pts.filter(F.col("fid").endswith("0"))
            .select(F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
            .limit(80)
        )
        a = {tuple(r) for r in knn_join(q, pts, k=5, max_distance_deg=1.5).collect()}
        b = {tuple(r) for r in knn_join_adaptive(q, pts, k=5, max_distance_deg=1.5).collect()}
        assert a == b and len(a) > 0

    def test_distance_bound_respected(self, spark, geo001):
        from geowave_spark.operators.knn import knn_join

        pts = _pts(spark, geo001)
        q = pts.limit(5).select(
            F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
        )
        out = knn_join(q, pts, k=1000, max_distance_deg=0.5)
        assert out.filter(F.col("dist_sq") > 0.25).count() == 0
        with pytest.raises(ValueError):
            knn_join(q, pts, k=3, max_distance_deg=0.0)

    @pytest.mark.parametrize("metric", ["square", "hex", "geodesic"])
    def test_candidate_plan_is_pure_catalyst(self, spark, geo001, metric):
        """Every kNN's candidate stage is Catalyst only — no Python or Arrow
        eval node — and the query side is broadcast.  The hex case is one
        round of knn_join_hexring_adaptive (its rounds are checkpointed, so
        the adaptive result's own plan is a scan)."""
        from geowave_spark.operators import knn

        pts = _pts(spark, geo001)
        q = _as_queries(pts.limit(50))
        if metric == "square":
            out = knn.knn_join(q, pts, k=3, max_distance_deg=1.0)
        elif metric == "geodesic":
            out = knn.knn_join_geodesic(q, pts, k=3, max_distance_km=100.0)
        else:
            cols = ("qid", "qlon", "qlat", "fid", "lon", "lat")
            pairs = knn._pairs(q, pts, knn._hex(1.0), cols, True)
            out = knn._top_k(pairs, 3, "qid", "fid", "dist_sq")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan

    def test_edge_placements_equal_brute(self, spark):
        """Seeded edge cases of the cell grids.  distance_join == a brute
        crossJoin on pairs at exactly distance d (5/16 and 3-4-5 triangles,
        exact in binary), on multiples of the d/2 cell size, at negative
        coordinates and at |lon| near 180.  knn_join_geodesic == brute
        haversine with points on both poles and on +-180."""
        from pyspark.sql.window import Window

        from geowave_spark.functions.distance import haversine_km
        from geowave_spark.operators.knn import distance_join, knn_join_geodesic

        def frame(xy):
            rows = [(f"p{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(xy)]
            pts = spark.createDataFrame(rows, "fid string, lon double, lat double")
            return pts, _as_queries(pts)

        rng = np.random.RandomState(61)
        d, cell = 5 / 16, 5 / 32  # 180 = 1152 cells
        bases = [
            (i * cell, j * cell)
            for i in (-1152, -1151, -3, -1, 0, 2, 1150, 1152)
            for j in (-576, -7, -1, 0, 1, 4, 575)
        ]
        # four partners at exactly d, one just beyond it
        moves = [(d, 0.0), (0.0, d), (-d, 0.0), (3 / 16, 4 / 16), (-4 / 16, 3 / 16), (d, 1 / 64)]
        xy = bases + [(x + dx, y + dy) for x, y in bases[::3] for dx, dy in moves]
        jitter = rng.uniform(-0.4, 0.4, (150, 2))
        xy += [(bases[i][0] + a, bases[i][1] + b)
               for i, (a, b) in zip(rng.randint(len(bases), size=150), jitter)]
        pts, q = frame(xy)
        dx, dy = F.col("lon") - F.col("qlon"), F.col("lat") - F.col("qlat")
        brute = pts.crossJoin(q).withColumn("dist_sq", dx * dx + dy * dy)
        want = {
            tuple(r)
            for r in brute.filter(F.col("dist_sq") <= d * d)
            .select("qid", "fid", "dist_sq").collect()
        }
        assert {tuple(r) for r in distance_join(q, pts, d).collect()} == want
        assert sum(r[2] == d * d for r in want) >= 5 * len(bases[::3])

        poles = [(lon, lat) for lon in (-180.0, -90.0, 0.0, 45.0, 180.0) for lat in (-90.0, 90.0)]
        seam = [(lon, lat) for lon in (-180.0, 180.0, -179.9, 179.9)
                for lat in (-60.0, -1.0, 0.0, 1.0, 60.0)]
        spread = zip(rng.uniform(-180, 180, 120), rng.uniform(-90, 90, 120))
        caps = zip(rng.uniform(-180, 180, 60), rng.choice([-1, 1], 60) * rng.uniform(85, 90, 60))
        pts, q = frame(poles + seam + list(spread) + list(caps))
        hav = haversine_km(F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat"))
        w = Window.partitionBy("qid").orderBy("hav_km", "fid")
        brute = pts.crossJoin(q).filter(F.col("fid") != F.col("qid")).withColumn("hav_km", hav)
        for km, k in ((50.0, 3), (2000.0, 400)):
            want = {
                (r.qid, r.fid, r.rank)
                for r in brute.filter(F.col("hav_km") <= km)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .collect()
            }
            got = knn_join_geodesic(q, pts, k=k, max_distance_km=km).collect()
            assert {(r.qid, r.fid, r.rank) for r in got} == want
            assert len(want) > len(poles)


class TestKde:
    def test_reference_arithmetic_tiny_case(self, spark):
        """Hand-check the splat against the reference formulas: one point,
        one level, tileSize 1 (AccumuloKDEReducer defaults)."""
        from geowave_spark.operators.kde import KERNEL_X1000, kde_pyramid

        df = spark.createDataFrame([(10.0, 20.0)], "lon double, lat double")
        out = kde_pyramid(df, min_level=2, max_level=2, tile_size=1).collect()
        # level 2: numXPosts=8, numYPosts=4; xbin=floor((190/360)*8)=4,
        # ybin=floor((110/180)*4)=2
        cells = {r.cell_id: r for r in out}
        # dx in {1..7} all valid (8 posts), dy -> y in {-1..5} clipped to {0..3}
        assert len(cells) == 7 * 4
        center = 4 * 4 + 2
        assert cells[center].weight_scaled == KERNEL_X1000[3] * KERNEL_X1000[3]
        # tile math: cell 18 -> xPost=4, yPost=2 -> tile (4,2), px=0, py=0
        r = cells[center]
        assert (r.tile_x, r.tile_y, r.px, r.py) == (4, 2, 0, 0)
        assert r.tile_west == (4 * 360.0) / 8 - 180.0 == 0.0
        assert r.tile_south == (2 * 180.0) / 4 - 90.0 == 0.0
        # max cell has normalized exactly 1.0; percentile of top == 1.0
        assert max(r.normalized for r in out) == 1.0
        assert max(r.percentile for r in out) == 1.0

    def test_total_mass(self, spark):
        """All 49 kernel taps land when the point is interior: total scaled
        mass = (sum kernel)^2 per level per point."""
        from geowave_spark.operators.kde import KERNEL_X1000, kde_pyramid

        df = spark.createDataFrame([(0.5, 0.5), (10.2, -30.3)], "lon double, lat double")
        out = kde_pyramid(df, min_level=6, max_level=7, tile_size=4)
        total = out.groupBy("level").agg(F.sum("weight_scaled").alias("m")).collect()
        expect = 2 * sum(KERNEL_X1000) ** 2
        assert all(r.m == expect for r in total)

    def test_tile_assembly(self, spark, geo001):
        from geowave_spark.operators.kde import assemble_tiles, kde_pyramid

        pts = _pts(spark, geo001).limit(500)
        cells = kde_pyramid(pts, min_level=4, max_level=4, tile_size=4)
        tiles = assemble_tiles(cells, 4)
        row = tiles.orderBy(F.desc("n_pixels")).first()
        assert 1 <= row.n_pixels <= 16
        assert len(row.pixels) == row.n_pixels


class TestSkew:
    def test_hot_cell_salt(self, spark, geo001):
        from geowave_spark.operators.indexing import cell_at_tier, with_point_cells
        from geowave_spark.operators.spatial_join import with_hot_cell_salt
        from geowave_spark.sfc import DEFAULT_CONFIG

        pts = with_point_cells(_pts(spark, geo001))
        coarse = pts.withColumn("cell8", cell_at_tier(F.col("cell"), DEFAULT_CONFIG.finest, 8))
        salted, hot = with_hot_cell_salt(coarse, "cell8", hot_threshold=50, buckets=4, id_col="fid")
        assert salted.count() == coarse.count()  # no rows lost
        nhot = hot.count()
        assert nhot > 0  # clustered fixture must produce hot cells
        # hot rows spread across >1 salt bucket
        spread = (
            salted.join(hot.select("cell8"), "cell8", "left_semi")
            .select("salt")
            .distinct()
            .count()
        )
        assert spread > 1

    def test_salted_shuffle_join_matches_unsalted(self, spark, geo001):
        """pip_join(salt_hot=...) must return byte-identical pairs to the
        plain shuffle join — salting changes the shuffle layout, never the
        result."""
        from geowave_spark.operators.spatial_join import pip_join

        pts = _pts(spark, geo001)
        zones = _zones(spark, geo001)
        plain = {
            (r.fid, r.zone_id)
            for r in pip_join(pts, zones, broadcast_zones=False)
            .select("fid", "zone_id")
            .collect()
        }
        salted = {
            (r.fid, r.zone_id)
            for r in pip_join(
                pts,
                zones,
                broadcast_zones=False,
                salt_hot=(50, 4),
                salt_id_col="fid",
            )
            .select("fid", "zone_id")
            .collect()
        }
        assert plain == salted and plain

    def test_salt_hot_tiered_mode_rejected(self, spark, geo001):
        """salt_hot only applies to the fixed-mode shuffle join; tiered mode
        must refuse the knob rather than silently no-op an explicit skew
        mitigation."""
        import pytest

        from geowave_spark.operators.spatial_join import pip_join

        with pytest.raises(ValueError, match="salt_hot"):
            pip_join(
                _pts(spark, geo001), _zones(spark, geo001),
                mode="tiered", broadcast_zones=False, salt_hot=(50, 4),
            )

    def test_areal_refine_null_feature_wkt_is_false(self):
        """A null feature WKT factorizes to code -1; the refine must leave
        the row False instead of indexing the batch's LAST distinct geometry
        (which here lies inside the zone and would flip it True)."""
        import pandas as pd

        from geowave_spark.operators.spatial_join import refine_areal_udf

        zone = "POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0))"
        fn = refine_areal_udf(False, catalog=[zone]).func
        out = fn(
            pd.Series(["POINT (1.0 1.0)", None, "POINT (5.0 5.0)"]),
            pd.Series([0, 0, 0]),
        )
        assert list(out) == [True, False, True]
        # shuffle-path variant (zone WKT rides the row) behaves the same
        fn2 = refine_areal_udf(False).func
        out2 = fn2(
            pd.Series(["POINT (1.0 1.0)", None, "POINT (5.0 5.0)"]),
            pd.Series([zone, zone, zone]),
        )
        assert list(out2) == [True, False, True]


class TestKdeScalable:
    def test_approx_bands_close_to_exact(self, spark, geo001):
        from geowave_spark.operators.kde import kde_pyramid

        pts = _pts(spark, geo001)
        exact = kde_pyramid(pts, min_level=4, max_level=5, tile_size=2)
        approx = kde_pyramid(
            pts, min_level=4, max_level=5, tile_size=2, percentile_mode="approx"
        )
        e = {(r.level, r.cell_id): (r.weight_scaled, r.normalized, r.percentile) for r in exact.collect()}
        a = {(r.level, r.cell_id): (r.weight_scaled, r.normalized, r.percentile) for r in approx.collect()}
        assert set(e) == set(a)
        for k in e:
            assert e[k][0] == a[k][0]          # sums identical (exact ints)
            assert abs(e[k][1] - a[k][1]) < 1e-12   # normalized identical
            assert abs(e[k][2] - a[k][2]) <= 0.02   # percentile within 2%

    def test_auto_mode_switches_on_cell_bound(self, spark):
        """percentile_mode='auto' must ship the sketch plan (no per-level
        window sort) once the occupied-cell bound crosses max_exact_cells,
        and keep the bit-exact window plan under it."""
        from geowave_spark.operators.kde import kde_pyramid

        pts = spark.createDataFrame(
            [(i * 0.7 - 90.0, i * 0.3 - 40.0) for i in range(200)], "lon double, lat double"
        )

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        # deep pyramid: grid bound at level 25 (2^51 cells) >> threshold and
        # 200*49 splat bound only under a generous threshold -> exact only if
        # the splat bound is consulted; force the switch with a tiny threshold
        deep = kde_pyramid(pts, min_level=20, max_level=25, max_exact_cells=1000)
        assert "Window" not in plan(deep)
        # shallow pyramid: grid bound alone settles it, no count() job needed,
        # exact window plan retained (the oracle contract)
        shallow = kde_pyramid(pts, min_level=4, max_level=6, tile_size=4)
        assert "Window" in plan(shallow)
        # the splat bound rescues a deep-but-sparse pyramid back to exact
        sparse = kde_pyramid(pts, min_level=20, max_level=25, max_exact_cells=10_000)
        assert "Window" in plan(sparse)

    def test_unknown_percentile_mode_rejected(self, spark):
        import pytest

        from geowave_spark.operators.kde import kde_pyramid

        pts = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
        with pytest.raises(ValueError, match="percentile_mode"):
            kde_pyramid(pts, min_level=4, max_level=5, percentile_mode="Exact")


class TestArealJoin:
    def test_matches_bruteforce_all_kinds_incl_concave(self, spark, geo001):
        """areal_join == brute-force per-pair exact predicate over every
        geometry kind, including concave zones the SQL oracle can't express."""
        from geowave_spark.extract import with_geometry
        from geowave_spark.geometry.predicates import PreparedGeometry, geom_intersects_prepared
        from geowave_spark.operators.spatial_join import areal_join

        docs = with_geometry(
            spark.read.parquet(str(geo001 / "docs.parquet")).limit(600)
        ).select("doc_id", "geom_wkt", "minx", "miny", "maxx", "maxy")
        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass").isin("convex", "concave")
        )
        got = {
            (r.doc_id, r.zone_id)
            for r in areal_join(docs, zones).select("doc_id", "zone_id").collect()
        }
        want = set()
        zlist = [(z.zone_id, PreparedGeometry(z.geom_wkt)) for z in zones.collect()]
        for d in docs.collect():
            for zid, pg in zlist:
                if geom_intersects_prepared(d.geom_wkt, pg):
                    want.add((d.doc_id, zid))
        assert got == want and len(got) > 0
        # all three kinds participate
        kinds = {
            r.gk
            for r in areal_join(docs, zones)
            .select(F.split("geom_wkt", " ")[0].alias("gk"))
            .distinct()
            .collect()
        }
        assert {"POINT", "LINESTRING", "POLYGON"} <= kinds

    def test_contains_matches_bruteforce(self, spark, geo001):
        from geowave_spark.extract import with_geometry
        from geowave_spark.geometry.predicates import PreparedGeometry, geom_within_prepared
        from geowave_spark.operators.spatial_join import areal_join

        docs = with_geometry(
            spark.read.parquet(str(geo001 / "docs.parquet")).limit(500)
        ).select("doc_id", "geom_wkt", "minx", "miny", "maxx", "maxy")
        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass").isin("convex", "concave")
        )
        within = {
            (r.doc_id, r.zone_id)
            for r in areal_join(docs, zones, compare_op="CONTAINS")
            .select("doc_id", "zone_id")
            .collect()
        }
        inter = {
            (r.doc_id, r.zone_id)
            for r in areal_join(docs, zones).select("doc_id", "zone_id").collect()
        }
        assert within <= inter and len(within) > 0
        want = set()
        zlist = [(z.zone_id, PreparedGeometry(z.geom_wkt)) for z in zones.collect()]
        for d in docs.collect():
            for zid, pg in zlist:
                if geom_within_prepared(d.geom_wkt, pg):
                    want.add((d.doc_id, zid))
        assert within == want


def test_areal_shuffle_path_same_rows(spark, geo001, monkeypatch):
    """With the broadcast gate shut, areal_join takes its shuffle branch
    (zone WKT rides the build side, no catalog) and returns the same
    (doc_id, zone_id) pairs as the broadcast run, for both predicates."""
    from geowave_spark.extract import with_geometry
    from geowave_spark.operators import spatial_join
    from geowave_spark.operators.spatial_join import areal_join

    docs = with_geometry(
        spark.read.parquet(str(geo001 / "docs.parquet")).limit(500)
    ).select("doc_id", "geom_wkt", "minx", "miny", "maxx", "maxy")
    zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
        F.col("zclass").isin("convex", "concave")
    )

    def pairs(df):
        return {(r.doc_id, r.zone_id) for r in df.select("doc_id", "zone_id").collect()}

    for op in ("OVERLAPS", "CONTAINS"):
        want = pairs(areal_join(docs, zones, compare_op=op))
        with monkeypatch.context() as m:
            m.setattr(spatial_join, "MAX_BROADCAST_ZONES", 0)
            shuffled = areal_join(docs, zones, compare_op=op)  # gate decided here
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "_zidx" not in plan, "broadcast catalog still in the plan"
        assert pairs(shuffled) == want and len(want) > 0, op


class TestGeodesicKnn:
    def test_matches_brute_haversine_incl_high_latitude(self, spark):
        """The cell-bucketed geodesic kNN equals the crossJoin baseline —
        including polar-adjacent queries where the lon inflation by
        1/cos(lat) is what keeps candidates complete."""
        import numpy as np

        from geowave_spark.functions.distance import haversine_km
        from geowave_spark.operators.knn import knn_join_geodesic
        from pyspark.sql.window import Window

        rng = np.random.RandomState(9)
        rows = [
            (f"p{i:04d}", float(lon), float(lat))
            for i, (lon, lat) in enumerate(
                zip(rng.uniform(-180, 180, 3000), rng.uniform(60, 85, 3000))
            )
        ]
        pts = spark.createDataFrame(rows, "fid string, lon double, lat double")
        q = (
            pts.filter(F.col("fid").endswith("0"))
            .limit(60)
            .select(F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
        )
        got = {
            (r.qid, r.fid, r.rank)
            for r in knn_join_geodesic(q, pts, k=5, max_distance_km=300.0).collect()
        }
        hav = haversine_km(F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat"))
        scored = (
            pts.crossJoin(F.broadcast(q))
            .filter(F.col("fid") != F.col("qid"))
            .withColumn("hav_km", hav)
            .filter(F.col("hav_km") <= 300.0)
        )
        w = Window.partitionBy("qid").orderBy("hav_km", "fid")
        want = {
            (r.qid, r.fid, r.rank)
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("qid", "fid", "rank")
            .collect()
        }
        assert got == want and len(got) > 0
