"""Planted-scenario tests for the spatial-statistics / movement wave:
Moran's I, IDW interpolation, per-track stats, geofence transitions.

Each test constructs an input whose statistic is known by hand (or by an
independent brute-force recomputation) — the DuckDB hash-parity for these
operators lives in tests/test_oracle_parity.py / the driver gate; these pin
the *semantics*.
"""

import math

import pytest
from pyspark.sql import functions as F


def _pts_df(spark, rows):
    return spark.createDataFrame(rows, "lon double, lat double")


class TestMoransI:
    def test_checkerboard_is_negative(self, spark):
        from geowave_spark.operators.hotspot import morans_i

        # 6x6 checkerboard of alternating 1-point / 3-point cells: perfect
        # negative autocorrelation between queen neighbors on the diagonal
        # axes, strongly negative I
        rows = []
        for cx in range(6):
            for cy in range(6):
                n = 1 if (cx + cy) % 2 == 0 else 3
                rows += [(cx + 0.5, cy + 0.5)] * n
        out = morans_i(_pts_df(spark, rows), cell_deg=1.0).collect()[0]
        assert out.n_cells == 36
        assert out.morans_i_ppm < 0

    def test_two_blocks_is_positive(self, spark):
        from geowave_spark.operators.hotspot import morans_i

        # one dense 3x3 block and one sparse 3x3 block, far apart: neighbors
        # agree everywhere -> strongly positive I
        rows = []
        for cx in range(3):
            for cy in range(3):
                rows += [(cx + 0.5, cy + 0.5)] * 5
                rows += [(cx + 100.5, cy + 0.5)] * 1
        out = morans_i(_pts_df(spark, rows), cell_deg=1.0).collect()[0]
        assert out.morans_i_ppm > 500_000  # I > 0.5

    def test_uniform_counts_null(self, spark):
        from geowave_spark.operators.hotspot import morans_i

        # every occupied cell holds the same count -> variance 0 -> NULL
        rows = [(cx + 0.5, 0.5) for cx in range(5)]
        out = morans_i(_pts_df(spark, rows), cell_deg=1.0).collect()[0]
        assert out.morans_i_ppm is None

    def test_matches_brute_force(self, spark, geo001):
        from geowave_spark.operators.hotspot import morans_i

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        out = morans_i(pts, cell_deg=1.0).collect()[0]
        # independent recomputation in plain Python
        from collections import Counter

        cells = Counter()
        for r in pts.select("lon", "lat").collect():
            cells[(math.floor(r.lon), math.floor(r.lat))] += 1
        n = len(cells)
        xbar = sum(cells.values()) / n
        num = w = 0
        for (cx, cy), xi in cells.items():
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if (dx, dy) == (0, 0):
                        continue
                    xj = cells.get((cx + dx, cy + dy))
                    if xj is not None:
                        num += (xi - xbar) * (xj - xbar)
                        w += 1
        den = sum((x - xbar) ** 2 for x in cells.values())
        i = (n / w) * num / den
        assert out.w_pairs == w
        assert abs(out.morans_i_ppm / 1e6 - i) < 1e-3


class TestIdwGrid:
    def test_single_point_estimates_its_value(self, spark):
        from geowave_spark.operators.interpolate import idw_grid

        df = spark.createDataFrame(
            [(0.5, 0.5, 7.25)], "lon double, lat double, magnitude double"
        )
        out = idw_grid(df, cell_deg=1.0).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.xb, r.yb, r.n_pts) == (0, 0, 1)
        # sole neighbor -> weighted mean IS the value (floor to milli)
        assert r.est_milli == 7250

    def test_weighted_toward_nearer_point(self, spark):
        from geowave_spark.operators.interpolate import idw_grid

        # target cell (0,0) center (0.5, 0.5): value-10 point sits at the
        # center, value-0 point sits in the far corner of a neighbor cell
        df = spark.createDataFrame(
            [(0.5, 0.5, 10.0), (1.99, 1.99, 0.0)],
            "lon double, lat double, magnitude double",
        )
        rows = {(r.xb, r.yb): r for r in idw_grid(df, cell_deg=1.0).collect()}
        est = rows[(0, 0)].est_milli / 1000.0
        assert 9.0 < est <= 10.0  # near point dominates
        # the far cell's own estimate leans to its resident value-0 point
        # (weights ~2.0e6 vs ~0.5e6 -> estimate ~2, well under the 5.0
        # unweighted midpoint)
        assert rows[(1, 1)].est_milli / 1000.0 < 2.5

    def test_neighborhood_is_3x3(self, spark):
        from geowave_spark.operators.interpolate import idw_grid

        # a point 2 cells away must NOT contribute
        df = spark.createDataFrame(
            [(0.5, 0.5, 10.0), (5.5, 0.5, 0.0)],
            "lon double, lat double, magnitude double",
        )
        rows = {(r.xb, r.yb): r for r in idw_grid(df, cell_deg=1.0).collect()}
        assert rows[(0, 0)].n_pts == 1 and rows[(0, 0)].est_milli == 10000
        assert rows[(5, 0)].n_pts == 1 and rows[(5, 0)].est_milli == 0


class TestTrackStats:
    def test_hand_computed_length(self, spark):
        from geowave_spark.operators.trajectory import track_stats

        df = spark.createDataFrame(
            [
                (
                    "t1",
                    "LINESTRING (0 0, 3 4, 3 10)",
                    "2020-01-01 00:00:00",
                    "2020-01-01 01:00:00",
                )
            ],
            "fid string, geom_wkt string, start_ts string, end_ts string",
        ).select(
            "fid",
            "geom_wkt",
            F.col("start_ts").cast("timestamp").alias("start_ts"),
            F.col("end_ts").cast("timestamp").alias("end_ts"),
        )
        r = track_stats(df).collect()[0]
        assert (r.n_verts, r.n_segs) == (3, 2)
        # segments: 5.0 and 6.0 degrees exactly -> 11_000_000 micro-deg
        assert r.length_udeg == 11_000_000
        assert r.duration_ms == 3_600_000

    def test_single_vertex_track(self, spark):
        from geowave_spark.operators.trajectory import track_stats

        df = spark.createDataFrame(
            [("t1", "LINESTRING (1 2)", "2020-01-01 00:00:00", "2020-01-01 00:00:00")],
            "fid string, geom_wkt string, start_ts string, end_ts string",
        ).select(
            "fid",
            "geom_wkt",
            F.col("start_ts").cast("timestamp").alias("start_ts"),
            F.col("end_ts").cast("timestamp").alias("end_ts"),
        )
        r = track_stats(df).collect()[0]
        assert (r.n_verts, r.n_segs, r.length_udeg) == (1, 0, 0)

    def test_zero_shuffle_plan(self, spark, geo001):
        from geowave_spark.operators.trajectory import track_stats

        tracks = spark.read.parquet(str(geo001 / "tracks.parquet"))
        plan = track_stats(tracks)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # pure map-side projection


class TestGeofenceTransitions:
    def _zones(self, spark):
        # two unit-square zones side by side
        return spark.createDataFrame(
            [
                ("za", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "convex"),
                ("zb", "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))", "convex"),
            ],
            "zone_id string, geom_wkt string, zclass string",
        )

    def test_enter_exit_switch(self, spark):
        from geowave_spark.operators.geofence import geofence_transitions

        pings = [
            # entity e1: outside -> za (enter), za -> zb (switch), zb -> out (exit)
            ("e1", "p1", "2020-01-01 00:00:00", 9.5, 9.5),
            ("e1", "p2", "2020-01-01 00:01:00", 0.5, 0.5),
            ("e1", "p3", "2020-01-01 00:02:00", 2.5, 0.5),
            ("e1", "p4", "2020-01-01 00:03:00", 9.5, 9.5),
            # entity e2: stays inside za the whole time -> no transitions
            ("e2", "p5", "2020-01-01 00:00:00", 0.2, 0.2),
            ("e2", "p6", "2020-01-01 00:01:00", 0.8, 0.8),
        ]
        df = spark.createDataFrame(
            pings, "category string, fid string, event_ts string, lon double, lat double"
        ).select(
            "category",
            "fid",
            F.col("event_ts").cast("timestamp").alias("event_ts"),
            "lon",
            "lat",
        )
        out = sorted(
            geofence_transitions(df, self._zones(spark)).collect(),
            key=lambda r: r.event_ms,
        )
        assert [(r.fid, r.from_zone, r.to_zone, r.kind) for r in out] == [
            ("p2", None, "za", "enter"),
            ("p3", "za", "zb", "switch"),
            ("p4", "zb", None, "exit"),
        ]
        assert all(r.entity == "e1" for r in out)

    def test_first_ping_never_emits(self, spark):
        from geowave_spark.operators.geofence import geofence_transitions

        df = spark.createDataFrame(
            [("e1", "p1", "2020-01-01 00:00:00", 0.5, 0.5)],
            "category string, fid string, event_ts string, lon double, lat double",
        ).select(
            "category",
            "fid",
            F.col("event_ts").cast("timestamp").alias("event_ts"),
            "lon",
            "lat",
        )
        assert geofence_transitions(df, self._zones(spark)).count() == 0


class TestSimplifyTracks:
    """Distributed Douglas-Peucker vs a straightforward recursive reference
    implementation (the DuckDB recursive-CTE hash parity lives in the driver
    gate / test_oracle_parity)."""

    @staticmethod
    def _ref_dp(pts, tol):
        """Plain recursive DP with the operator's exact selection rule:
        cross^2 > tol^2 * len2, ties to the smallest index."""
        tol2 = tol * tol
        keep = set()

        def rec(i, j):
            keep.add(i)
            keep.add(j)
            xi, yi = pts[i]
            xj, yj = pts[j]
            len2 = (xj - xi) ** 2 + (yj - yi) ** 2
            best, bestc = None, None
            for k in range(i + 1, j):
                x, y = pts[k]
                c2 = ((xj - xi) * (yi - y) - (xi - x) * (yj - yi)) ** 2
                if c2 > tol2 * len2 and (bestc is None or c2 > bestc):
                    best, bestc = k, c2
            if best is not None:
                rec(i, best)
                rec(best, j)

        rec(0, len(pts) - 1)
        return keep

    def _tracks_df(self, spark, rows):
        return spark.createDataFrame(rows, "fid string, geom_wkt string")

    def test_hand_example(self, spark):
        from geowave_spark.operators.trajectory import simplify_tracks

        # spike at idx 2 survives; idx 1 and 3 (0.44 deg off the split
        # segments) drop at tol 0.5 but would survive a tighter tolerance
        wkt = "LINESTRING (0 0, 1 0.01, 2 1, 3 0.01, 4 0)"
        out = simplify_tracks(self._tracks_df(spark, [("t", wkt)]), 0.5)
        assert {r.idx for r in out.collect()} == {0, 2, 4}

    def test_straight_line_collapses_to_endpoints(self, spark):
        from geowave_spark.operators.trajectory import simplify_tracks

        wkt = "LINESTRING (" + ", ".join(f"{i} {i}" for i in range(12)) + ")"
        out = simplify_tracks(self._tracks_df(spark, [("t", wkt)]), 0.001)
        assert {r.idx for r in out.collect()} == {0, 11}

    def test_zero_tolerance_keeps_noncollinear(self, spark):
        from geowave_spark.operators.trajectory import simplify_tracks

        wkt = "LINESTRING (0 0, 1 1, 2 0, 3 1)"
        out = simplify_tracks(self._tracks_df(spark, [("t", wkt)]), 0.0)
        assert {r.idx for r in out.collect()} == {0, 1, 2, 3}

    def test_matches_reference_on_fixture_corpus(self, spark, geo001):
        from geowave_spark.operators.trajectory import (
            simplify_tracks,
            track_vertices,
        )

        tracks = spark.read.parquet(str(geo001 / "tracks.parquet"))
        got = {}
        for r in simplify_tracks(tracks, 0.05).collect():
            got.setdefault(r.fid, set()).add(r.idx)
        verts = {}
        for r in track_vertices(tracks).collect():
            verts.setdefault(r.fid, []).append((r.idx, r.x, r.y))
        assert len(got) == len(verts)
        for fid, vs in verts.items():
            pts = [(x, y) for _, x, y in sorted(vs)]
            assert got[fid] == self._ref_dp(pts, 0.05), fid


class TestHausdorffJoin:
    """Output-sensitive Hausdorff similarity join vs a brute-force reference
    (the DuckDB full-matrix parity lives in the driver gate)."""

    @staticmethod
    def _ref_hausdorff(a, b):
        def directed(p, q):
            return max(min((px - qx) ** 2 + (py - qy) ** 2 for qx, qy in q) for px, py in p)

        return max(directed(a, b), directed(b, a))

    def _tracks_df(self, spark, rows):
        return spark.createDataFrame(rows, "fid string, geom_wkt string")

    def test_hand_example(self, spark):
        from geowave_spark.operators.trajectory import hausdorff_join

        # a/b are 0.05-shifted copies (H = 0.05), c is far from both
        rows = [
            ("a", "LINESTRING (0 0, 1 0, 2 0)"),
            ("b", "LINESTRING (0 0.05, 1 0.05, 2 0.05)"),
            ("c", "LINESTRING (10 10, 11 10)"),
        ]
        out = {(r.fid_a, r.fid_b): r.hd_q for r in hausdorff_join(self._tracks_df(spark, rows), 0.1).collect()}
        assert set(out) == {("a", "b")}
        assert out[("a", "b")] == int(0.05 * 0.05 * 1e9)  # 2_500_000

    def test_boundary_inclusive(self, spark):
        from geowave_spark.operators.trajectory import hausdorff_join

        # distance exactly == threshold must be INCLUDED (<= semantics)
        rows = [
            ("a", "LINESTRING (0 0, 1 0)"),
            ("b", "LINESTRING (0 0.1, 1 0.1)"),
        ]
        out = hausdorff_join(self._tracks_df(spark, rows), 0.1).collect()
        assert len(out) == 1
        # and strictly-farther is excluded
        rows2 = [
            ("a", "LINESTRING (0 0, 1 0)"),
            ("b", "LINESTRING (0 0.100001, 1 0.100001)"),
        ]
        assert hausdorff_join(self._tracks_df(spark, rows2), 0.1).count() == 0

    def test_asymmetric_coverage(self, spark):
        from geowave_spark.operators.trajectory import hausdorff_join

        # b's vertices all hug a, but a has a stray vertex far from b:
        # the a->b direction must reject the pair (directedness matters)
        rows = [
            ("a", "LINESTRING (0 0, 1 0, 5 5)"),
            ("b", "LINESTRING (0 0.01, 1 0.01)"),
        ]
        assert hausdorff_join(self._tracks_df(spark, rows), 0.1).count() == 0

    def test_matches_bruteforce_on_fixture_sample(self, spark):
        from geowave_spark.datagen import ensure_geo_tables
        from geowave_spark.geometry.wkt import parse_wkt
        from geowave_spark.operators.trajectory import hausdorff_join

        tracks = (
            spark.read.parquet(str(ensure_geo_tables("sf0.01") / "tracks.parquet"))
            .filter("fid < 'tr_0000200'")
            .select("fid", "geom_wkt")
        )
        rows = tracks.collect()
        verts = {}
        for r in rows:
            kind, parts = parse_wkt(r.geom_wkt)
            assert kind == "linestring"
            verts[r.fid] = [(float(x), float(y)) for x, y in parts]
        t = 0.3
        expected = {}
        fids = sorted(verts)
        for i, fa in enumerate(fids):
            for fb in fids[i + 1 :]:
                h = self._ref_hausdorff(verts[fa], verts[fb])
                if h <= t * t:
                    expected[(fa, fb)] = int(h * 1e9)
        got = {
            (r.fid_a, r.fid_b): r.hd_q
            for r in hausdorff_join(tracks, t).collect()
        }
        assert got == expected and len(expected) > 0


class TestKnoxTest:
    """Knox space-time interaction vs a brute-force pair-matrix reference
    (the DuckDB full-matrix parity lives in the driver gate)."""

    def _pts_df(self, spark, rows):
        return spark.createDataFrame(
            rows, "fid string, lon double, lat double, event_ts timestamp"
        )

    def test_hand_example(self, spark):
        from datetime import datetime

        from geowave_spark.operators.hotspot import knox_test

        day = 86_400_000
        rows = [
            # a-b: close in space AND time; a-c: close in space only;
            # a-d: close in time only; b-c/b-d/c-d: neither or one
            ("a", 0.0, 0.0, datetime(2020, 1, 1)),
            ("b", 0.1, 0.0, datetime(2020, 1, 2)),
            ("c", 0.2, 0.1, datetime(2020, 6, 1)),
            ("d", 30.0, 30.0, datetime(2020, 1, 3)),
        ]
        out = knox_test(self._pts_df(spark, rows), dist_deg=0.5, tau_ms=3 * day).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n, r.total_pairs) == (4, 6)
        assert r.space_pairs == 3  # ab, ac, bc
        assert r.time_pairs == 3  # ab, ad, bd
        assert r.st_pairs == 1  # ab
        assert r.knox_ppm == int(1e6 * 1 * 6 // (3 * 3))

    def test_boundary_inclusive(self, spark):
        from datetime import datetime

        from geowave_spark.operators.hotspot import knox_test

        # exactly at the distance and time thresholds -> included (<=)
        rows = [
            ("a", 0.0, 0.0, datetime(2020, 1, 1, 0, 0, 0)),
            ("b", 0.5, 0.0, datetime(2020, 1, 1, 1, 0, 0)),
        ]
        r = knox_test(self._pts_df(spark, rows), dist_deg=0.5, tau_ms=3_600_000).collect()[0]
        assert (r.space_pairs, r.time_pairs, r.st_pairs) == (1, 1, 1)
        # just beyond either threshold -> excluded
        rows2 = [
            ("a", 0.0, 0.0, datetime(2020, 1, 1, 0, 0, 0)),
            ("b", 0.500001, 0.0, datetime(2020, 1, 1, 1, 0, 0, 1000)),
        ]
        r2 = knox_test(self._pts_df(spark, rows2), dist_deg=0.5, tau_ms=3_600_000).collect()[0]
        assert (r2.space_pairs, r2.time_pairs, r2.st_pairs) == (0, 0, 0)
        assert r2.knox_ppm is None

    def test_matches_bruteforce_on_fixture(self, spark, geo001):
        from geowave_spark.operators.hotspot import knox_test

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        rows = pts.select("lon", "lat", "event_ts").collect()
        d, tau = 0.8, 5 * 86_400_000
        evs = [(r.lon, r.lat, int(r.event_ts.timestamp() * 1000)) for r in rows]
        sp = tp = st = 0
        for i in range(len(evs)):
            for j in range(i + 1, len(evs)):
                dd = (evs[i][0] - evs[j][0]) ** 2 + (evs[i][1] - evs[j][1]) ** 2
                dt = abs(evs[i][2] - evs[j][2])
                close_s, close_t = dd <= d * d, dt <= tau
                sp += close_s
                tp += close_t
                st += close_s and close_t
        r = knox_test(pts, dist_deg=d, tau_ms=tau).collect()[0]
        n = len(evs)
        assert (r.n, r.total_pairs) == (n, n * (n - 1) // 2)
        assert (r.space_pairs, r.time_pairs, r.st_pairs) == (sp, tp, st)
        assert r.knox_ppm == int(1e6 * st * (n * (n - 1) // 2) // (sp * tp))


def _fid_pts_df(spark, rows, cat=None):
    if cat is None:
        data = [(f"p{i:04d}", x, y) for i, (x, y) in enumerate(rows)]
        return spark.createDataFrame(data, "fid string, lon double, lat double")
    data = [(f"p{i:04d}", x, y, c) for i, ((x, y), c) in enumerate(zip(rows, cat))]
    return spark.createDataFrame(
        data, "fid string, lon double, lat double, category string"
    )


class TestRipleyK:
    def test_unit_square_hand_counts(self, spark):
        """4 corners of a unit square: d=1.0 catches the 4 edges, d=1.5 adds
        the 2 diagonals (sqrt(2)); A=1, n=4 -> K(1)=2*4/12, hand-quantized."""
        from geowave_spark.operators.hotspot import ripley_k

        pts = _fid_pts_df(spark, [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)])
        out = {r.d_ppm: r for r in ripley_k(pts, dists=(0.5, 1.0, 1.5)).collect()}
        assert out[500_000].pairs == 0
        assert out[1_000_000].pairs == 4
        assert out[1_500_000].pairs == 6
        assert out[1_000_000].k_ppm == int(1e6 * 2.0 * 4 / 12)  # 666666
        assert out[500_000].k_ppm == 0

    def test_pair_counted_once_across_cell_boundary(self, spark):
        """Two points 0.2 apart straddling the dmax grid line at x=0 must
        yield exactly ONE pair despite both orientations meeting in the
        3x3 neighborhood join."""
        from geowave_spark.operators.hotspot import ripley_k

        pts = _fid_pts_df(spark, [(-0.1, 0.0), (0.1, 0.0)])
        row = ripley_k(pts, dists=(1.0,)).collect()[0]
        assert row.pairs == 1

    def test_cluster_exceeds_csr(self, spark):
        """A tight blob inside a huge bbox: K(d) far above pi*d^2 (l_ppm far
        above d_ppm); the two far-corner anchors stretch the bbox."""
        from geowave_spark.operators.hotspot import ripley_k

        blob = [(50.0 + 0.001 * i, 50.0) for i in range(30)]
        anchors = [(0.0, 0.0), (100.0, 100.0)]
        row = ripley_k(_fid_pts_df(spark, blob + anchors), dists=(0.5,)).collect()[0]
        assert row.pairs == 435  # C(30,2) blob pairs, anchors isolated
        assert row.l_ppm > 10 * row.d_ppm


class TestCrossK:
    def test_colocated_vs_separated(self, spark):
        """cat a and cat b interleaved in one blob -> every a-b pair within
        d; a third far-away category never contaminates the count."""
        from geowave_spark.operators.hotspot import cross_k

        rows = [(10.0 + 0.01 * i, 20.0) for i in range(10)]
        cats = ["a" if i % 2 == 0 else "b" for i in range(10)]
        far = [(80.0, -70.0 + 0.01 * i) for i in range(5)]
        pts = _fid_pts_df(spark, rows + far, cats + ["c"] * 5)
        row = cross_k(pts, "a", "b", dists=(1.0,)).collect()[0]
        assert (row.n_a, row.n_b) == (5, 5)
        assert row.pairs == 25  # every a-b pair inside the 0.09-wide blob
        # bbox is the a+b blob only (cat c filtered before the bbox agg);
        # the blob is a degenerate horizontal line, so area and K are 0
        assert row.k_ppm == 0

    def test_separated_categories_zero(self, spark):
        from geowave_spark.operators.hotspot import cross_k

        a = [(0.0, 0.0), (0.1, 0.0)]
        b = [(50.0, 50.0), (50.1, 50.0)]
        row = cross_k(
            _fid_pts_df(spark, a + b, ["a", "a", "b", "b"]), "a", "b", dists=(1.0,)
        ).collect()[0]
        assert row.pairs == 0
        assert row.k_ppm == 0


class TestCotravel:
    """Co-traveler detection (operators/cotravel.py) on planted tracks."""

    def _tracks(self, spark, rows):
        from datetime import datetime

        def ts(h, m=0):
            return datetime(2021, 3, 1, h, m)

        data = [(fid, wkt, ts(*t0), ts(*t1)) for fid, wkt, t0, t1 in rows]
        return spark.createDataFrame(
            data,
            "fid string, geom_wkt string, start_ts timestamp_ntz, "
            "end_ts timestamp_ntz",
        )

    def test_companions_found_decoys_rejected(self, spark):
        from geowave_spark.operators.cotravel import cotravel_pairs

        path = "LINESTRING (0 0, 0.5 0, 1 0, 1.5 0)"
        tracks = self._tracks(
            spark,
            [
                ("a", path, (0,), (3,)),  # a and b: same path, same window
                ("b", path, (0,), (3,)),
                ("c", path, (10,), (13,)),  # same path, 10 h later -> no pair
                (  # same window, 5 deg away -> no pair
                    "d",
                    "LINESTRING (5 0, 5.5 0, 6 0, 6.5 0)",
                    (0,),
                    (3,),
                ),
            ],
        )
        out = {
            (r.fid_a, r.fid_b): r
            for r in cotravel_pairs(tracks, radius_deg=0.2, tau_s=3600).collect()
        }
        assert set(out) == {("a", "b")}
        # identical 4-ping tracks: only the 4 index-aligned pairs are within
        # 0.2 deg (consecutive vertices are 0.5 deg apart)
        assert out[("a", "b")].n_pairs == 4

    def test_exactly_once_across_bin_boundary(self, spark):
        """Every qualifying ping pair counts once, including pairs whose
        pings straddle a tau-bin boundary (the dt=+1 join branch)."""
        from geowave_spark.operators.cotravel import cotravel_pairs

        # 2-vertex tracks => pings at the exact window endpoints.  tau=30min:
        # a pings at 0:00/1:00, b at 0:45/1:45 -> only (a@1:00, b@0:45)
        # qualifies, and bins floor(t/30min) are 2 and 1 -> adjacent bins.
        tracks = self._tracks(
            spark,
            [
                ("a", "LINESTRING (0 0, 0.01 0)", (0, 0), (1, 0)),
                ("b", "LINESTRING (0 0.01, 0.01 0.01)", (0, 45), (1, 45)),
            ],
        )
        rows = cotravel_pairs(tracks, radius_deg=0.2, tau_s=1800).collect()
        assert len(rows) == 1
        assert (rows[0].fid_a, rows[0].fid_b, rows[0].n_pairs) == ("a", "b", 1)

    def test_matches_bruteforce_on_fixture_corpus(self, spark, geo001):
        """Planted-free ground truth: brute-force O(n^2) over the collected
        pings of the sf0.001 fixture equals the bucketed join exactly."""
        from collections import defaultdict

        from geowave_spark.operators.cotravel import cotravel_pairs, track_pings

        tracks = spark.read.parquet(str(geo001 / "tracks.parquet"))
        pings = track_pings(tracks).collect()
        tau_u, r2 = 14400 * 1_000_000, 0.2 * 0.2
        truth = defaultdict(lambda: [0, set()])
        for i, p in enumerate(pings):
            for q in pings[i + 1 :]:
                if p.fid == q.fid or abs(p.tu - q.tu) > tau_u:
                    continue
                if (p.x - q.x) ** 2 + (p.y - q.y) ** 2 <= r2:
                    k = (min(p.fid, q.fid), max(p.fid, q.fid))
                    truth[k][0] += 1
                    truth[k][1].add(min(p.tu, q.tu) // tau_u)
        got = {
            (r.fid_a, r.fid_b): (r.n_pairs, r.n_bins)
            for r in cotravel_pairs(tracks, radius_deg=0.2, tau_s=14400).collect()
        }
        assert got == {k: (v[0], len(v[1])) for k, v in truth.items()}

    def test_convoy_requires_consecutive_bins(self, spark):
        """a-b co-occur in bins {0,1,2} -> convoy at min_len 3; a-c only in
        bins {0,2} (a gap) -> max_run 1, filtered out even at min_len 2."""
        from geowave_spark.operators.cotravel import convoy_pairs, cotravel_pairs

        # pings at 0h/1h/2h; tau = 3599 s so same-hour pings co-occur
        # (dt = 0) but adjacent-hour pings (dt = 3600 s) do NOT -> bins are
        # hours and co-occurrence is strictly per-hour.
        path = "LINESTRING (0 0, 0.01 0, 0.02 0)"
        far = "LINESTRING (3 0, 0.01 0.01, 0.02 0.01)"  # bin-1 ping far away
        tracks = self._tracks(
            spark,
            [
                ("a", path, (0,), (2,)),  # pings at 0h, 1h, 2h -> bins 0,1,2
                ("b", path, (0,), (2,)),
                ("c", far, (0,), (2,)),  # near a at bins 1,2 only... vertex0 far
            ],
        )
        got = {
            (r.fid_a, r.fid_b): (r.n_bins, r.max_run)
            for r in convoy_pairs(
                tracks, radius_deg=0.2, tau_s=3599, min_len=2
            ).collect()
        }
        # a-b sustained over bins 0..2; a-c and b-c only bins 1..2 (vertex 0
        # of c is 3 deg away) -> still a 2-run
        assert got[("a", "b")] == (3, 3)
        assert got[("a", "c")] == (2, 2)
        assert got[("b", "c")] == (2, 2)
        # raising min_len to 3 keeps only the full-length companions
        got3 = {
            (r.fid_a, r.fid_b)
            for r in convoy_pairs(
                tracks, radius_deg=0.2, tau_s=3599, min_len=3
            ).collect()
        }
        assert got3 == {("a", "b")}
        # sanity: cotravel (no consecutiveness) sees all three pairs too
        assert {
            (r.fid_a, r.fid_b)
            for r in cotravel_pairs(tracks, radius_deg=0.2, tau_s=3599).collect()
        } == {("a", "b"), ("a", "c"), ("b", "c")}


class TestColocationPI:
    def test_full_and_partial_participation(self, spark):
        from geowave_spark.operators.hotspot import colocation_pi

        # a0,a1 each have a b-neighbor; a2 is isolated from b but near c;
        # c0 sits near a2 only
        rows = [
            ("a0", 0.00, 0.0, "a"),
            ("a1", 1.00, 0.0, "a"),
            ("a2", 50.00, 0.0, "a"),
            ("b0", 0.05, 0.0, "b"),
            ("b1", 1.05, 0.0, "b"),
            ("c0", 50.05, 0.0, "c"),
        ]
        df = spark.createDataFrame(
            rows, "fid string, lon double, lat double, category string"
        )
        out = {
            (r.cat_a, r.cat_b): r for r in colocation_pi(df, d=0.25).collect()
        }
        assert set(out) == {("a", "b"), ("a", "c")}
        ab = out[("a", "b")]
        # pr(a|ab) = 2/3, pr(b|ab) = 2/2 -> PI = floor(2e6/3)
        assert (ab.part_a, ab.part_b, ab.n_a, ab.n_b) == (2, 2, 3, 2)
        assert ab.pi_ppm == 666_666
        ac = out[("a", "c")]
        assert (ac.part_a, ac.part_b) == (1, 1)
        assert ac.pi_ppm == 333_333  # min(1/3, 1/1)

    def test_rejects_nonpositive_radius(self, spark):
        import pytest as _pt

        from geowave_spark.operators.hotspot import colocation_pi

        df = spark.createDataFrame(
            [("x", 0.0, 0.0, "a")], "fid string, lon double, lat double, category string"
        )
        with _pt.raises(ValueError):
            colocation_pi(df, d=0.0)


class TestMovingClusters:
    """Moving clusters (operators/cotravel.py, Kalnis et al. 2005)."""

    def _tracks(self, spark, rows):
        from datetime import datetime, timedelta

        t0 = datetime(2021, 1, 1)
        data = [
            (fid, wkt, t0 + timedelta(days=d0), t0 + timedelta(days=d1))
            for fid, wkt, d0, d1 in rows
        ]
        return spark.createDataFrame(
            data,
            "fid string, geom_wkt string, start_ts timestamp_ntz, "
            "end_ts timestamp_ntz",
        )

    def test_caravan_chains_and_departure_dilutes(self, spark):
        from geowave_spark.operators.cotravel import moving_clusters

        # caravan of 4 entities: 3 pings each at days 0/7/14 (weekly bins),
        # drifting east together; entity d peels off in week 2
        def wkt(xs):
            return "LINESTRING (" + ", ".join(f"{x} 0" for x in xs) + ")"

        rows = [(f"m{i}", wkt([0.01 * i, 1 + 0.01 * i, 2 + 0.01 * i]), 0, 14)
                for i in range(3)]
        rows.append(("d0", wkt([0.03, 1.03, 40.0]), 0, 14))
        tracks = self._tracks(spark, rows)
        out = {
            (r.bin, r.cluster_a, r.cluster_b): r
            for r in moving_clusters(
                tracks, eps_deg=0.5, bin_s=7 * 86400, min_pts=3, theta_ppm=100_000
            ).collect()
        }
        # two chain links (week0 -> week1 -> week2)
        assert len(out) == 2
        links = sorted(out.values(), key=lambda r: r.bin)
        # week0 cluster has all 4, week1 all 4, week2 only the 3 loyalists
        assert (links[0].n_a, links[0].n_b, links[0].shared) == (4, 4, 4)
        assert links[0].jaccard_ppm == 1_000_000
        assert (links[1].n_a, links[1].n_b, links[1].shared) == (4, 3, 3)
        assert links[1].jaccard_ppm == 750_000

    def test_theta_gates_weak_overlap(self, spark):
        from datetime import datetime, timedelta

        from geowave_spark.operators.cotravel import moving_clusters

        def wkt(xs):
            return "LINESTRING (" + ", ".join(f"{x} 0" for x in xs) + ")"

        # anchor at an absolute 7-day bin boundary (epoch us % 7d == 0):
        # 2020-12-31 = 604800 * 2661 seconds
        t0 = datetime(2020, 12, 31)

        def tr(fid, x, d0, d1):
            return (fid, wkt([x, x]), t0 + timedelta(days=d0), t0 + timedelta(days=d1))

        rows = [tr(f"a{i}", 0.01 * i, 0, 6) for i in range(3)]  # bin 2661
        rows += [tr(f"b{i}", 0.01 * i, 8, 13) for i in range(2)]  # bin 2662
        rows.append(tr("a0x", 0.0, 8, 13))
        rows.append(tr("a0", 0.02, 8, 13))  # the one bridging entity
        tracks = spark.createDataFrame(
            rows,
            "fid string, geom_wkt string, start_ts timestamp_ntz, "
            "end_ts timestamp_ntz",
        )
        # week-1 entities {a0,a1,a2}, week-2 {b0,b1,a0x,a0}: shared {a0},
        # jaccard = 1 / (3 + 4 - 1) = 166666 ppm
        got = moving_clusters(
            tracks, eps_deg=0.5, bin_s=7 * 86400, min_pts=3, theta_ppm=300_000
        ).collect()
        assert got == []
        got2 = moving_clusters(
            tracks, eps_deg=0.5, bin_s=7 * 86400, min_pts=3, theta_ppm=150_000
        ).collect()
        assert len(got2) == 1
        assert (got2[0].n_a, got2[0].n_b, got2[0].shared) == (3, 4, 1)
        assert got2[0].jaccard_ppm == 166_666

    def test_validation(self, spark):
        import pytest as _pt

        from geowave_spark.operators.cotravel import moving_clusters, snapshot_clusters

        tracks = self._tracks(spark, [("t", "LINESTRING (0 0, 1 1)", 0, 1)])
        with _pt.raises(ValueError):
            snapshot_clusters(tracks, eps_deg=0.0, bin_s=60)
        with _pt.raises(ValueError):
            moving_clusters(tracks, theta_ppm=0)


class TestResampleTracks:
    def test_hand_lerp(self, spark):
        from datetime import datetime

        from geowave_spark.operators.trajectory import resample_tracks

        # 2 vertices, 0h -> 4h window anchored on the hour grid: hourly
        # ticks at 0,1,2,3 (4h == end, dropped by half-open ownership)
        df = spark.createDataFrame(
            [
                (
                    "t",
                    "LINESTRING (0 0, 4 8)",
                    datetime(2021, 1, 1, 0),
                    datetime(2021, 1, 1, 4),
                )
            ],
            "fid string, geom_wkt string, start_ts timestamp_ntz, end_ts timestamp_ntz",
        )
        out = sorted(
            resample_tracks(df, step_s=3600).collect(), key=lambda r: r.k
        )
        assert len(out) == 4
        assert [(r.x, r.y) for r in out] == [
            (0.0, 0.0),
            (1.0, 2.0),
            (2.0, 4.0),
            (3.0, 6.0),
        ]
        assert out[1].tu - out[0].tu == 3600 * 1_000_000

    def test_unaligned_window_and_multi_segment(self, spark):
        from datetime import datetime

        from geowave_spark.operators.trajectory import resample_tracks

        # 3 vertices over 0:30 -> 2:30: vertex times 0:30 / 1:30 / 2:30,
        # hourly ticks 1:00 (seg 0) and 2:00 (seg 1)
        df = spark.createDataFrame(
            [
                (
                    "t",
                    "LINESTRING (0 0, 2 0, 2 4)",
                    datetime(2021, 1, 1, 0, 30),
                    datetime(2021, 1, 1, 2, 30),
                )
            ],
            "fid string, geom_wkt string, start_ts timestamp_ntz, end_ts timestamp_ntz",
        )
        out = sorted(
            resample_tracks(df, step_s=3600).collect(), key=lambda r: r.k
        )
        assert [(r.x, r.y) for r in out] == [(1.0, 0.0), (2.0, 2.0)]

    def test_validation(self, spark):
        import pytest as _pt

        from geowave_spark.operators.trajectory import resample_tracks

        df = spark.createDataFrame(
            [], "fid string, geom_wkt string, start_ts timestamp_ntz, end_ts timestamp_ntz"
        )
        with _pt.raises(ValueError):
            resample_tracks(df, step_s=0)


class TestMarchingSquares:
    def _grid(self, spark, cells):
        return spark.createDataFrame(cells, "xb bigint, yb bigint, x bigint")

    def test_single_cell_emits_diamond(self, spark):
        from geowave_spark.operators.contour import marching_squares

        # one occupied cell z=5 at (0,0), θ=2.5: the cell corners 4 blocks,
        # each crossing exactly once — a diamond of 4 segments whose
        # endpoints sit at the 0.5-lerp of each edge ((2.5-0)/(5-0)=0.5)
        out = marching_squares(self._grid(spark, [(0, 0, 5)]), theta=2.5)
        rows = sorted(out.collect(), key=lambda r: (r.xb, r.yb))
        assert [(r.xb, r.yb, r.case_idx) for r in rows] == [
            (-1, -1, 4),
            (-1, 0, 2),
            (0, -1, 8),
            (0, 0, 1),
        ]
        # block (0,0) case 1: L(0, 0.5) - B(0.5, 0), canonically sorted
        r = rows[-1]
        assert (r.ax_q, r.ay_q, r.bx_q, r.by_q) == (0, 500_000, 500_000, 0)

    def test_saddle_disambiguates_on_center(self, spark):
        from geowave_spark.operators.contour import marching_squares

        # corners (5, 0, 5, 0) around block (0,0) = case 5 (z00, z11 above).
        # center mean 2.5 is NOT > θ=2.5 -> disconnected diagonal: segments
        # (L,B) and (R,T); with z=9 corners the mean 4.5 > θ -> (B,R),(L,T)
        def corners(z):
            return [(0, 0, z), (1, 0, 0), (0, 1, 0), (1, 1, z)]

        for z, first_pair in ((5, (0, 500_000)), (9, (722_222, 0))):
            out = marching_squares(self._grid(spark, corners(z)), theta=2.5)
            segs = sorted(
                out.filter("xb = 0 AND yb = 0").collect(), key=lambda r: r.seg_no
            )
            assert len(segs) == 2 and segs[0].case_idx == 5
            # distinguish the two topologies by the first segment's sorted
            # first endpoint: (L,B) sorts L=(0, (θ-z)/(0-z)) first; (B,R)
            # sorts B=((θ-z)/(0-z), 0) first
            assert (segs[0].ax_q, segs[0].ay_q) == first_pair

    def test_flat_grid_emits_nothing(self, spark):
        from geowave_spark.operators.contour import marching_squares

        cells = [(x, y, 7) for x in range(3) for y in range(3)]
        out = marching_squares(self._grid(spark, cells), theta=2.5)
        # interior blocks are all-above (case 15); rim blocks cross -> only
        # assert no all-above or all-below block emits
        assert out.filter("case_idx IN (0, 15)").count() == 0
        assert out.filter("xb = 1 AND yb = 1").count() == 0


class TestContourPolylines:
    def test_two_separate_loops_and_lengths(self, spark):
        from geowave_spark.operators.contour import contour_polylines, marching_squares

        # two isolated z=5 cells far apart: each emits a 4-segment closed
        # diamond; components must not merge and each diamond's length is
        # 4 * sqrt(0.5) cell units (vertices at edge midpoints)
        grid = spark.createDataFrame(
            [(0, 0, 5), (50, 50, 5)], "xb bigint, yb bigint, x bigint"
        )
        out = contour_polylines(marching_squares(grid, theta=2.5)).collect()
        assert len(out) == 2
        import math

        want_len = 4 * math.floor(math.sqrt(0.5) * 1e6)
        for r in out:
            assert (r.n_segments, r.n_vertices, r.is_closed) == (4, 4, 1)
            assert r.length_micro == want_len

    def test_adjacent_cells_chain_into_one_loop(self, spark):
        from geowave_spark.operators.contour import contour_polylines, marching_squares

        # a 2x1 bar of occupied cells contours as ONE closed ring
        grid = spark.createDataFrame(
            [(0, 0, 5), (1, 0, 5)], "xb bigint, yb bigint, x bigint"
        )
        out = contour_polylines(marching_squares(grid, theta=2.5)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.is_closed == 1 and r.n_segments == r.n_vertices >= 6

    def test_rejects_non_segment_input(self, spark):
        import pytest as _pt

        from geowave_spark.operators.contour import contour_polylines

        df = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
        with _pt.raises(ValueError):
            contour_polylines(df)


class TestStdEllipse:
    def test_axis_aligned_line(self, spark):
        from geowave_spark.operators.pointstats import std_ellipse

        # points on the x-axis: major axis along x (theta 0), minor sigma 0
        df = _pts_df(spark, [(float(x), 0.0) for x in range(-3, 4)])
        r = std_ellipse(df).collect()[0]
        assert (r.n, r.mean_x_micro, r.mean_y_micro) == (7, 0, 0)
        assert r.theta_microrad == 0 and r.sigma_minor_micro == 0
        # sigma_major = population std of [-3..3] = 2 degrees exactly
        assert r.sigma_major_micro == 2_000_000

    def test_diagonal_cloud_rotates(self, spark):
        import math

        from geowave_spark.operators.pointstats import std_ellipse

        # y = x line: major axis at 45 degrees
        df = _pts_df(spark, [(float(x), float(x)) for x in range(-5, 6)])
        r = std_ellipse(df).collect()[0]
        assert abs(r.theta_microrad - math.floor(math.pi / 4 * 1e6)) <= 1
        assert r.sigma_minor_micro == 0

    def test_matches_numpy_covariance(self, spark):
        import numpy as np

        from geowave_spark.operators.pointstats import std_ellipse

        rng = np.random.RandomState(7)
        xy = rng.normal(size=(400, 2)) @ np.array([[2.0, 0.7], [0.0, 0.5]])
        # quantize like the operator so the comparison is apples-to-apples
        q = np.floor(xy * 1e6) / 1e6
        df = _pts_df(spark, [(float(a), float(b)) for a, b in xy])
        r = std_ellipse(df).collect()[0]
        cov = np.cov(q.T, bias=True)
        evals, evecs = np.linalg.eigh(cov)
        sig_maj, sig_min = np.sqrt(evals[1]), np.sqrt(evals[0])
        assert abs(r.sigma_major_micro / 1e6 - sig_maj) < 1e-5
        assert abs(r.sigma_minor_micro / 1e6 - sig_min) < 1e-5
        v = evecs[:, 1]
        theta = np.arctan2(v[1], v[0])
        if theta > np.pi / 2:
            theta -= np.pi
        elif theta < -np.pi / 2:
            theta += np.pi
        assert abs(r.theta_microrad / 1e6 - theta) < 1e-4


class TestClarkEvans:
    def test_square_grid_is_r2(self, spark):
        from geowave_spark.operators.pointstats import clark_evans

        # a perfect unit square grid: dbar = 1, density = n/area.  With the
        # bbox area (k-1)^2 for a k x k grid, R = 2*sqrt(n)/(k-1) — slightly
        # above 2 for finite k; dispersed (R >> 1) is the pin
        pts = [
            (f"p{ix}_{iy}", float(ix), float(iy))
            for ix in range(6)
            for iy in range(6)
        ]
        df = spark.createDataFrame(pts, "fid string, lon double, lat double")
        r = clark_evans(df, 1.5).collect()[0]
        assert r.n_points == r.n_with_nn == 36
        assert r.sum_nnd_micro == 36 * 1_000_000
        assert 2_000_000 < r.r_ppm < 2_600_000

    def test_clustered_is_below_one(self, spark):
        from geowave_spark.operators.pointstats import clark_evans

        # two tight clumps far apart: observed NN distances tiny vs density
        pts = [(f"a{i}", 0.0 + i * 1e-4, 0.0) for i in range(10)]
        pts += [(f"b{i}", 50.0 + i * 1e-4, 50.0) for i in range(10)]
        df = spark.createDataFrame(pts, "fid string, lon double, lat double")
        r = clark_evans(df, 1.0).collect()[0]
        assert r.n_with_nn == 20
        assert r.r_ppm < 100_000  # deeply clustered

    def test_truncation_excludes_isolates(self, spark):
        from geowave_spark.operators.pointstats import clark_evans

        pts = [("a", 0.0, 0.0), ("b", 0.5, 0.0), ("c", 99.0, 1.0)]
        df = spark.createDataFrame(pts, "fid string, lon double, lat double")
        r = clark_evans(df, 1.0).collect()[0]
        # c's nearest neighbor is beyond the bound -> excluded from the mean
        assert (r.n_points, r.n_with_nn) == (3, 2)
        assert r.sum_nnd_micro == 1_000_000
        assert r.r_ppm is not None and r.r_ppm > 0

    def test_degenerate_extent_is_null(self, spark):
        from geowave_spark.operators.pointstats import clark_evans

        # collinear corpus: bbox area 0 -> R undefined (NULL), no raise
        pts = [("a", 0.0, 0.0), ("b", 0.5, 0.0), ("c", 1.5, 0.0)]
        df = spark.createDataFrame(pts, "fid string, lon double, lat double")
        r = clark_evans(df, 1.0).collect()[0]
        assert r.n_with_nn == 3 and r.r_ppm is None

    def test_validation(self, spark):
        from geowave_spark.operators.pointstats import clark_evans

        df = spark.createDataFrame([("a", 0.0, 0.0)], "fid string, lon double, lat double")
        with pytest.raises(ValueError):
            clark_evans(df, 0.0)


class TestAdaptiveQuadtree:
    def test_leaves_partition_and_respect_cap(self, spark):
        from geowave_spark.operators.quadtree import adaptive_quadtree

        # 3 dense clumps + a sparse scatter: dense areas must split deeper
        rows = []
        for cx, cy in ((10.25, 10.25), (10.26, 10.27), (-40.0, 5.0)):
            rows += [(cx + i * 1e-3, cy + j * 1e-3) for i in range(5) for j in range(5)]
        rows += [(float(x * 7 % 170 - 85), float(x * 13 % 120 - 60)) for x in range(30)]
        df = _pts_df(spark, rows)
        out = adaptive_quadtree(df, max_per_cell=10, min_tier=2, max_tier=14).collect()
        # leaves partition the corpus exactly
        assert sum(r.n_points for r in out) == len(rows)
        # every non-depth-capped leaf respects the cap
        for r in out:
            assert r.n_points <= 10 or r.tier == 14
        # dense clumps force multiple tiers
        assert len({r.tier for r in out}) >= 3

    def test_uniform_sparse_stays_coarse(self, spark):
        from geowave_spark.operators.quadtree import adaptive_quadtree

        # tier-2 cells are 90 degrees wide: one point per cell stays coarse
        rows = [(float(x), float(y)) for x in (-170, -80, 10, 100) for y in (-80, 10)]
        out = adaptive_quadtree(_pts_df(spark, rows), 10, min_tier=2, max_tier=8).collect()
        assert all(r.tier == 2 for r in out)
        assert sum(r.n_points for r in out) == 8

    def test_depth_cap_keeps_overfull_leaf(self, spark):
        from geowave_spark.operators.quadtree import adaptive_quadtree

        # 30 coincident points can never split below the cap
        rows = [(1.0, 1.0)] * 30
        out = adaptive_quadtree(_pts_df(spark, rows), 10, min_tier=2, max_tier=5).collect()
        assert len(out) == 1 and out[0].tier == 5 and out[0].n_points == 30

    def test_validation(self, spark):
        from geowave_spark.operators.quadtree import adaptive_quadtree

        df = _pts_df(spark, [(0.0, 0.0)])
        with pytest.raises(ValueError):
            adaptive_quadtree(df, 0)
        with pytest.raises(ValueError):
            adaptive_quadtree(df, 5, min_tier=9, max_tier=3)


class TestRegionLabel:
    def _grid(self, spark, cells):
        return spark.createDataFrame(cells, "xb bigint, yb bigint, x bigint")

    def test_two_regions_and_isolate(self, spark):
        from geowave_spark.operators.regionize import region_label

        # an L-shaped 3-cell region, a 2-cell bar, and one isolated cell
        cells = [
            (0, 0, 5), (1, 0, 2), (1, 1, 1),         # L region
            (10, 10, 4), (10, 11, 4),                  # bar
            (-5, -5, 9),                               # isolate
        ]
        out = sorted(region_label(self._grid(spark, cells)).collect(),
                     key=lambda r: r.n_cells)
        assert [(r.n_cells, r.n_points) for r in out] == [(1, 9), (2, 8), (3, 8)]
        l = out[2]
        assert (l.min_xb, l.max_xb, l.min_yb, l.max_yb) == (0, 1, 0, 1)

    def test_diagonal_split_by_connectivity(self, spark):
        from geowave_spark.operators.regionize import region_label

        # two diagonal cells: separate under 4-connectivity, merged under 8
        cells = [(0, 0, 1), (1, 1, 1)]
        assert region_label(self._grid(spark, cells), 4).count() == 2
        assert region_label(self._grid(spark, cells), 8).count() == 1

    def test_validation(self, spark):
        from geowave_spark.operators.regionize import region_label

        with pytest.raises(ValueError):
            region_label(self._grid(spark, [(0, 0, 1)]), connectivity=6)


class TestTrackGraphSssp:
    def _tracks(self, spark, wkts):
        return spark.createDataFrame(
            [(f"t{i}", w) for i, w in enumerate(wkts)], "fid string, geom_wkt string"
        )

    def test_hand_path_distances(self, spark):
        from geowave_spark.operators.graph import sssp_bounded, track_graph

        # one straight track along x at y=0.5: cells 0..4 at snap 1.0 form
        # a path; hub = any (all degree 2 except ends) -> min id cell 1
        # (degree ties resolve to smallest packed id among degree-2 cells)
        wkt = "LINESTRING (0.5 0.5, 1.5 0.5, 2.5 0.5, 3.5 0.5, 4.5 0.5)"
        g = track_graph(self._tracks(spark, [wkt]), snap_deg=1.0)
        edges = sorted((r.u, r.v, r.w_micro) for r in g.collect())
        assert len(edges) == 4 and all(w == 1_000_000 for _, _, w in edges)
        out = {r.vertex: r.dist_micro for r in sssp_bounded(g, hops=8).collect()}
        assert len(out) == 5
        # distances from the hub are 0,1,2,... in micro-degrees
        assert sorted(out.values())[:3] == [0, 1_000_000, 1_000_000]

    def test_two_tracks_stitch_through_shared_cell(self, spark):
        from geowave_spark.operators.graph import sssp_bounded, track_graph

        # tracks cross at the (5, 5) cell: the network connects them
        wkts = [
            "LINESTRING (3.5 5.5, 4.5 5.5, 5.5 5.5)",
            "LINESTRING (5.5 5.5, 5.5 6.5, 5.5 7.5)",
        ]
        g = track_graph(self._tracks(spark, wkts), snap_deg=1.0)
        out = sssp_bounded(g, source=(3 + (1 << 30)) * (1 << 31) + (5 + (1 << 30)),
                           hops=8).collect()
        # all 5 distinct cells reachable from the far end of track 1
        assert len(out) == 5
        assert max(r.dist_micro for r in out) == 4_000_000

    def test_hop_bound_truncates(self, spark):
        from geowave_spark.operators.graph import sssp_bounded, track_graph

        wkt = "LINESTRING (0.5 0.5, 1.5 0.5, 2.5 0.5, 3.5 0.5, 4.5 0.5)"
        g = track_graph(self._tracks(spark, [wkt]), snap_deg=1.0)
        src = (0 + (1 << 30)) * (1 << 31) + (0 + (1 << 30))
        out = sssp_bounded(g, source=src, hops=2).collect()
        assert len(out) == 3  # source + 2 hops along the path

    def test_validation(self, spark):
        import pytest as _pt

        from geowave_spark.operators.graph import sssp_bounded, track_graph

        df = self._tracks(spark, ["LINESTRING (0.5 0.5, 1.5 0.5)"])
        with _pt.raises(ValueError):
            track_graph(df, snap_deg=0.0)
        with _pt.raises(ValueError):
            sssp_bounded(track_graph(df, 1.0), hops=0)


class TestLocalMoransI:
    def test_quadrants_on_planted_pattern(self, spark):
        from geowave_spark.operators.hotspot import local_morans_i

        # a dense 3x3 block (counts 9) in a sea of count-1 cells: block
        # interior = HH; the count-1 ring adjacent to the block = LH
        rows = []
        for cx in range(10):
            for cy in range(10):
                n = 9 if 4 <= cx <= 6 and 4 <= cy <= 6 else 1
                rows += [(cx + 0.5, cy + 0.5)] * n
        out = {(r.xb, r.yb): r for r in local_morans_i(_pts_df(spark, rows), 1.0).collect()}
        assert out[(5, 5)].quadrant == 1 and out[(5, 5)].lisa_ppm > 0
        assert out[(3, 5)].quadrant == 2  # low cell next to the high block
        assert out[(0, 0)].quadrant == 3  # low cell among lows
        assert out[(0, 0)].lisa_ppm > 0   # LL agreement is still positive I

    def test_decomposition_sums_to_global(self, spark, geo001):
        from geowave_spark.operators.hotspot import local_morans_i, morans_i

        # sum of local I over cells = n/W * sum w_ij z_i z_j / m2 * ...:
        # with binary weights, sum_i I_i = n * num / den = W/n * global I * n
        # => global I = sum_i I_i / W  (Anselin 1995 eq. 8)
        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        local = local_morans_i(pts, 1.0).collect()
        glob = morans_i(pts, 1.0).collect()[0]
        w = sum(r.n_neighbors for r in local)
        assert w == glob.w_pairs
        total = sum(r.lisa_ppm for r in local if r.lisa_ppm is not None)
        assert abs(total / w - glob.morans_i_ppm) < 50  # ppm rounding slack

    def test_uniform_counts_null(self, spark):
        from geowave_spark.operators.hotspot import local_morans_i

        rows = [(cx + 0.5, 0.5) for cx in range(5)]
        out = local_morans_i(_pts_df(spark, rows), 1.0).collect()
        assert out and all(r.lisa_ppm is None for r in out)


class TestTrackBearings:
    def _tracks(self, spark, wkts):
        return spark.createDataFrame(
            [(f"t{i}", w) for i, w in enumerate(wkts)], "fid string, geom_wkt string"
        )

    def test_straight_track_is_fully_concentrated(self, spark):
        import math

        from geowave_spark.operators.trajectory import track_bearing_stats

        r = track_bearing_stats(
            self._tracks(spark, ["LINESTRING (0 0, 1 1, 2 2, 3 3)"])
        ).collect()[0]
        assert r.n_segs == 3
        assert abs(r.mean_bearing_micro - math.floor(math.pi / 4 * 1e6)) <= 2
        # all bearings equal -> resultant ~ 1 (floor of quantized sums)
        assert r.resultant_ppm >= 999_998

    def test_back_and_forth_cancels(self, spark):
        from geowave_spark.operators.trajectory import track_bearing_stats

        # east then west: opposite headings cancel -> resultant ~ 0
        r = track_bearing_stats(
            self._tracks(spark, ["LINESTRING (0 0, 1 0, 0 0)"])
        ).collect()[0]
        assert r.n_segs == 2 and r.resultant_ppm <= 1

    def test_single_vertex_track_is_null(self, spark):
        from geowave_spark.operators.trajectory import track_bearing_stats

        r = track_bearing_stats(self._tracks(spark, ["LINESTRING (5 5)"])).collect()[0]
        assert (r.n_segs, r.mean_bearing_micro, r.resultant_ppm) == (0, None, None)

    def test_zero_shuffle_plan(self, spark, geo001):
        from geowave_spark.operators.trajectory import track_bearing_stats

        tracks = spark.read.parquet(str(geo001 / "tracks.parquet"))
        plan = (
            track_bearing_stats(tracks)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestCellDiversity:
    def test_hand_mix(self, spark):
        import math

        from geowave_spark.operators.hotspot import cell_diversity

        rows = [(0.5, 0.5, "a")] * 2 + [(0.5, 0.5, "b")] * 2  # even 2-mix
        rows += [(5.5, 0.5, "a")] * 7                          # pure cell
        df = spark.createDataFrame(rows, "lon double, lat double, category string")
        out = {(r.xb, r.yb): r for r in cell_diversity(df, 1.0).collect()}
        even = out[(0, 0)]
        assert even.n_cats == 2
        # H = ln 2 exactly (two equal floor-quantized terms)
        assert even.shannon_micro == 2 * math.floor(0.5 * math.log(2) * 1e6)
        assert abs(even.evenness_ppm - 1_000_000) <= 2
        pure = out[(5, 0)]
        assert (pure.n_cats, pure.shannon_micro, pure.evenness_ppm) == (1, 0, None)

    def test_skewed_mix_less_even(self, spark):
        from geowave_spark.operators.hotspot import cell_diversity

        rows = [(0.5, 0.5, "a")] * 9 + [(0.5, 0.5, "b")] * 1
        df = spark.createDataFrame(rows, "lon double, lat double, category string")
        r = cell_diversity(df, 1.0).collect()[0]
        assert r.n_cats == 2 and 0 < r.evenness_ppm < 500_000
