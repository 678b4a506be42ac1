"""K-means (J4) and DBSCAN (J5) vs brute-force numpy/python references."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pts_small(spark, geo001):
    # a deterministic 400-point subset keeps the O(n^2) python oracle cheap
    return (
        spark.read.parquet(str(geo001 / "points.parquet"))
        .orderBy("fid")
        .limit(400)
        .cache()
    )


def _np_points(pts):
    rows = pts.select("fid", "lon", "lat").orderBy("fid").collect()
    ids = [r.fid for r in rows]
    xy = np.array([[r.lon, r.lat] for r in rows])
    return ids, xy


class TestKMeans:
    def test_matches_numpy_lloyd(self, spark, pts_small):
        from kmeans_oracle import lloyd_reference
        from geowave_spark.operators.clustering import kmeans

        assign, centroids = kmeans(pts_small, k=5, max_iters=8)
        ids, xy = _np_points(pts_small)
        ref_assign, ref_centroids = lloyd_reference(ids, xy, k=5, max_iters=8)
        got = {r.fid: r.cluster for r in assign.collect()}
        # Spark's partial-agg float sums differ from numpy's sequential mean
        # at 1e-15; boundary points may flip — demand near-total agreement
        match = sum(1 for f, c in got.items() if ref_assign[f] == c) / len(got)
        assert match >= 0.995
        for (cx, cy), (rx, ry) in zip(centroids, ref_centroids):
            assert abs(cx - rx) < 1e-6 and abs(cy - ry) < 1e-6

    def test_deterministic(self, spark, pts_small):
        from geowave_spark.operators.clustering import kmeans

        a, ca = kmeans(pts_small, k=4, max_iters=5)
        b, cb = kmeans(pts_small, k=4, max_iters=5)
        assert ca == cb
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


class TestDBSCAN:
    def _brute(self, ids, xy, eps, min_pts):
        n = len(ids)
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
        neigh = [
            {ids[j] for j in range(n) if j != i and d2[i, j] <= eps * eps}
            for i in range(n)
        ]
        idx = {f: i for i, f in enumerate(ids)}
        core = {ids[i] for i in range(n) if len(neigh[i]) >= min_pts - 1}
        # components over core-core edges
        label = {c: c for c in core}
        changed = True
        while changed:
            changed = False
            for c in core:
                for nb in neigh[idx[c]]:
                    if nb in core and label[nb] < label[c]:
                        label[c] = label[nb]
                        changed = True
        out = dict(label)
        # border: min core neighbor's final label
        for i in range(n):
            f = ids[i]
            if f in core:
                continue
            cores = sorted(nb for nb in neigh[i] if nb in core)
            if cores:
                out[f] = label[cores[0]]
        return out, core

    def test_matches_bruteforce(self, spark, pts_small):
        from geowave_spark.operators.clustering import dbscan

        eps, min_pts = 1.0, 4
        got_rows = dbscan(pts_small, eps=eps, min_pts=min_pts).collect()
        got = {r.fid: r.cluster for r in got_rows}
        got_core = {r.fid for r in got_rows if r.is_core}
        ids, xy = _np_points(pts_small)
        ref, ref_core = self._brute(ids, xy, eps, min_pts)
        assert got_core == ref_core
        assert got == ref
        assert len({c for c in ref.values()}) > 1  # clustered fixture -> several


class TestKMeansRunners:
    """k-means|| init, jump-method choose-k, StripWeakCentroids — the
    reference's KMeansParallelJobRunner / KMeansJumpJobRunner /
    StripWeakCentroidsRunner analogs."""

    def _blobs(self, spark, k=4, n=150):
        rng = np.random.RandomState(11)
        centers = [(-60.0, -30.0), (10.0, 40.0), (80.0, -10.0), (-120.0, 55.0)][:k]
        rows = []
        for ci, (cx, cy) in enumerate(centers):
            for j in range(n):
                rows.append(
                    (
                        f"b{ci}_{j:04d}",
                        float(cx + rng.normal(0, 1.0)),
                        float(cy + rng.normal(0, 1.0)),
                    )
                )
        return spark.createDataFrame(rows, "fid string, lon double, lat double"), centers

    def test_parallel_init_recovers_blob_centers(self, spark):
        from geowave_spark.operators.clustering import kmeans, kmeans_parallel_init

        df, centers = self._blobs(spark)
        init = kmeans_parallel_init(df, k=4, rounds=4)
        assert len(init) == 4
        assign, final = kmeans(df, k=4, max_iters=10, init=init)
        # each true blob center has exactly one centroid within 1 degree
        claimed = set()
        for cx, cy in centers:
            near = [
                i
                for i, (fx, fy) in enumerate(final)
                if (fx - cx) ** 2 + (fy - cy) ** 2 < 1.0
            ]
            assert len(near) == 1 and near[0] not in claimed
            claimed.add(near[0])
        # deterministic: same init on a second run
        assert kmeans_parallel_init(df, k=4, rounds=4) == init

    def test_jump_method_finds_true_k(self, spark):
        from geowave_spark.operators.clustering import kmeans_jump

        df, _ = self._blobs(spark, k=4)
        best_k, js = kmeans_jump(df, k_range=(2, 6), max_iters=6)
        assert best_k == 4
        assert js[4] > js[3]

    def test_strip_weak_centroids(self, spark):
        from geowave_spark.operators.clustering import kmeans, strip_weak_centroids

        df, _ = self._blobs(spark)
        assign, _ = kmeans(df, k=6, max_iters=6)
        sizes = {r.cluster: r["count"] for r in assign.groupBy("cluster").count().collect()}
        kept = strip_weak_centroids(assign, keep=3)
        kept_ids = {r.cluster for r in kept.select("cluster").distinct().collect()}
        assert len(kept_ids) == 3
        # exactly the 3 largest survive (ties broken by cluster id)
        want = set(sorted(sizes, key=lambda c: (-sizes[c], c))[:3])
        assert kept_ids == want
        assert kept.count() == sum(sizes[c] for c in want)


class TestGiStar:
    def test_planted_hotspot_is_max_z(self, spark):
        """200 points packed into one cell over a uniform background: that
        cell must carry the maximum Gi* and clear the 1.96 significance bar;
        far-away background cells must not."""
        from geowave_spark.operators.hotspot import gi_star

        rows = []
        # uniform background: one point per cell on a 20x20 grid
        for i in range(20):
            for j in range(20):
                rows.append((float(i) + 0.5, float(j) + 0.5))
        # hotspot: 200 extra points inside cell (10, 10)
        rows += [(10.5, 10.5)] * 200
        pts = spark.createDataFrame(rows, "lon double, lat double")
        out = {(r.xb, r.yb): r for r in gi_star(pts, cell_deg=1.0).collect()}
        hot = out[(10, 10)]
        assert hot.gi_ppm == max(r.gi_ppm for r in out.values())
        assert hot.gi_ppm > 1_960_000
        assert out[(0, 0)].gi_ppm < 1_960_000

    def test_neighbor_counts(self, spark):
        """Queen contiguity over a full grid: interior cells see 9 occupied
        neighbors, corners 4, edges 6."""
        from geowave_spark.operators.hotspot import gi_star

        rows = [(float(i) + 0.5, float(j) + 0.5) for i in range(5) for j in range(5)]
        pts = spark.createDataFrame(rows, "lon double, lat double")
        out = {(r.xb, r.yb): r.n_neighbors for r in gi_star(pts, cell_deg=1.0).collect()}
        assert out[(2, 2)] == 9
        assert out[(0, 0)] == 4
        assert out[(0, 2)] == 6


class TestEmergingHotspots:
    def test_planted_rising_cell(self, spark):
        """A cell whose monthly count grows 1,2,...,8 over a flat background
        must classify 'rising' with the maximal Mann-Kendall S."""
        import datetime as dt

        from geowave_spark.operators.hotspot import emerging_hotspots

        rows = []
        for m in range(1, 9):
            ts = dt.datetime(2020, m, 15)
            # flat background: 5 points/month in each of 8 far-apart cells
            for c in range(8):
                rows += [(float(20 + 3 * c) + 0.5, 0.5, ts)] * 5
            # rising cell (0, 0): m points in month m
            rows += [(0.5, 0.5, ts)] * m
        pts = spark.createDataFrame(rows, "lon double, lat double, event_ts timestamp")
        out = {(r.xb, r.yb): r for r in emerging_hotspots(pts, cell_deg=1.0).collect()}
        rising = out[(0, 0)]
        assert rising.trend == "rising"
        # near-maximal S: the raw counts rise strictly (C(8,2) = 28 pairs)
        # but the 3x3x3 neighborhood smooths edges — the LAST month's
        # temporal window is truncated (months 7+8 only), dropping its z
        # below two interior months' -> 2 negative pairs, S = 28 - 2 = 26
        assert rising.mk_s == 26
        assert rising.n_bins == 8
        assert out[(20, 0)].trend == "flat"


class TestStDbscan:
    """ST-DBSCAN (operators/clustering.py st_dbscan): the temporal epsilon
    must split spatially-identical blobs that occur in different seasons."""

    def _pts(self, spark):
        from datetime import datetime, timedelta

        rows = []
        # two temporal bursts at the SAME location, 100 days apart: plain
        # DBSCAN sees one cluster, ST-DBSCAN two
        for burst, day0 in (("w", 0), ("s", 100)):
            for i in range(6):
                rows.append(
                    (
                        f"{burst}{i}",
                        10.0 + 0.01 * i,
                        20.0,
                        datetime(2020, 1, 1) + timedelta(days=day0 + i),
                    )
                )
        # noise: far away in space
        rows.append(("n0", 80.0, -40.0, datetime(2020, 1, 1)))
        return spark.createDataFrame(
            rows, "fid string, lon double, lat double, event_ts timestamp"
        )

    def test_temporal_epsilon_splits_bursts(self, spark):
        from geowave_spark.operators.clustering import dbscan, st_dbscan

        pts = self._pts(spark)
        st = st_dbscan(pts, eps_s=0.2, eps_t_s=30 * 86400, min_pts=4).collect()
        by_cluster = {}
        for r in st:
            by_cluster.setdefault(r.cluster, set()).add(r.fid)
        assert len(by_cluster) == 2
        groups = sorted(by_cluster.values(), key=lambda s: sorted(s)[0][0])
        assert groups[0] == {f"s{i}" for i in range(6)}
        assert groups[1] == {f"w{i}" for i in range(6)}
        # noise point is absent
        assert all("n0" not in g for g in groups)
        # plain DBSCAN on the same corpus merges the bursts into one cluster
        plain = dbscan(pts, eps=0.2, min_pts=4).collect()
        assert len({r.cluster for r in plain}) == 1

    def test_all_members_core_in_dense_burst(self, spark):
        from geowave_spark.operators.clustering import st_dbscan

        pts = self._pts(spark)
        st = st_dbscan(pts, eps_s=0.2, eps_t_s=30 * 86400, min_pts=4).collect()
        assert all(r.is_core for r in st)  # every burst member has >= 3 peers

    def test_rejects_nonpositive_eps(self, spark):
        import pytest as _pt

        from geowave_spark.operators.clustering import st_dbscan

        pts = self._pts(spark)
        with _pt.raises(ValueError):
            st_dbscan(pts, eps_s=0.0, eps_t_s=1.0, min_pts=2)
        with _pt.raises(ValueError):
            st_dbscan(pts, eps_s=1.0, eps_t_s=-5.0, min_pts=2)
