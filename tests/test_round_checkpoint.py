"""Durable per-round checkpoints for the iterative operators (VERDICT r04
item 3): connected components, bounded SSSP, adaptive quadtree, DBSCAN
label propagation and the adaptive kNN rings each survive a mid-run kill
and resume from the last committed round — the Spark analog of the
reference chaining every analytic iteration through durable HDFS/table
outputs (`analytics/mapreduce/.../MapReduceJobController.java`, SURVEY.md
§3.3)."""

import json

import pytest
from pyspark.sql import functions as F

from geowave_spark.plans.lineage import RoundCheckpointer


class SimulatedKill(RuntimeError):
    pass


class KillingCheckpointer(RoundCheckpointer):
    """Raises after ``kill_after`` successful round commits (or, counted
    apart, stage commits) — the committed state stays on disk exactly as a
    real executor/driver loss would leave it (the next save's tmp dir never
    reaches its commit rename)."""

    def __init__(self, *args, kill_after=1, **kwargs):
        super().__init__(*args, **kwargs)
        self._kill_after = kill_after

    def save_round(self, round_no, states, extras_fn=None):
        if self.rounds_written >= self._kill_after:
            raise SimulatedKill(f"killed before committing round {round_no}")
        return super().save_round(round_no, states, extras_fn=extras_fn)

    def stage(self, tag, build):
        def build_or_die():
            if self.stages_written >= self._kill_after:
                raise SimulatedKill(f"killed before committing stage {tag}")
            return build()

        return super().stage(tag, build_or_die)


@pytest.fixture()
def root(tmp_path):
    return tmp_path / "rounds"


def _path_edges(spark, n=24, components=2):
    """Long path graphs — worst case for label propagation (O(log n)
    large-star/small-star rounds, multiple relaxation hops for SSSP)."""
    rows = []
    for c in range(components):
        base = c * 1000
        rows += [(base + i, base + i + 1, 100 + i) for i in range(n - 1)]
    return spark.createDataFrame(rows, "u bigint, v bigint, w_micro bigint")


def _collect_cc(df):
    return {(r.u, r.label) for r in df.collect()}


@pytest.fixture()
def cc_rounds(monkeypatch):
    """Bound 0: every graph takes the distributed rounds, not the driver
    finish, so the round checkpoints are exercised."""
    from geowave_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)


class TestConnectedComponentsResume:
    def test_kill_then_resume_matches_uncheckpointed(self, spark, root, cc_rounds):
        from geowave_spark.operators.dedup import connected_components

        edges = _path_edges(spark)
        expected = _collect_cc(connected_components(edges.select("u", "v")))

        cfg = {"edges": "path24x2"}
        killer = KillingCheckpointer(spark, root, "cc", cfg, kill_after=2)
        with pytest.raises(SimulatedKill):
            connected_components(edges.select("u", "v"), checkpointer=killer)
        assert killer.rounds_written == 2

        ck = RoundCheckpointer(spark, root, "cc", cfg)
        out = connected_components(edges.select("u", "v"), checkpointer=ck)
        assert _collect_cc(out) == expected
        assert ck.rounds_resumed > 0, "resume must start from committed state"

    def test_resume_after_convergence_runs_zero_rounds(self, spark, root, cc_rounds):
        from geowave_spark.operators.dedup import connected_components

        edges = _path_edges(spark, n=8, components=1)
        cfg = {"edges": "path8"}
        ck1 = RoundCheckpointer(spark, root, "cc", cfg)
        full = _collect_cc(
            connected_components(edges.select("u", "v"), checkpointer=ck1)
        )
        ck2 = RoundCheckpointer(spark, root, "cc", cfg)
        again = _collect_cc(
            connected_components(edges.select("u", "v"), checkpointer=ck2)
        )
        assert again == full
        assert ck2.rounds_written == 0, "converged state must be terminal"

    def test_changed_config_ignores_stale_state(self, spark, root, cc_rounds):
        from geowave_spark.operators.dedup import connected_components

        a = _path_edges(spark, n=10, components=1)
        ck1 = RoundCheckpointer(spark, root, "cc", {"edges": "A"})
        connected_components(a.select("u", "v"), checkpointer=ck1)

        b = _path_edges(spark, n=6, components=3)
        expected = _collect_cc(connected_components(b.select("u", "v")))
        ck2 = RoundCheckpointer(spark, root, "cc", {"edges": "B"})
        out = connected_components(b.select("u", "v"), checkpointer=ck2)
        assert _collect_cc(out) == expected
        assert ck2.rounds_resumed == 0, "different config must NOT resume"


    def test_durable_driver_finish_commits_the_edge_set_once(self, spark, root, caplog):
        """A graph that fits finishes on the driver on a durable call too:
        the oriented edge set is the one committed round, and a re-run
        resumes it and writes nothing."""
        from geowave_spark.operators.dedup import connected_components

        edges = _path_edges(spark, n=12, components=2).select("u", "v")
        expected = _collect_cc(connected_components(edges))
        for written in (1, 0):
            ck = RoundCheckpointer(spark, root, "cc", {"edges": "path12x2"})
            caplog.clear()
            with caplog.at_level("INFO", logger="geowave_spark"):
                out = _collect_cc(connected_components(edges, checkpointer=ck))
            assert out == expected
            assert ck.rounds_written == written
            logged = [
                r.getMessage() for r in caplog.records
                if r.getMessage().startswith("connected_components: ")
            ]
            assert logged == ["connected_components: driver finish, 22 edges"]

    @pytest.mark.parametrize("durable", [False, True], ids=["local", "durable"])
    def test_round_bound_raises(self, spark, root, cc_rounds, monkeypatch, durable):
        """An unconverged run fails loudly instead of returning split
        components (a 24-node path needs more than one round)."""
        from geowave_spark.operators import dedup

        monkeypatch.setattr(dedup, "_MAX_ROUNDS", 1)
        ck = RoundCheckpointer(spark, root, "cc", {"edges": "path24"}) if durable else None
        edges = _path_edges(spark, n=24, components=1).select("u", "v")
        with pytest.raises(RuntimeError, match="did not converge within 1 rounds"):
            dedup.connected_components(edges, checkpointer=ck)


class TestSsspResume:
    def _expected(self, spark, edges, hops):
        from geowave_spark.operators.graph import sssp_bounded

        return {
            (r.vertex, r.dist_micro)
            for r in sssp_bounded(edges, hops=hops).collect()
        }

    def test_kill_then_resume(self, spark, root):
        from geowave_spark.operators.graph import sssp_bounded

        edges = _path_edges(spark, n=10, components=1)
        expected = self._expected(spark, edges, hops=9)

        cfg = {"edges": "path10", "hops": 9}
        killer = KillingCheckpointer(spark, root, "sssp", cfg, kill_after=3)
        with pytest.raises(SimulatedKill):
            sssp_bounded(edges, hops=9, checkpointer=killer)

        ck = RoundCheckpointer(spark, root, "sssp", cfg)
        out = sssp_bounded(edges, hops=9, checkpointer=ck)
        assert {(r.vertex, r.dist_micro) for r in out.collect()} == expected
        assert ck.rounds_resumed > 0
        # the static symmetric edge table was written once, then reused
        assert (root / "sssp" / "static" / "sym" / "_manifest.json").exists()

    def test_done_state_is_terminal(self, spark, root):
        from geowave_spark.operators.graph import sssp_bounded

        edges = _path_edges(spark, n=5, components=1)
        cfg = {"edges": "path5", "hops": 8}
        ck1 = RoundCheckpointer(spark, root, "sssp", cfg)
        full = {
            (r.vertex, r.dist_micro)
            for r in sssp_bounded(edges, hops=8, checkpointer=ck1).collect()
        }
        ck2 = RoundCheckpointer(spark, root, "sssp", cfg)
        again = {
            (r.vertex, r.dist_micro)
            for r in sssp_bounded(edges, hops=8, checkpointer=ck2).collect()
        }
        assert again == full
        assert ck2.rounds_written == 0


class TestQuadtreeResume:
    def test_kill_then_resume(self, spark, geo001, root):
        from geowave_spark.operators.quadtree import adaptive_quadtree

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        expected = {
            (r.tier, r.xb, r.yb, r.n_points)
            for r in adaptive_quadtree(pts, max_per_cell=40).collect()
        }

        cfg = {"input": "geo001/points", "cap": 40}
        killer = KillingCheckpointer(spark, root, "qt", cfg, kill_after=2)
        with pytest.raises(SimulatedKill):
            adaptive_quadtree(pts, max_per_cell=40, checkpointer=killer)

        ck = RoundCheckpointer(spark, root, "qt", cfg)
        out = adaptive_quadtree(pts, max_per_cell=40, checkpointer=ck)
        assert {
            (r.tier, r.xb, r.yb, r.n_points) for r in out.collect()
        } == expected
        assert ck.rounds_resumed > 0


class TestDbscanResume:
    def test_kill_then_resume(self, spark, geo001, root):
        from geowave_spark.operators.clustering import dbscan

        pts = spark.read.parquet(str(geo001 / "points.parquet")).limit(400)
        base = {
            (r.fid, r.cluster, r.is_core)
            for r in dbscan(pts, eps=0.4, min_pts=4).collect()
        }

        cfg = {"input": "geo001/points/400", "eps": 0.4, "min_pts": 4}
        killer = KillingCheckpointer(spark, root, "dbscan", cfg, kill_after=1)
        with pytest.raises(SimulatedKill):
            dbscan(pts, eps=0.4, min_pts=4, checkpointer=killer)

        ck = RoundCheckpointer(spark, root, "dbscan", cfg)
        out = dbscan(pts, eps=0.4, min_pts=4, checkpointer=ck)
        assert {(r.fid, r.cluster, r.is_core) for r in out.collect()} == base
        assert ck.rounds_resumed > 0


class TestConsumersAcceptCheckpointer:
    """The CC consumers (dup_clusters, contour_polylines, region_label)
    thread the checkpointer through to the shared components core."""

    def test_region_label_durable_equals_local(self, spark, root):
        from geowave_spark.operators.regionize import region_label

        cells = spark.createDataFrame(
            [(x, y, 1 + x) for x in range(6) for y in range(6) if (x + y) % 3]
            + [(20 + i, 20, 2) for i in range(5)],
            "xb bigint, yb bigint, x bigint",
        )
        base = {tuple(r) for r in region_label(cells).collect()}
        ck = RoundCheckpointer(spark, root, "region", {"grid": "6x6+bar"})
        out = {
            tuple(r)
            for r in region_label(cells, checkpointer=ck).collect()
        }
        assert out == base
        assert ck.rounds_written > 0


def _knn_inputs(spark, geo001):
    pts = spark.read.parquet(str(geo001 / "points.parquet"))
    queries = pts.filter(F.col("fid").endswith("0")).select(
        F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    return queries, pts


class TestKnnRingsResume:
    def test_kill_then_resume(self, spark, geo001, root):
        """Each ring's raw output is a stage: a run killed after the first
        ring resumes with that ring loaded, not rebuilt."""
        from geowave_spark.operators.knn import knn_join_adaptive

        queries, pts = _knn_inputs(spark, geo001)

        def rows(ck=None):
            out = knn_join_adaptive(queries, pts, k=25, max_distance_deg=1.5, checkpointer=ck)
            return {(r.qid, r.fid, r.rank) for r in out.collect()}

        expected = rows()
        cfg = {"input": "geo001/points", "k": 25}
        killer = KillingCheckpointer(spark, root, "knn", cfg, kill_after=1)
        with pytest.raises(SimulatedKill):
            rows(killer)
        assert killer.stages_written == 1

        ck = RoundCheckpointer(spark, root, "knn", cfg)
        assert rows(ck) == expected
        rings = sorted((root / "knn" / "static").glob("knn_round_*/_manifest.json"))
        assert len(rings) >= 2
        assert ck.stages_written == len(rings) - 1, "the committed ring is loaded"


def _st_points(spark):
    from datetime import datetime, timedelta

    rows = [
        (f"p{i:03d}", 10.0 + 0.05 * (i % 5), 20.0 + 0.05 * (i // 5 % 4),
         datetime(2021, 1, 1) + timedelta(days=40 * (i // 20), hours=i))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "fid string, lon double, lat double, event_ts timestamp")


def _run_st_dbscan(spark, geo001, ck):
    from geowave_spark.operators.clustering import st_dbscan

    return st_dbscan(
        _st_points(spark), eps_s=0.08, eps_t_s=10 * 86400, min_pts=4, checkpointer=ck
    )


def _run_knn_hexring(spark, geo001, ck):
    from geowave_spark.operators.knn import knn_join_hexring_adaptive

    queries, pts = _knn_inputs(spark, geo001)
    return knn_join_hexring_adaptive(queries, pts, k=5, max_distance_deg=1.5, checkpointer=ck)


def _run_contour(spark, geo001, ck):
    from geowave_spark.operators.contour import contour_polylines, marching_squares

    grid = spark.createDataFrame(
        [(x, y, 5) for x in range(4) for y in range(3)] + [(30, 30, 5)],
        "xb bigint, yb bigint, x bigint",
    )
    return contour_polylines(marching_squares(grid, theta=2.5), checkpointer=ck)


def _run_dup_clusters(spark, geo001, ck):
    from geowave_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(f"d{i}",) for i in range(10)], "doc_id string")
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2"), ("d4", "d5"), ("d7", "d8"), ("d8", "d7")],
        "id_a string, id_b string",
    )
    return dup_clusters(docs, pairs=pairs, checkpointer=ck)


@pytest.mark.parametrize(
    "run",
    [_run_st_dbscan, _run_knn_hexring, _run_contour, _run_dup_clusters],
    ids=["st_dbscan", "knn_join_hexring_adaptive", "contour_polylines", "dup_clusters"],
)
def test_durable_rows_equal_local_and_rerun_writes_nothing(spark, geo001, root, run):
    """Every operator that takes a checkpointer: the durable call returns
    the local rows, and a second call with the same config resumes from
    what the first committed and writes nothing."""
    local = sorted(map(tuple, run(spark, geo001, None).collect()))
    assert local
    written = []
    for _ in range(2):
        ck = RoundCheckpointer(spark, root, "op", {"case": run.__name__})
        assert sorted(map(tuple, run(spark, geo001, ck).collect())) == local
        written.append(ck.rounds_written + ck.stages_written)
    assert written[0] > 0 and written[1] == 0
    manifests = list((root / "op").rglob("_manifest.json"))
    assert manifests
    for mpath in manifests:
        m = json.loads(mpath.read_text())
        parts = m["partitions"]
        if isinstance(m["rows"], dict):  # a round: counters per tag
            assert {t: sum(p.values()) for t, p in parts.items()} == m["rows"]
        else:
            assert sum(parts.values()) == m["rows"]
