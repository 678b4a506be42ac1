"""Resumable checkpointed pipeline: skip-on-match, rebuild-on-change,
downstream invalidation, per-partition counters from parquet footers."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def root(tmp_path):
    return tmp_path / "ckpt"


def _build_pipeline(spark, geo001, root, box=(-75.0, 39.5, -72.0, 42.5)):
    from geowave_spark.plans.lineage import Pipeline

    pipe = Pipeline(spark, root)
    pts = spark.read.parquet(str(geo001 / "points.parquet"))
    filtered = pipe.stage(
        "10_filter",
        {"box": list(box)},
        lambda: pts.filter(
            (F.col("lon") >= box[0]) & (F.col("lon") <= box[2])
            & (F.col("lat") >= box[1]) & (F.col("lat") <= box[3])
        ),
    )
    agg = pipe.stage(
        "20_agg",
        {"by": "category"},
        lambda: filtered.groupBy("category").agg(F.count("*").alias("n")),
    )
    return pipe, agg


class TestLineage:
    def test_first_run_writes_manifests_and_counters(self, spark, geo001, root):
        pipe, agg = _build_pipeline(spark, geo001, root)
        rows = {r.category: r.n for r in agg.collect()}
        assert sum(rows.values()) > 0
        s = pipe.summary()
        assert [x["skipped"] for x in s] == [False, False]
        m = json.loads((root / "10_filter" / "_manifest.json").read_text())
        assert m["rows"] == sum(rows.values())
        assert sum(m["partitions"].values()) == m["rows"]  # per-partition counters

    def test_second_run_resumes_from_checkpoint(self, spark, geo001, root):
        pipe1, agg1 = _build_pipeline(spark, geo001, root)
        r1 = {(r.category, r.n) for r in agg1.collect()}
        pipe2, agg2 = _build_pipeline(spark, geo001, root)
        r2 = {(r.category, r.n) for r in agg2.collect()}
        assert r1 == r2
        assert [x["skipped"] for x in pipe2.summary()] == [True, True]

    def test_config_change_invalidates_downstream(self, spark, geo001, root):
        _build_pipeline(spark, geo001, root)
        pipe2, agg2 = _build_pipeline(spark, geo001, root, box=(-80.0, 30.0, -70.0, 45.0))
        s = pipe2.summary()
        assert [x["skipped"] for x in s] == [False, False]  # both rebuilt
        assert agg2.count() > 0

    def test_mid_pipeline_resume(self, spark, geo001, root):
        """Stage 1 checkpoint survives; only downstream rebuilds when its own
        config changes — the resumable-mid-pipeline contract."""
        from geowave_spark.plans.lineage import Pipeline

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        pipe1 = Pipeline(spark, root)
        f1 = pipe1.stage("10_filter", {"v": 1}, lambda: pts.filter(F.col("lat") > 0))
        pipe1.stage("20_agg", {"by": "category"}, lambda: f1.groupBy("category").count())

        pipe2 = Pipeline(spark, root)
        f2 = pipe2.stage("10_filter", {"v": 1}, lambda: pts.filter(F.col("lat") > 0))
        pipe2.stage("20_agg", {"by": "cat2"}, lambda: f2.groupBy("category").count())
        assert [x["skipped"] for x in pipe2.summary()] == [True, False]


class TestKnnResume:
    """The adaptive kNN join's rings as durable round-barrier stages — the
    north rule's 'every join stage checkpoints per-partition lineage and
    row/tile counters so runs resume mid-pipeline' exercised on the join
    itself, not a toy filter chain."""

    def _run(self, spark, geo001, root, k=25):
        from geowave_spark.operators.knn import knn_join_adaptive
        from geowave_spark.plans.lineage import RoundCheckpointer

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        queries = pts.filter(F.col("fid").endswith("0")).select(
            F.col("fid").alias("qid"),
            F.col("lon").alias("qlon"),
            F.col("lat").alias("qlat"),
        )
        ck = RoundCheckpointer(spark, root, "knn", {"input": "geo001/points", "k": k})
        out = knn_join_adaptive(
            queries, pts, k=k, max_distance_deg=1.5, checkpointer=ck
        )
        return ck, {(r.qid, r.fid, r.rank) for r in out.collect()}

    def test_rounds_checkpoint_and_resume(self, spark, geo001, root):
        from geowave_spark.operators.knn import knn_join_adaptive

        ck1, rows1 = self._run(spark, geo001, root)
        assert ck1.stages_written >= 2, "need a multi-round schedule to prove resume"
        rings = sorted((root / "knn" / "static").glob("knn_round_*/_manifest.json"))
        assert len(rings) == ck1.stages_written
        for mpath in rings:
            m = json.loads(mpath.read_text())
            assert sum(m["partitions"].values()) == m["rows"]  # per-partition counters

        # "killed and re-invoked": a fresh checkpointer over the same root
        ck2, rows2 = self._run(spark, geo001, root)
        assert rows2 == rows1
        assert ck2.stages_written == 0, "every ring is loaded, none rebuilt"

        # and the checkpointed answer is the real answer
        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        queries = pts.filter(F.col("fid").endswith("0")).select(
            F.col("fid").alias("qid"),
            F.col("lon").alias("qlon"),
            F.col("lat").alias("qlat"),
        )
        plain = knn_join_adaptive(queries, pts, k=25, max_distance_deg=1.5)
        assert {(r.qid, r.fid, r.rank) for r in plain.collect()} == rows1

    def test_parameter_change_invalidates_rounds(self, spark, geo001, root):
        self._run(spark, geo001, root, k=25)
        ck2, rows2 = self._run(spark, geo001, root, k=10)
        assert ck2.stages_written >= 1
        # a stale k=25 ring would carry ranks past 10
        assert rows2 and max(rank for _, _, rank in rows2) == 10


class TestPipJoinResume:
    """The flagship PIP join as a durable pipeline stage: extract -> join ->
    zonal rollup, each with a manifest + per-partition counters; a re-run
    over the same root resumes with zero join work."""

    def _run(self, spark, geo001, root):
        from geowave_spark.operators.spatial_join import pip_join
        from geowave_spark.plans.lineage import Pipeline

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass") == "convex"
        )
        pipe = Pipeline(spark, root)
        joined = pipe.stage(
            "10_pip_join",
            {"mode": "hex", "zones": "convex"},
            lambda: pip_join(pts, zones, mode="hex"),
        )
        rolled = pipe.stage(
            "20_zone_rollup",
            {"by": "zone_id"},
            lambda: joined.groupBy("zone_id").agg(F.count("*").alias("n")),
        )
        return pipe, {(r.zone_id, r.n) for r in rolled.collect()}

    def test_join_stage_checkpoints_and_resumes(self, spark, geo001, root):
        pipe1, rows1 = self._run(spark, geo001, root)
        assert [x["skipped"] for x in pipe1.summary()] == [False, False]
        m = json.loads((root / "10_pip_join" / "_manifest.json").read_text())
        assert m["rows"] > 0 and sum(m["partitions"].values()) == m["rows"]

        pipe2, rows2 = self._run(spark, geo001, root)
        assert rows2 == rows1 and rows1
        assert [x["skipped"] for x in pipe2.summary()] == [True, True]


class TestTruncatePlan:
    """plans.lineage.truncate_plan: the stats-resetting round barrier.

    Plain Dataset.localCheckpoint copies the pre-checkpoint plan's
    ESTIMATED statistics onto the LogicalRDD; iterative operators that
    reference the previous round several times then multiply that
    sizeInBytes every round (SizeInBytesOnlyStatsPlanVisitor products),
    so the BigInt's digit count grows geometrically with the round number
    and the driver eventually burns minutes per checkpoint inside
    BigInteger multiplication — at any data scale.  truncate_plan keeps
    per-round stats O(1)."""

    @staticmethod
    def _digits(df):
        return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    def test_stats_bounded_and_values_exact(self, spark):
        from pyspark.sql import functions as F

        from geowave_spark.plans.lineage import truncate_plan

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # the pathological shape: each round references the previous round
        # three times through joins
        plain = df.localCheckpoint()
        fixed = truncate_plan(df)
        plain_digits, fixed_digits = [], []
        for _ in range(4):
            def step(cur):
                return (
                    cur.join(cur.withColumnRenamed("v", "v2"), "k")
                    .join(cur.withColumnRenamed("v", "v3"), "k")
                    .select("k", (F.col("v") + F.col("v2") + F.col("v3")).alias("v"))
                )

            plain = step(plain).localCheckpoint()
            fixed = truncate_plan(step(fixed))
            plain_digits.append(self._digits(plain))
            fixed_digits.append(self._digits(fixed))
        # the plain path compounds (strictly growing digit counts)...
        assert plain_digits == sorted(plain_digits) and plain_digits[-1] > 3 * plain_digits[0]
        # ...the truncated path stays flat
        assert len(set(fixed_digits)) == 1
        # and the data is bit-identical between the two paths
        assert sorted(map(tuple, fixed.collect())) == sorted(map(tuple, plain.collect()))
        # v after 4 rounds of v -> 3v is 2k * 81
        assert fixed.filter(F.col("k") == 7).collect()[0].v == 7 * 2 * 81

    def test_fallback_warns_once_per_process(self, caplog, monkeypatch):
        """When the stats-free rebuild fails (JVM API drift), truncate_plan
        returns the plain checkpoint and says so once, not every round."""
        from geowave_spark.plans import lineage

        class Drifted:
            def localCheckpoint(self):
                return self

            @property
            def _jdf(self):
                raise RuntimeError("queryExecution is gone")

        monkeypatch.setattr(lineage, "_fallback_warned", False)
        df = Drifted()
        with caplog.at_level("WARNING", logger="geowave_spark"):
            assert lineage.truncate_plan(df) is df
            assert lineage.truncate_plan(df) is df
        warned = [r for r in caplog.records if r.name == "geowave_spark"]
        assert len(warned) == 1
        assert "queryExecution is gone" in warned[0].getMessage()
