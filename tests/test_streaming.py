"""Structured Streaming ingest == batch ingest over the same files, spans
preserved; windowed per-cell counts with watermark."""

import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def stream_dirs(tmp_path, geo001):
    inp = tmp_path / "in"
    inp.mkdir()
    # stage the fixture docs as two incremental files
    shutil.copy(geo001 / "docs.parquet", inp / "part-000.parquet")
    return {
        "in": str(inp),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


class TestStreamingIngest:
    def test_stream_equals_batch(self, spark, geo001, stream_dirs):
        from geowave_spark.operators.indexing import with_point_cells
        from geowave_spark.extract import with_geometry
        from geowave_spark.streaming.ingest import (
            indexed_docs_stream,
            read_docs_stream,
            write_indexed_stream,
        )

        stream = indexed_docs_stream(read_docs_stream(spark, stream_dirs["in"]))
        q = write_indexed_stream(
            stream, stream_dirs["out"], stream_dirs["ckpt"], available_now=True
        )
        q.awaitTermination(120)

        got = spark.read.parquet(stream_dirs["out"])
        batch_docs = spark.read.parquet(str(geo001 / "docs.parquet"))
        expect = with_point_cells(
            with_geometry(batch_docs).filter(F.col("cx").isNotNull()),
            lon_col="cx",
            lat_col="cy",
        )
        assert got.count() == expect.count()
        a = {(r.doc_id, r.cell) for r in got.select("doc_id", "cell").collect()}
        b = {(r.doc_id, r.cell) for r in expect.select("doc_id", "cell").collect()}
        assert a == b

        # spans survive the streaming pipeline bit-for-bit
        sig = lambda df: {
            (r.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset) for s in r.spans))
            for r in df.select("doc_id", "spans").collect()
        }
        assert sig(got) == sig(batch_docs.join(got.select("doc_id"), "doc_id"))

    def test_incremental_second_file_appends(self, spark, geo001, stream_dirs, tmp_path):
        from geowave_spark.streaming.ingest import (
            indexed_docs_stream,
            read_docs_stream,
            write_indexed_stream,
        )

        stream = indexed_docs_stream(read_docs_stream(spark, stream_dirs["in"]))
        q = write_indexed_stream(
            stream, stream_dirs["out"], stream_dirs["ckpt"], available_now=True
        )
        q.awaitTermination(120)
        n1 = spark.read.parquet(stream_dirs["out"]).count()

        # drop a second file; only the delta is processed (offset log)
        docs = spark.read.parquet(str(geo001 / "docs.parquet")).limit(100)
        docs.write.mode("overwrite").parquet(str(tmp_path / "extra"))
        for i, f in enumerate((tmp_path / "extra").glob("*.parquet")):
            shutil.copy(f, f"{stream_dirs['in']}/part-extra-{i}.parquet")

        stream2 = indexed_docs_stream(read_docs_stream(spark, stream_dirs["in"]))
        q2 = write_indexed_stream(
            stream2, stream_dirs["out"], stream_dirs["ckpt"], available_now=True
        )
        q2.awaitTermination(120)
        n2 = spark.read.parquet(stream_dirs["out"]).count()
        assert n1 < n2 <= n1 + 100


class TestWindowedCounts:
    def test_windowed_cell_counts_match_batch(self, spark, geo001, tmp_path):
        """Run the watermarked windowed agg in a stream over the points table
        (using event_ts) and compare complete results to the batch groupBy."""
        from geowave_spark.operators.indexing import cell_at_tier, with_point_cells
        from geowave_spark.sfc import DEFAULT_CONFIG
        from geowave_spark.streaming.ingest import windowed_cell_counts

        # the streaming file source requires a directory
        pts_dir = tmp_path / "pts_in"
        pts_dir.mkdir()
        shutil.copy(geo001 / "points.parquet", pts_dir / "part-000.parquet")
        batch_pts = spark.read.parquet(str(geo001 / "points.parquet"))
        stream_pts = spark.readStream.schema(batch_pts.schema).parquet(str(pts_dir))

        indexed = with_point_cells(stream_pts)
        counts = windowed_cell_counts(indexed, ts_col="event_ts", window="30 days", cell_bits=4)
        out = str(tmp_path / "win_out")
        q = (
            counts.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.window_start, r.cell, r.n)
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }

        expect_df = (
            with_point_cells(batch_pts)
            .groupBy(
                F.window(F.col("event_ts").cast("timestamp"), "30 days").alias("win"),
                cell_at_tier(F.col("cell"), DEFAULT_CONFIG.finest, 4).alias("cell4"),
            )
            .agg(F.count("*").alias("n"))
        )
        expect = {(r.win.start, r.cell4, r.n) for r in expect_df.collect()}
        assert got == expect and len(got) > 0


class TestKafkaTwin:
    def test_payload_parse_feeds_same_pipeline(self, spark, geo001):
        """The Kafka value-deserialization step produces rows the shared
        indexing pipeline consumes identically to the file source: encode
        docs as JSON 'value' payloads (what a producer would publish), parse,
        index, and compare against indexing the table directly."""
        from pyspark.sql import functions as F

        from geowave_spark.streaming.ingest import indexed_docs_stream, parse_docs_payload

        docs = spark.read.parquet(str(geo001 / "docs.parquet")).limit(300)
        payloads = docs.select(F.to_json(F.struct("doc_id", "spans")).alias("value"))
        via_kafka_shape = indexed_docs_stream(parse_docs_payload(payloads))
        direct = indexed_docs_stream(docs)
        a = {(r.doc_id, r.cell) for r in via_kafka_shape.select("doc_id", "cell").collect()}
        b = {(r.doc_id, r.cell) for r in direct.select("doc_id", "cell").collect()}
        assert a == b and len(a) > 0

    def test_kafka_source_refused_without_connector(self, spark):
        """No connector jar in this sandbox -> the reader must refuse with
        its own documented error (naming the jar and the file-source twin),
        not Spark's opaque DATA_SOURCE_NOT_FOUND at load()."""
        import pytest

        from geowave_spark.streaming.ingest import (
            kafka_connector_available,
            read_docs_kafka_stream,
        )

        assert not kafka_connector_available(spark)  # sandbox precondition
        with pytest.raises(RuntimeError, match="spark-sql-kafka-0-10"):
            read_docs_kafka_stream(spark, "broker:9092", "docs")


class TestStreamingPipJoin:
    """The batch PIP join composed under readStream (stream-static join):
    same operator, same planner, bit-identical rows to the batch run."""

    @pytest.mark.parametrize("mode", ["hex", "fixed"])
    def test_stream_equals_batch(self, spark, geo001, tmp_path, mode):
        from geowave_spark.operators.spatial_join import pip_join
        from geowave_spark.streaming.spatial import (
            pip_join_stream,
            write_pip_join_stream,
        )

        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass") == "convex"
        )
        import shutil

        pts_dir = tmp_path / f"pts_{mode}"
        pts_dir.mkdir()
        shutil.copy(geo001 / "points.parquet", pts_dir / "part-000.parquet")
        batch_pts = spark.read.parquet(str(pts_dir))

        stream_pts = spark.readStream.schema(batch_pts.schema).parquet(str(pts_dir))
        joined = pip_join_stream(stream_pts, zones, mode=mode)
        assert joined.isStreaming
        out, ckpt = str(tmp_path / f"out_{mode}"), str(tmp_path / f"ckpt_{mode}")
        q = write_pip_join_stream(joined, out, ckpt, available_now=True)
        q.awaitTermination(120)

        cols = ["fid", "zone_id", "lon", "lat"]
        got = {tuple(r) for r in spark.read.parquet(out).select(*cols).collect()}
        want = {
            tuple(r)
            for r in pip_join(batch_pts, zones, mode=mode).select(*cols).collect()
        }
        assert got == want and got

    def test_resumes_from_checkpoint(self, spark, geo001, tmp_path):
        """The north rule's recovery contract: kill after batch 1 of 2,
        restart from the same checkpoint, no lost and no duplicated rows."""
        import shutil

        from geowave_spark.operators.spatial_join import pip_join
        from geowave_spark.streaming.spatial import (
            pip_join_stream,
            write_pip_join_stream,
        )

        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass") == "convex"
        )
        batch_pts = spark.read.parquet(str(geo001 / "points.parquet"))
        inp = tmp_path / "pts_in"
        inp.mkdir()
        half = batch_pts.count() // 2
        batch_pts.limit(half).coalesce(1).write.parquet(str(tmp_path / "h1"))
        batch_pts.subtract(batch_pts.limit(half)).coalesce(1).write.parquet(
            str(tmp_path / "h2")
        )
        for f in (tmp_path / "h1").glob("*.parquet"):
            shutil.copy(f, inp / "part-000.parquet")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def run_once():
            stream = spark.readStream.schema(batch_pts.schema).parquet(str(inp))
            q = write_pip_join_stream(
                pip_join_stream(stream, zones, mode="hex"), out, ckpt,
                available_now=True,
            )
            q.awaitTermination(120)

        run_once()  # processes file 1, checkpoints its offset
        for f in (tmp_path / "h2").glob("*.parquet"):
            shutil.copy(f, inp / "part-001.parquet")
        run_once()  # restart: resumes AFTER file 1, processes only file 2

        cols = ["fid", "zone_id", "lon", "lat"]
        got = [tuple(r) for r in spark.read.parquet(out).select(*cols).collect()]
        want = {
            tuple(r)
            for r in pip_join(batch_pts, zones, mode="hex").select(*cols).collect()
        }
        assert len(got) == len(set(got)), "restart duplicated rows"
        assert set(got) == want, "restart lost or fabricated rows"

    def test_salt_hot_refused_on_stream(self, spark, geo001):
        from geowave_spark.streaming.spatial import pip_join_stream

        zones = spark.read.parquet(str(geo001 / "zones.parquet"))
        batch_pts = spark.read.parquet(str(geo001 / "points.parquet"))
        stream = spark.readStream.schema(batch_pts.schema).parquet(str(geo001))
        from geowave_spark.operators.spatial_join import pip_join

        with pytest.raises(ValueError, match="salt_hot"):
            pip_join(stream, zones, salt_hot=(1000, 8))
        with pytest.raises(ValueError, match="streaming"):
            pip_join_stream(batch_pts, zones)


class TestStreamingKnn:
    """The adaptive ring-expansion kNN run per micro-batch via foreachBatch:
    unchanged batch operator, exactly-once sink (deterministic batch_id
    paths + overwrite), checkpointed source offsets."""

    def _query_feed(self, spark, geo001, tmp_path, two_files=False):
        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        queries = pts.filter(F.col("fid").endswith("0")).select(
            F.col("fid").alias("qid"),
            F.col("lon").alias("qlon"),
            F.col("lat").alias("qlat"),
        )
        inp = tmp_path / "q_in"
        inp.mkdir()
        import shutil

        if two_files:
            half = queries.count() // 2
            queries.limit(half).coalesce(1).write.parquet(str(tmp_path / "q1"))
            queries.subtract(queries.limit(half)).coalesce(1).write.parquet(
                str(tmp_path / "q2")
            )
            for f in (tmp_path / "q1").glob("*.parquet"):
                shutil.copy(f, inp / "part-000.parquet")
        else:
            queries.coalesce(1).write.parquet(str(tmp_path / "q1"))
            for f in (tmp_path / "q1").glob("*.parquet"):
                shutil.copy(f, inp / "part-000.parquet")
        return pts, queries, inp

    def test_stream_equals_batch(self, spark, geo001, tmp_path):
        from geowave_spark.operators.knn import knn_join_adaptive
        from geowave_spark.streaming.knn import knn_join_stream

        pts, queries, inp = self._query_feed(spark, geo001, tmp_path)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream_q = spark.readStream.schema(queries.schema).parquet(str(inp))
        q = knn_join_stream(
            stream_q, pts, k=5, max_distance_deg=1.5,
            output_dir=out, checkpoint_dir=ckpt, available_now=True,
        )
        q.awaitTermination(180)
        got = {
            (r.qid, r.fid, r.rank)
            for r in spark.read.parquet(out).select("qid", "fid", "rank").collect()
        }
        want = {
            (r.qid, r.fid, r.rank)
            for r in knn_join_adaptive(queries, pts, k=5, max_distance_deg=1.5).collect()
        }
        assert got == want and got

    def test_resumes_from_checkpoint(self, spark, geo001, tmp_path):
        """Kill after the first query file, restart from the same
        checkpoint: the second run must process ONLY the new file, and the
        union must equal the batch answer with no duplicated queries."""
        import shutil

        from geowave_spark.operators.knn import knn_join_adaptive
        from geowave_spark.streaming.knn import knn_join_stream

        pts, queries, inp = self._query_feed(spark, geo001, tmp_path, two_files=True)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def run_once():
            stream_q = spark.readStream.schema(queries.schema).parquet(str(inp))
            q = knn_join_stream(
                stream_q, pts, k=5, max_distance_deg=1.5,
                output_dir=out, checkpoint_dir=ckpt, available_now=True,
            )
            q.awaitTermination(180)

        run_once()
        n_first = spark.read.parquet(out).count()
        for f in (tmp_path / "q2").glob("*.parquet"):
            shutil.copy(f, inp / "part-001.parquet")
        run_once()

        rows = [
            (r.qid, r.fid, r.rank)
            for r in spark.read.parquet(out).select("qid", "fid", "rank").collect()
        ]
        assert len(rows) > n_first, "restart processed nothing new"
        assert len(rows) == len(set(rows)), "restart duplicated rows"
        want = {
            (r.qid, r.fid, r.rank)
            for r in knn_join_adaptive(queries, pts, k=5, max_distance_deg=1.5).collect()
        }
        assert set(rows) == want, "restart lost or fabricated rows"

    def test_wrong_sides_refused(self, spark, geo001, tmp_path):
        from geowave_spark.streaming.knn import knn_join_stream

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        with pytest.raises(ValueError, match="streaming"):
            knn_join_stream(pts, pts, 5, 1.5, "o", "c")
        stream = spark.readStream.schema(pts.schema).parquet(str(geo001))
        with pytest.raises(ValueError, match="static"):
            knn_join_stream(stream, stream, 5, 1.5, "o", "c")


class TestStreamingCql:
    """A parsed CQL filter is a plain Catalyst Column (plus Arrow UDFs for
    areal bindings), so the SAME compiled predicate runs under Structured
    Streaming unchanged — stream rows equal the batch filter exactly."""

    def test_cql_filter_stream_equals_batch(self, spark, geo001, tmp_path):
        import shutil

        from geowave_spark.functions.cql import parse_cql, to_column

        pts_dir = tmp_path / "cql_pts"
        pts_dir.mkdir()
        shutil.copy(geo001 / "points.parquet", pts_dir / "part-000.parquet")
        batch = spark.read.parquet(str(pts_dir))
        cql = (
            "INTERSECTS(geom, POLYGON ((-75.0 39.5, -72.0 39.5, -72.0 42.5, "
            "-75.0 42.5, -75.0 39.5))) AND magnitude >= 10 "
            "AND category IN ('cat1', 'cat3')"
        )
        col = to_column(parse_cql(cql))
        stream = spark.readStream.schema(batch.schema).parquet(str(pts_dir))
        out = str(tmp_path / "cql_out")
        q = (
            stream.filter(col)
            .select("fid", "lon", "lat")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "cql_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.fid for r in spark.read.parquet(out).collect()}
        want = {r.fid for r in batch.filter(col).select("fid").collect()}
        assert got == want and got


class TestAnnStream:
    """streaming/ann.py: IVF-PQ top-k per micro-batch over a static
    pre-encoded corpus — stream output must equal the batch operator."""

    def _vec_feed(self, spark, tmp_path, two_files=False):
        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = embs.selectExpr("vec_id as qid", "embedding as qvec").limit(40)
        inp = tmp_path / "qvecs"
        inp.mkdir()
        first = queries.filter(F.col("qid") % 2 == 0) if two_files else queries
        first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "q1"))
        for f in (tmp_path / "q1").glob("*.parquet"):
            f.rename(inp / "part-000.parquet")
        if two_files:
            queries.filter(F.col("qid") % 2 == 1).coalesce(1).write.mode(
                "overwrite").parquet(str(tmp_path / "q2"))
        return embs, queries, inp

    def test_stream_equals_batch(self, spark, tmp_path):
        from geowave_spark.operators.similarity import (
            ivf_train_centroids, ivfpq_topk, pq_train_codebooks)
        from geowave_spark.streaming.ann import ann_topk_stream

        embs, queries, inp = self._vec_feed(spark, tmp_path)
        cents = ivf_train_centroids(embs, n_centroids=8)
        books = pq_train_codebooks(embs, m=8, n_codes=16)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream_q = spark.readStream.schema(queries.schema).parquet(str(inp))
        q = ann_topk_stream(
            stream_q, embs, k=5, output_dir=out, checkpoint_dir=ckpt,
            centroids=cents, codebooks=books, nprobe=3, rerank=20,
            available_now=True,
        )
        q.awaitTermination(180)
        got = {
            (r.qid, r.vec_id, r.rank)
            for r in spark.read.parquet(out).select("qid", "vec_id", "rank").collect()
        }
        want = {
            (r.qid, r.vec_id, r.rank)
            for r in ivfpq_topk(embs, queries, k=5, centroids=cents,
                                codebooks=books, nprobe=3, rerank=20).collect()
        }
        assert got == want and got

    def test_resumes_from_checkpoint(self, spark, tmp_path):
        import shutil

        from geowave_spark.operators.similarity import (
            ivf_train_centroids, ivfpq_topk, pq_train_codebooks)
        from geowave_spark.streaming.ann import ann_topk_stream

        embs, queries, inp = self._vec_feed(spark, tmp_path, two_files=True)
        cents = ivf_train_centroids(embs, n_centroids=8)
        books = pq_train_codebooks(embs, m=8, n_codes=16)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def run_once():
            stream_q = spark.readStream.schema(queries.schema).parquet(str(inp))
            q = ann_topk_stream(
                stream_q, embs, k=5, output_dir=out, checkpoint_dir=ckpt,
                centroids=cents, codebooks=books, nprobe=3, rerank=20,
                available_now=True,
            )
            q.awaitTermination(180)

        run_once()
        n_first = spark.read.parquet(out).count()
        for f in (tmp_path / "q2").glob("*.parquet"):
            shutil.copy(f, inp / "part-001.parquet")
        run_once()
        rows = [
            (r.qid, r.vec_id, r.rank)
            for r in spark.read.parquet(out).select("qid", "vec_id", "rank").collect()
        ]
        assert len(rows) > n_first, "restart processed nothing new"
        assert len(rows) == len(set(rows)), "restart duplicated rows"
        want = {
            (r.qid, r.vec_id, r.rank)
            for r in ivfpq_topk(embs, queries, k=5, centroids=cents,
                                codebooks=books, nprobe=3, rerank=20).collect()
        }
        assert set(rows) == want, "restart lost or fabricated rows"

    def test_wrong_sides_refused(self, spark, tmp_path):
        from geowave_spark.streaming.ann import ann_topk_stream

        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = embs.selectExpr("vec_id as qid", "embedding as qvec")
        with pytest.raises(ValueError, match="streaming"):
            ann_topk_stream(q, embs, k=5, output_dir="x", checkpoint_dir="y")
