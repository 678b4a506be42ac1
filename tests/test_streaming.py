"""Structured Streaming ingest == batch ingest over the same files, spans
preserved."""

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
    """pip_join refuses the one option a streaming probe cannot run."""

    def test_salt_hot_refused_on_stream(self, spark, geo001):
        from geowave_spark.operators.spatial_join import pip_join

        zones = spark.read.parquet(str(geo001 / "zones.parquet"))
        batch_pts = spark.read.parquet(str(geo001 / "points.parquet"))
        stream = spark.readStream.schema(batch_pts.schema).parquet(str(geo001))
        with pytest.raises(ValueError, match="salt_hot"):
            pip_join(stream, zones, salt_hot=(1000, 8))


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
