"""Structured Streaming ingest: the streaming twin of the batch index path.

The reference has no streaming engine — Kafka is a batch staging channel
(`core/ingest/kafka/IngestFromKafkaDriver.java`: consume Avro blobs, then
run the normal ingest).  A 100 TB engine wants true incremental ingest, so
this module wires the SAME batch transforms (span->geometry extraction,
SFC cell assignment) into a streaming plan:

    readStream (file source / kafka) -> with_geometry -> with_point_cells
      -> writeStream parquet sink, partitioned by tier, exactly-once via the
         sink's checkpoint + offset log

Every transform is the exact batch code path (same UDFs, same columns), so
streaming output equals a batch run over the same files — asserted in
tests/test_streaming.py with trigger(availableNow) against the batch plan.

At scale: the file source lists incrementally (maxFilesPerTrigger), and the
sink layout matches the batch table layout (tier partitions, cell-sorted
within files) so downstream queries cannot tell the difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.extract import with_geometry
from geowave_spark.operators.indexing import with_point_cells
from geowave_spark.sfc import DEFAULT_CONFIG, SpatialConfig

DOCS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def read_docs_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file-source reader for the interleaved docs table."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the `spark-sql-kafka-0-10` connector is on the session
    classpath (provides KafkaSourceProvider)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option map :func:`read_docs_kafka_stream` hands the
    ``kafka`` source, frozen as data: the pytest golden pins it (the
    connector jar is absent offline, so ``load()`` can't run here) AND the
    reader builds from it — one source of truth, so a future environment
    with the jar needs zero code change.  ``maxOffsetsPerTrigger`` is the
    per-microbatch backpressure bound (the reference's batch-size knob on
    its Kafka staging consumer, `IngestFromKafkaDriver.java`)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_docs_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka twin of :func:`read_docs_stream` — the real
    `IngestFromKafkaDriver` replacement: subscribe, deserialize the JSON
    value into the docs schema, and hand the SAME columns to the same
    downstream operators (`indexed_docs_stream` neither knows nor cares
    which source produced them).

    The kafka connector jar (`spark-sql-kafka-0-10`) ships with Spark
    distributions but not this sandbox (no network to fetch it — re-checked
    this round), so the source is refused HERE with a clear error instead of
    Spark's DATA_SOURCE_NOT_FOUND at load(); the format-swap compatibility
    is what tests/test_streaming.py pins — the post-source plan is built
    from one shared code path."""
    if not kafka_connector_available(spark):
        raise RuntimeError(
            "read_docs_kafka_stream needs the spark-sql-kafka-0-10 connector "
            "jar on the Spark classpath; this environment has none (offline "
            "sandbox). Use read_docs_stream (file source) — every downstream "
            "operator consumes the identical columns."
        )
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return parse_docs_payload(reader.load())


def parse_docs_payload(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """The Kafka value-deserialization step alone (JSON payload -> docs
    schema) — separated so it can be plan-tested without a broker: feed it
    any DataFrame bearing a binary/string `value` column."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), DOCS_SCHEMA).alias("d")
    ).select("d.doc_id", "d.spans")


def indexed_docs_stream(docs: DataFrame, cfg: SpatialConfig = DEFAULT_CONFIG) -> DataFrame:
    """Streaming extraction + indexing — the batch operators applied 1:1;
    spans pass through untouched (the per-row invariant)."""
    geo = with_geometry(docs)
    pts = geo.filter(F.col("cx").isNotNull())
    return with_point_cells(pts, lon_col="cx", lat_col="cy", cfg=cfg)


def write_indexed_stream(
    indexed: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Exactly-once parquet sink, partitioned by tier like the batch layout."""
    w = (
        indexed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("tier")
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
