"""Continuous kNN: the adaptive ring-expansion kNN join run per
micro-batch over a Structured Streaming query feed.

The scenario mirrors the reference's continuous-ingest + stored-layer
query loop (core/ingest/.../IngestFromKafkaDriver.java feeding the same
indexed layer GeoWave's KNNQuery / NNMapReduce answer over): a STATIC
point layer (the indexed corpus) serves arriving queries continuously.

Why ``foreachBatch`` and not a plain stream-static join: the kNN top-k
needs a rank window per query id, and per-round retirement needs a loop —
both are batch-plan constructs Structured Streaming's incremental planner
refuses (non-time-based windows and iterative plans are unsupported on
streaming DataFrames).  ``foreachBatch`` is Spark's sanctioned escape
hatch for exactly this: each micro-batch is a bounded DataFrame, so the
UNCHANGED batch operator — the same adaptive round loop, executor-side
retirement, salted top-k — runs per batch with full batch semantics.

Exactly-once: the sink writes each micro-batch to a deterministic
``batch_id=<n>/`` parquet directory in overwrite mode.  After a crash,
Structured Streaming replays the last uncommitted batch from the
checkpointed source offsets; the overwrite makes the replayed write
idempotent, so the (offset checkpoint, deterministic path) pair gives
end-to-end exactly-once — the same recovery contract
tests/test_streaming.py pins for the PIP join and indexed ingest.

Scale notes: the static layer is projected and cached ONCE at stream
construction, not re-read per micro-batch; each batch bins it in Catalyst
at each round's cell size (no encode step to reuse), and otherwise costs
the adaptive join's usual one count-aggregate per round over <= |batch|
queries.  Readback of the result is a plain parquet read over
``batch_id=*`` partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from geowave_spark.operators.knn import knn_join_adaptive


def knn_join_stream(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    max_distance_deg: float,
    output_dir: str,
    checkpoint_dir: str,
    *,
    query_id_col: str = "qid",
    query_lon_col: str = "qlon",
    query_lat_col: str = "qlat",
    id_col: str = "fid",
    lon_col: str = "lon",
    lat_col: str = "lat",
    available_now: bool = False,
):
    """Run the adaptive kNN join continuously: ``queries`` is a streaming
    DataFrame of (qid, qlon, qlat), ``points`` a static layer.  Returns the
    started ``StreamingQuery``; results land under
    ``<output_dir>/batch_id=<n>/`` as parquet (read back with
    ``spark.read.parquet(output_dir)``).
    """
    if not queries.isStreaming:
        raise ValueError("queries must be a streaming DataFrame (readStream)")
    if points.isStreaming:
        raise ValueError(
            "points must be static: a streaming point layer under kNN would "
            "need retraction semantics (a better neighbor arriving later "
            "invalidates emitted rows) — re-plan on layer updates instead"
        )

    # project + cache the static side once for the stream's lifetime
    probe = points.select(id_col, lon_col, lat_col).cache()

    def _run_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = knn_join_adaptive(
            batch_df,
            probe,
            k,
            max_distance_deg,
            query_id_col=query_id_col,
            query_lon_col=query_lon_col,
            query_lat_col=query_lat_col,
            id_col=id_col,
            lon_col=lon_col,
            lat_col=lat_col,
        )
        # deterministic path + overwrite = idempotent under batch replay
        out.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    w = (
        queries.writeStream.foreachBatch(_run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
