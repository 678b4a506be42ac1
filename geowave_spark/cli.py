"""Operational command-line surface: the reference's ``geowave`` CLI.

Mirrors ``GeoWaveMain`` (reference ``core/cli/.../GeoWaveMain.java`` +
``CLIOperationDriver.java``): one flat operation name dispatches to an
operation implementation, exactly the set the reference registers via its
three ``CLIOperationProviderSpi`` providers —

ingest family (``core/ingest/.../IngestCLIOperationProvider.java:27-88``):
  ``localingest``      localToGW: local files -> format plugin -> indexed store
  ``stage``            hdfsstage analog: local files -> staged intermediate
                       (parquet instead of avro-on-HDFS; same two-phase shape)
  ``poststage``        staged intermediate -> indexed store
  ``kafkaingest``      kafkaToGW: refused offline (no kafka connector jar),
                       same fail-fast contract as streaming/ingest.py
  ``clear``            drop the type's tables from the store

debug-query family (``extensions/cli/debug/DebugOperationsProvider.java``):
  ``bbox``             BBOXQuery.java: -east/-west/-north/-south box scan,
                       ``--useAggregation`` = server-side count (count runs
                       inside the pruned scan, no row decode to the client)
  ``clientCql``        ClientSideCQLQuery.java: full scan, CQL evaluated
                       client-side after decode — the consistency-check twin
  ``serverCql``        CQLQuery.java: constraint extraction -> index routing
                       -> key-range scan -> full CQL re-verify server-side
  ``fullscan``         FullTableScan.java: decode every row, count
  ``fullscanMinimal``  MinimalFullTable.java: count without deserialization
                       (parquet row-group metadata count; no column decode)

stats family (``extensions/cli/stats/StatsOperationCLIProvider.java``):
  ``stats``            StatsOperation.java: drop + recalculate the store's
                       row-range statistics by re-scanning the table
  ``dumpstats``        DumpStatsOperation.java: print every statistic

analytic family (``analytics/mapreduce/.../
MapReduceAnalyticOperationCLIProvider.java`` — the reference launches
MapReduce job runners; here each op is the engine's Spark operator over the
store, results land as parquet at ``--output``):
  ``kmeansparallel``   MultiLevelKMeansClusteringJobRunner: k-means|| init +
                       Lloyd; writes (id, cluster, dist_sq), prints centroids
  ``kmeansjump``       MultiLevelJumpKMeansClusteringJobRunner: pick k by the
                       distortion jump method over --kmin..--kmax, then run
  ``dbscan``           DBScanIterationsJobRunner: density clustering
  ``nn``               GeoWaveExtractNNJobRunner: every neighbor pair within
                       --distance (the epsilon-neighborhood self-join)
  ``kde``              KDEJobRunner: Gaussian-splat pyramid levels
                       --minLevel..--maxLevel into tiled raster rows

raster family (``extensions/adapters/raster/.../RasterOperationCLIProvider
.java``):
  ``raster-resize``    RasterTileResizeJobRunner: re-tile a KDE/raster table
                       to a new tile size without recomputing weights

spatial-stats / movement family (beyond the reference CLI; the engine's
round-4 analytics over the same store layout):
  ``gistar``           Getis-Ord Gi* hotspot z-scores over gridded counts
  ``moransi``          global Moran's I (prints the one-row statistic)
  ``idw``              IDW value-surface interpolation at cell centers
  ``trackstats``       per-track vertex/length/duration summaries
  ``staypoints``       stay-point anchors over LINESTRING tracks
  ``geofence``         per-entity enter/exit/switch transitions against a
                       zone type in the same store

splits family (``extensions/datastores/accumulo/.../split/
AccumuloSplitsOperationCLIProvider.java`` -> ``AccumuloUtils.java:801-1040``;
the reference moves tablet split points, the Spark analog rewrites the
table's file splits — same storage-level knob):
  ``splitquantile``        --num partitions at sampled key quantiles: every
                           file holds an equal ROW share of contiguous key
                           space (setSplitsByQuantile)
  ``splitequalinterval``   --num contiguous equal-WIDTH key intervals
                           (setSplitsByNumSplits)
  ``presplitpartitionid``  --num hash partitions: even file sizes whatever
                           the key skew (setSplitsByRandomPartitions)
  ``splitnumrecords``      --num ENTRIES per split; split count derived from
                           the table's row count (setSplitsByNumRows)

A *store* is a directory; each ingested type is an indexed table at
``<store>/<type>`` (tier-partitioned, cell-sorted parquet with a
``_stats.json`` row-range histogram — the engine's datastore layout from
``sources/tables.write_indexed``).  Staged intermediates live under
``<store>/_staged/<type>``.

Run as ``python -m geowave_spark.cli <operation> [options]`` or via
``spark-submit --py-files geowave_spark.zip -m``-style wrappers on a
cluster; every operation builds (or reuses) the session from
``geowave_spark.session.get_spark``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

POINT_FORMATS = ("gdelt", "tdrive", "geolife", "gpx")
GEOM_FORMATS = ("geojson", "shapefile")


def _read_format(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Dispatch to the format plugin (S4 family, sources/formats.py)."""
    from geowave_spark.sources import formats

    if fmt == "gdelt":
        return formats.read_gdelt(spark, path)
    if fmt == "tdrive":
        return formats.read_tdrive(spark, path)
    if fmt == "geolife":
        return formats.read_geolife(spark, path)
    if fmt == "gpx":
        return formats.read_gpx(spark, path)
    if fmt == "geojson":
        return formats.read_geojson(spark, path)
    if fmt == "shapefile":
        from geowave_spark.sources.shapefile import read_shapefile

        return read_shapefile(spark, path)
    raise ValueError(f"unknown ingest format {fmt!r} (choose from "
                     f"{POINT_FORMATS + GEOM_FORMATS})")


def _with_wkt_bbox(df: DataFrame, wkt_col: str = "geom_wkt") -> DataFrame:
    """bbox columns for a WKT geometry column (extent-ingest prep) — same
    Arrow-batched envelope derivation as extract.with_geometry's generic
    path (GeometryUtils.java:45-81)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([StructField(c, DoubleType()) for c in
                         ("minx", "miny", "maxx", "maxy")])

    @F.pandas_udf(schema)
    def _bbox(wkt: pd.Series) -> pd.DataFrame:
        from geowave_spark.geometry.wkt import geom_bbox, parse_wkt

        out = np.full((len(wkt), 4), np.nan, dtype=np.float64)
        for i, w in enumerate(wkt):
            if w:
                out[i] = geom_bbox(parse_wkt(w))
        return pd.DataFrame(out, columns=[f.name for f in schema.fields])

    b = _bbox(F.col(wkt_col))
    for c in ("minx", "miny", "maxx", "maxy"):
        df = df.withColumn(c, b[c])
    return df.filter(F.col("minx").isNotNull())


def _normalize(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Format plugin output, normalized for indexing (the adapter-encode
    half of the ingest lifecycle, SURVEY §3.4)."""
    df = _read_format(spark, fmt, path)
    if fmt in GEOM_FORMATS:
        return _with_wkt_bbox(df)
    return df


def _ingest_normalized(df: DataFrame, fmt: str, table: str) -> None:
    """Index + write the normalized rows (IndexStrategy.getInsertionIds ->
    sorted write, AccumuloKeyValuePairGenerator/BatchWriter analog)."""
    from geowave_spark.sources.tables import ingest_extents, ingest_points

    if fmt in GEOM_FORMATS:
        ingest_extents(df, table, stats=True)
    else:
        ingest_points(df, table, stats=True)


def _table_dir(store: str, typename: str) -> Path:
    return Path(store) / typename


def _staged_dir(store: str, typename: str) -> Path:
    return Path(store) / "_staged" / typename


def _resolve_type(store: str, typename: str | None) -> str:
    """Default to the store's sole type, like the reference defaulting to
    the sole adapter when -typename is omitted."""
    if typename:
        return typename
    kids = sorted(
        p.name for p in Path(store).iterdir()
        if p.is_dir() and not p.name.startswith("_") and ".__" not in p.name
    ) if Path(store).is_dir() else []
    if len(kids) != 1:
        raise SystemExit(
            f"--type is required: store {store!r} holds {len(kids)} types "
            f"({', '.join(kids) or 'none'})"
        )
    return kids[0]


def _get_spark() -> SparkSession:
    from geowave_spark.session import get_spark

    return get_spark("geowave-cli")


# ---------------------------------------------------------------- ingest ops


def op_localingest(a) -> int:
    spark = _get_spark()
    df = _normalize(spark, a.format, a.input)
    _ingest_normalized(df, a.format, str(_table_dir(a.store, a.type)))
    n = spark.read.parquet(str(_table_dir(a.store, a.type))).count()
    print(f"ingested {n} indexed rows into {_table_dir(a.store, a.type)}")
    return 0


def op_stage(a) -> int:
    spark = _get_spark()
    out = _staged_dir(a.store, a.type)
    df = _normalize(spark, a.format, a.input)
    df.write.mode("overwrite").parquet(str(out))
    meta = {"format": a.format}
    (out / "_ingest_format.json").write_text(json.dumps(meta))
    print(f"staged {spark.read.parquet(str(out)).count()} rows at {out}")
    return 0


def op_poststage(a) -> int:
    spark = _get_spark()
    staged = _staged_dir(a.store, a.type)
    if not (staged / "_SUCCESS").exists():
        raise SystemExit(f"nothing staged for type {a.type!r} at {staged}")
    fmt = json.loads((staged / "_ingest_format.json").read_text())["format"]
    df = spark.read.parquet(str(staged))
    _ingest_normalized(df, fmt, str(_table_dir(a.store, a.type)))
    n = spark.read.parquet(str(_table_dir(a.store, a.type))).count()
    print(f"ingested {n} indexed rows into {_table_dir(a.store, a.type)}")
    return 0


def op_kafkaingest(a) -> int:
    """kafkaToGW: structurally supported (streaming/ingest.py builds the
    identical plan from a file source), but the kafka *connector* jar is
    absent offline — same fail-fast contract as read_docs_kafka_stream."""
    spark = _get_spark()
    from geowave_spark.streaming.ingest import kafka_connector_available

    if not kafka_connector_available(spark):
        print(
            "kafkaingest: the spark-sql-kafka connector jar is not on this "
            "classpath (offline sandbox ships none). The identical "
            "Structured-Streaming plan runs from a file source via "
            "geowave_spark.streaming.ingest.read_docs_stream; on a cluster, "
            "add --packages org.apache.spark:spark-sql-kafka-0-10_2.13 and "
            "re-run.",
            file=sys.stderr,
        )
        return 2
    raise NotImplementedError("kafka connector present but wiring untested here")


def op_clear(a) -> int:
    cleared = []
    for p in (_table_dir(a.store, a.type), _staged_dir(a.store, a.type)):
        if p.exists():
            shutil.rmtree(p)
            cleared.append(str(p))
    print(f"cleared: {', '.join(cleared) or 'nothing'}")
    return 0


# ----------------------------------------------------------------- query ops


def _finish_query(df: DataFrame, a, t0: float) -> int:
    """Shared client finish: optional parquet output, count + timing print
    (AbstractGeoWaveQuery.java:104's 'Got N results in X')."""
    if getattr(a, "output", None):
        df.write.mode("overwrite").parquet(a.output)
        n = df.sparkSession.read.parquet(a.output).count()
    else:
        n = df.count()
    print(f"Got {n} results in {time.monotonic() - t0:.2f}s")
    return 0


def op_bbox(a) -> int:
    """BBOXQuery.java: envelope -> SFC key-range predicate (K2 row-group
    pruning on the cell-sorted table) + coarse lon/lat check; points need no
    finer refine (the envelope IS the geometry).  --useAggregation = count
    inside the scan (CountAggregation via AggregationIterator), i.e. the
    aggregate runs before anything reaches the client."""
    spark = _get_spark()
    t0 = time.monotonic()
    table = str(_table_dir(a.store, _resolve_type(a.store, a.type)))
    from geowave_spark.operators.range_query import spatial_query_points
    from geowave_spark.sources.tables import read_indexed

    wkt = (f"POLYGON (({a.west} {a.south}, {a.east} {a.south}, "
           f"{a.east} {a.north}, {a.west} {a.north}, {a.west} {a.south}))")
    hit = spatial_query_points(read_indexed(spark, table), wkt, cell_col="cell")
    if a.useAggregation:
        n = hit.agg(F.count("*").alias("count")).collect()[0]["count"]
        print(f"Got {n} results in {time.monotonic() - t0:.2f}s")
        return 0
    return _finish_query(hit, a, t0)


def op_client_cql(a) -> int:
    """ClientSideCQLQuery.java: full table scan, CQL evaluated on decoded
    rows with NO index constraint extraction — the slow-but-simple twin kept
    'primarily useful for consistency checking' against serverCql."""
    spark = _get_spark()
    t0 = time.monotonic()
    table = str(_table_dir(a.store, _resolve_type(a.store, a.type)))
    from geowave_spark.functions.cql import parse_cql, to_column
    from geowave_spark.sources.tables import read_indexed

    rows = read_indexed(spark, table).filter(to_column(parse_cql(a.cql)))
    return _finish_query(rows, a, t0)


def op_server_cql(a) -> int:
    """CQLQuery.java:59-100: extract geometry + time constraints from the
    CQL, route through the cost-based index chooser, key-range scan, then
    re-verify the FULL CQL against every row server-side."""
    spark = _get_spark()
    t0 = time.monotonic()
    table = str(_table_dir(a.store, _resolve_type(a.store, a.type)))
    from geowave_spark.plans.cql_route import cql_routed_query
    from geowave_spark.sources.tables import read_indexed

    rows, route = cql_routed_query(
        read_indexed(spark, table), a.cql, ts_col=a.ts_col
    )
    print(f"route: {route}")
    return _finish_query(rows, a, t0)


def op_fullscan(a) -> int:
    """FullTableScan.java: decode every row (all columns materialize), count."""
    spark = _get_spark()
    t0 = time.monotonic()
    table = str(_table_dir(a.store, _resolve_type(a.store, a.type)))
    from geowave_spark.sources.tables import read_indexed

    df = read_indexed(spark, table)
    # force full decode of every column (the 'with iterators +
    # deserialization' leg): hash all columns so column pruning can't skip any
    n = df.select(F.xxhash64(*df.columns).alias("h")).count()
    print(f"Got {n} results in {time.monotonic() - t0:.2f}s")
    return 0


def op_fullscan_minimal(a) -> int:
    """MinimalFullTable.java: count with no deserialization — COUNT(*) over
    parquet resolves from row-group metadata, no column decode at all."""
    spark = _get_spark()
    t0 = time.monotonic()
    table = str(_table_dir(a.store, _resolve_type(a.store, a.type)))
    n = spark.read.parquet(table).count()
    print(f"Got {n} results in {time.monotonic() - t0:.2f}s")
    return 0


# ----------------------------------------------------------------- stats ops


def op_stats(a) -> int:
    """StatsOperation.java: removeAllStatistics + full-scan recalculation of
    the row-range histogram (RowRangeHistogramStatistics), rewritten beside
    the table for the cost-based planner."""
    spark = _get_spark()
    table = _table_dir(a.store, _resolve_type(a.store, a.type))
    stats_file = table / "_stats.json"
    if stats_file.exists():
        stats_file.unlink()  # removeAllStatistics
    from geowave_spark.plans.index_select import build_range_histogram
    from geowave_spark.sources.tables import _fs_write_text

    h = build_range_histogram(
        spark.read.parquet(str(table)).select("cell"), "cell"
    )
    _fs_write_text(
        spark,
        str(stats_file),
        json.dumps({"bounds": h.bounds.tolist(), "total_rows": h.total_rows}),
    )
    print(f"recalculated statistics for {table} ({h.total_rows} rows)")
    return 0


def op_dumpstats(a) -> int:
    """DumpStatsOperation.java: print every statistic for the type."""
    spark = _get_spark()
    table = _table_dir(a.store, _resolve_type(a.store, a.type))
    from geowave_spark.sources.tables import read_index_stats

    h = read_index_stats(spark, str(table))
    print(f"[{table.name}] row_range_histogram: total_rows={h.total_rows} "
          f"buckets={len(h.bounds) - 1}")
    print(f"[{table.name}] key_bounds: [{h.bounds[0]:.0f}, {h.bounds[-1]:.0f}]")
    return 0


# -------------------------------------------------------------- analytic ops


def _store_points(a, spark: SparkSession) -> tuple[DataFrame, str]:
    """The type's rows plus the name of a guaranteed unique id column for
    the analytics (the reference keys MR tuples by data id; ingested stores
    may lack one, so synthesize a deterministic-for-this-layout row id).
    Callers that evaluate the frame in more than one plan branch (op_nn's
    self-join) MUST persist it first: monotonically_increasing_id is only
    stable per evaluation."""
    from geowave_spark.sources.tables import read_indexed

    df = read_indexed(spark, str(_table_dir(a.store, _resolve_type(a.store, a.type))))
    id_col = getattr(a, "id_col", None)
    if id_col:
        if id_col not in df.columns:
            raise SystemExit(
                f"--id-col {id_col!r} not in table columns {df.columns}"
            )
        return df, id_col
    # string id: the k-means|| sampler seeds from md5(id)
    return df.withColumn(
        "_rowid", F.monotonically_increasing_id().cast("string")
    ), "_rowid"


def op_kmeans_parallel(a) -> int:
    """MultiLevelKMeansClusteringJobRunner: k-means|| sampling
    (KSamplerMapReduce) seeds Lloyd iterations (KMeansMapReduce)."""
    spark = _get_spark()
    from geowave_spark.operators.clustering import kmeans, kmeans_parallel_init

    pts, id_col = _store_points(a, spark)
    init = kmeans_parallel_init(pts, a.k, id_col=id_col)
    assign, centroids = kmeans(pts, a.k, max_iters=a.maxIters,
                               id_col=id_col, init=init)
    assign.write.mode("overwrite").parquet(a.output)
    for i, (lon, lat) in enumerate(centroids):
        print(f"centroid {i}: ({lon:.6f}, {lat:.6f})")
    print(f"kmeansparallel: k={a.k}, assignments at {a.output}")
    return 0


def op_kmeans_jump(a) -> int:
    """MultiLevelJumpKMeansClusteringJobRunner: distortion-jump k selection,
    then the final clustering at the chosen k."""
    spark = _get_spark()
    from geowave_spark.operators.clustering import (
        kmeans, kmeans_jump, kmeans_parallel_init)

    pts, id_col = _store_points(a, spark)
    best_k, js = kmeans_jump(pts, (a.kmin, a.kmax), id_col=id_col)
    assign, _ = kmeans(pts, best_k, id_col=id_col,
                       init=kmeans_parallel_init(pts, best_k, id_col=id_col))
    assign.write.mode("overwrite").parquet(a.output)
    print(f"kmeansjump: best k={best_k} "
          f"(jumps: {', '.join(f'{k}={v:.3g}' for k, v in sorted(js.items()))})")
    return 0


def op_dbscan(a) -> int:
    """DBScanIterationsJobRunner: clusters written as (id, cluster, is_core);
    noise rows absent, exactly the operator's contract."""
    spark = _get_spark()
    from geowave_spark.operators.clustering import dbscan

    pts, id_col = _store_points(a, spark)
    out = dbscan(pts, a.eps, a.minpts, id_col=id_col)
    out.write.mode("overwrite").parquet(a.output)
    n = spark.read.parquet(a.output)
    print(f"dbscan: {n.count()} clustered points in "
          f"{n.select('cluster').distinct().count()} clusters at {a.output}")
    return 0


def op_nn(a) -> int:
    """GeoWaveExtractNNJobRunner: the epsilon-neighborhood self-join — every
    ordered neighbor pair within --distance (NNMapReduce.java:119-291)."""
    spark = _get_spark()
    from geowave_spark.operators.knn import distance_join

    pts, id_col = _store_points(a, spark)
    # persist: the self-join evaluates pts in two plan branches, and the
    # synthesized row id must be the SAME in both (see _store_points)
    pts = pts.persist()
    try:
        left = pts.select(
            F.col(id_col).alias("qid"),
            F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
        )
        pairs = distance_join(left, pts, a.distance, right_id_col=id_col).filter(
            F.col("qid") != F.col(id_col)
        )
        pairs.write.mode("overwrite").parquet(a.output)
    finally:
        pts.unpersist()
    print(f"nn: {spark.read.parquet(a.output).count()} neighbor pairs "
          f"within {a.distance} at {a.output}")
    return 0


def op_kde(a) -> int:
    """KDEJobRunner: Gaussian-splat pyramid (R1-R4) over the type's points."""
    spark = _get_spark()
    from geowave_spark.operators.kde import kde_pyramid

    pts, _ = _store_points(a, spark)
    cells = kde_pyramid(pts, min_level=a.minLevel, max_level=a.maxLevel,
                        tile_size=a.tileSize)
    cells.write.mode("overwrite").parquet(a.output)
    n = spark.read.parquet(a.output).count()
    print(f"kde: {n} posts across levels {a.minLevel}..{a.maxLevel} "
          f"at {a.output}")
    return 0


def op_gistar(a) -> int:
    """Getis-Ord Gi* hotspot z-scores over the store's gridded counts
    (operators/hotspot.py; the significance-tested sibling of `kde`)."""
    spark = _get_spark()
    from geowave_spark.operators.hotspot import gi_star

    pts, _ = _store_points(a, spark)
    out = gi_star(pts, cell_deg=a.cellDeg)
    out.write.mode("overwrite").parquet(a.output)
    hot = spark.read.parquet(a.output).filter(F.col("gi_ppm") > 2_000_000)
    print(f"gistar: {hot.count()} hot cells (z > 2) at {a.output}")
    return 0


def op_moransi(a) -> int:
    """Global Moran's I over the store's gridded counts."""
    spark = _get_spark()
    from geowave_spark.operators.hotspot import morans_i

    pts, _ = _store_points(a, spark)
    row = morans_i(pts, cell_deg=a.cellDeg).collect()[0]
    i = "undefined" if row.morans_i_ppm is None else f"{row.morans_i_ppm / 1e6:.6f}"
    print(f"moransi: I = {i} over {row.n_cells} cells / {row.w_pairs} neighbor pairs")
    return 0


def op_idw(a) -> int:
    """IDW value-surface interpolation at occupied cell centers."""
    spark = _get_spark()
    from geowave_spark.operators.interpolate import idw_grid

    pts, _ = _store_points(a, spark)
    if a.valueCol not in pts.columns:
        raise SystemExit(f"--value-col {a.valueCol!r} not in {pts.columns}")
    out = idw_grid(pts, cell_deg=a.cellDeg, value_col=a.valueCol)
    out.write.mode("overwrite").parquet(a.output)
    print(f"idw: {spark.read.parquet(a.output).count()} cells at {a.output}")
    return 0


def _track_fid_col(a, tracks: DataFrame) -> str:
    """Track id column: --id-col, else fid, else the ingest readers'
    feature_id."""
    for c in (getattr(a, "id_col", None), "fid", "feature_id"):
        if c and c in tracks.columns:
            return c
    raise SystemExit(f"no track id column among {tracks.columns}; pass --id-col")


def op_trackstats(a) -> int:
    """Per-track summaries (vertex/segment counts, micro-degree length,
    duration) over a LINESTRING store — one map-side projection."""
    spark = _get_spark()
    from geowave_spark.operators.trajectory import track_stats
    from geowave_spark.sources.tables import read_indexed

    tracks = read_indexed(spark, str(_table_dir(a.store, _resolve_type(a.store, a.type))))
    out = track_stats(tracks, fid_col=_track_fid_col(a, tracks))
    out.write.mode("overwrite").parquet(a.output)
    print(f"trackstats: {spark.read.parquet(a.output).count()} tracks at {a.output}")
    return 0


def op_staypoints(a) -> int:
    """Stay-point anchors over a LINESTRING store (operators/trajectory.py)."""
    spark = _get_spark()
    from geowave_spark.operators.trajectory import staypoints
    from geowave_spark.sources.tables import read_indexed

    tracks = read_indexed(spark, str(_table_dir(a.store, _resolve_type(a.store, a.type))))
    out = staypoints(tracks, radius_deg=a.radius, min_run=a.minRun,
                     fid_col=_track_fid_col(a, tracks))
    out.write.mode("overwrite").parquet(a.output)
    print(f"staypoints: {spark.read.parquet(a.output).count()} anchors at {a.output}")
    return 0


def op_geofence(a) -> int:
    """Per-entity geofence enter/exit/switch transitions: the store's point
    type against a zone type in the same store (operators/geofence.py)."""
    spark = _get_spark()
    from geowave_spark.operators.geofence import geofence_transitions
    from geowave_spark.sources.tables import read_indexed

    pts, _ = _store_points(a, spark)
    for col in (a.entityCol, a.tsCol):
        if col not in pts.columns:
            raise SystemExit(f"column {col!r} not in {pts.columns}")
    if a.idCol not in pts.columns:
        # synthesize a deterministic ping id (STABLE across the operator's
        # two plan branches, unlike monotonically_increasing_id)
        pts = pts.withColumn(
            a.idCol,
            F.md5(F.concat_ws("|", a.entityCol, a.tsCol, "lon", "lat")),
        )
    zones = read_indexed(
        spark, str(_table_dir(a.store, _resolve_type(a.store, a.zonesType)))
    )
    if "zone_id" not in zones.columns and "feature_id" in zones.columns:
        zones = zones.withColumnRenamed("feature_id", "zone_id")
    out = geofence_transitions(
        pts, zones, entity_col=a.entityCol, id_col=a.idCol, ts_col=a.tsCol
    )
    out.write.mode("overwrite").parquet(a.output)
    print(f"geofence: {spark.read.parquet(a.output).count()} transitions at {a.output}")
    return 0


def op_raster_resize(a) -> int:
    """RasterTileResizeJobRunner: re-tile an existing KDE/raster parquet
    output to a new tile size; weights/bands invariant (R7)."""
    spark = _get_spark()
    from geowave_spark.operators.kde import resize_pyramid

    cells = spark.read.parquet(a.input)
    out = resize_pyramid(cells, a.oldTileSize, a.newTileSize)
    out.write.mode("overwrite").parquet(a.output)
    print(f"raster-resize: {a.oldTileSize} -> {a.newTileSize}, "
          f"{spark.read.parquet(a.output).count()} posts at {a.output}")
    return 0


# ---------------------------------------------------------------- splits ops


def _resplit(a, strategy: str, n: int | None) -> int:
    """Shared splits-op body (AbstractAccumuloSplitsOperation.java): resolve
    the type's table, rewrite it with split boundaries chosen by
    ``strategy`` (sources/tables.split_partitions), refresh the stats
    sidecar.  The rewrite goes through a sibling temp dir (Spark cannot
    overwrite a path it is still reading), then swaps old->aside, new->in,
    delete aside — so a crash at any point leaves either the old or the
    new table resolvable, never neither."""
    if a.num <= 0:
        raise SystemExit(f"--num must be positive, got {a.num}")
    spark = _get_spark()
    table = _table_dir(a.store, _resolve_type(a.store, a.type))
    from geowave_spark.sources.tables import read_indexed, write_indexed

    tmp, aside = Path(str(table) + ".__resplit"), Path(str(table) + ".__old")
    for leftover in (tmp, aside):  # a previous crashed run's debris
        if leftover.exists():
            shutil.rmtree(leftover)
    df = read_indexed(spark, str(table)).cache()
    total = df.count()
    if n is None:
        # splitnumrecords: --num is entries PER split (setSplitsByNumRows
        # walks keys accumulating `num` rows per tablet == quantile splits
        # with a derived split count)
        n = max(1, -(-total // a.num))
        strategy = "quantile"
    write_indexed(df, str(tmp), files_per_tier=n,
                  split_strategy=strategy, stats=True)
    df.unpersist()
    table.rename(aside)
    tmp.rename(table)
    shutil.rmtree(aside)
    # same-session readers must not plan from the replaced files: drop the
    # layout registry + operator caches (index_select.layouts_for keys on
    # the file list, but cached DataFrames may still pin deleted parts)
    from geowave_spark.cache import release_all

    release_all()
    print(f"resplit {table} into {n} splits ({strategy}), {total} rows")
    return 0


def op_split_quantile(a) -> int:
    return _resplit(a, "quantile", a.num)


def op_split_equal_interval(a) -> int:
    return _resplit(a, "equal_interval", a.num)


def op_presplit_partition_id(a) -> int:
    return _resplit(a, "hash", a.num)


def op_split_num_records(a) -> int:
    return _resplit(a, "quantile", None)


# --------------------------------------------------------------- dispatcher


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="geowave-spark",
        description=__doc__.splitlines()[0],
    )
    sub = p.add_subparsers(dest="operation", required=True)

    def add(name, fn, help_, store=True, typed=True):
        sp = sub.add_parser(name, help=help_)
        sp.set_defaults(fn=fn)
        if store:
            sp.add_argument("--store", required=True,
                            help="store directory (datastore analog)")
        if typed:
            sp.add_argument("--type", default=None,
                            help="type name (adapter id analog); "
                                 "defaults to the store's sole type")
        return sp

    for name, fn in (("localingest", op_localingest), ("stage", op_stage)):
        sp = add(name, fn, f"{name}: local files -> "
                 + ("indexed store" if name == "localingest" else "staging"))
        sp.add_argument("--input", required=True)
        sp.add_argument("--format", required=True,
                        choices=POINT_FORMATS + GEOM_FORMATS)
        # --type required for ingest (it CREATES the type)
        for act in sp._actions:
            if act.dest == "type":
                act.required = True

    add("poststage", op_poststage, "staged intermediate -> indexed store")
    add("kafkaingest", op_kafkaingest, "kafka -> indexed store (needs connector jar)")
    add("clear", op_clear, "drop a type's tables from the store")

    sp = add("bbox", op_bbox, "bbox query over an indexed store")
    for side in ("north", "south", "east", "west"):
        sp.add_argument(f"--{side}", type=float, required=True)
    sp.add_argument("--useAggregation", action="store_true",
                    help="server-side count (no row decode)")
    sp.add_argument("--output", default=None, help="write hits as parquet")

    for name, fn in (("clientCql", op_client_cql), ("serverCql", op_server_cql)):
        sp = add(name, fn, f"{name} CQL query")
        sp.add_argument("--cql", required=True)
        sp.add_argument("--output", default=None)
        if name == "serverCql":
            sp.add_argument("--ts-col", default="event_ts")

    def add_analytic(name, fn, help_):
        sp = add(name, fn, help_)
        sp.add_argument("--output", required=True, help="result parquet path")
        sp.add_argument("--id-col", default=None,
                        help="unique id column (default: synthesized row id)")
        return sp

    sp = add_analytic("kmeansparallel", op_kmeans_parallel,
                      "k-means|| clustering over the store")
    sp.add_argument("--k", type=int, required=True)
    sp.add_argument("--maxIters", type=int, default=10)

    sp = add_analytic("kmeansjump", op_kmeans_jump,
                      "k-means with k chosen by the jump method")
    sp.add_argument("--kmin", type=int, default=2)
    sp.add_argument("--kmax", type=int, default=8)

    sp = add_analytic("dbscan", op_dbscan, "density-based clustering")
    sp.add_argument("--eps", type=float, required=True)
    sp.add_argument("--minpts", type=int, required=True)

    sp = add_analytic("nn", op_nn, "neighbor pairs within a distance")
    sp.add_argument("--distance", type=float, required=True)

    sp = add_analytic("kde", op_kde, "kernel density estimate pyramid")
    sp.add_argument("--minLevel", type=int, default=1)
    sp.add_argument("--maxLevel", type=int, default=8)
    sp.add_argument("--tileSize", type=int, default=1)

    sp = add_analytic("gistar", op_gistar, "Getis-Ord Gi* hotspot z-scores")
    sp.add_argument("--cellDeg", type=float, default=1.0)

    # moransi prints its one-row statistic; no --output
    sp = add("moransi", op_moransi, "global Moran's I spatial autocorrelation")
    sp.add_argument("--id-col", default=None, help=argparse.SUPPRESS)
    sp.add_argument("--cellDeg", type=float, default=1.0)

    sp = add_analytic("idw", op_idw, "IDW value-surface interpolation")
    sp.add_argument("--cellDeg", type=float, default=1.0)
    sp.add_argument("--value-col", dest="valueCol", default="magnitude")

    sp = add_analytic("trackstats", op_trackstats,
                      "per-track vertex/length/duration summaries")

    sp = add_analytic("staypoints", op_staypoints,
                      "stay-point anchors over LINESTRING tracks")
    sp.add_argument("--radius", type=float, default=0.15)
    sp.add_argument("--minRun", type=int, default=3)

    sp = add_analytic("geofence", op_geofence,
                      "per-entity geofence enter/exit/switch transitions")
    sp.add_argument("--zones-type", dest="zonesType", required=True,
                    help="zone polygon type in the same store")
    sp.add_argument("--entity-col", dest="entityCol", default="category")
    sp.add_argument("--ping-id-col", dest="idCol", default="fid")
    sp.add_argument("--ts-col", dest="tsCol", default="event_ts")

    sp = sub.add_parser("raster-resize",
                        help="re-tile a KDE/raster output to a new tile size")
    sp.set_defaults(fn=op_raster_resize)
    sp.add_argument("--input", required=True, help="cells parquet path")
    sp.add_argument("--output", required=True)
    sp.add_argument("--oldTileSize", type=int, required=True)
    sp.add_argument("--newTileSize", type=int, required=True)

    for name, fn, help_ in (
        ("splitquantile", op_split_quantile,
         "re-split table files at sampled key quantiles"),
        ("splitequalinterval", op_split_equal_interval,
         "re-split table files at equal-width key intervals"),
        ("presplitpartitionid", op_presplit_partition_id,
         "re-split table files by partition-id hash"),
        ("splitnumrecords", op_split_num_records,
         "re-split table files to --num entries per split"),
    ):
        sp = add(name, fn, help_)
        sp.add_argument("--num", type=int, required=True,
                        help="number of partitions (entries per split for "
                             "splitnumrecords)")

    add("fullscan", op_fullscan, "full scan with row decode")
    add("fullscanMinimal", op_fullscan_minimal, "count without deserialization")
    add("stats", op_stats, "recalculate statistics")
    add("dumpstats", op_dumpstats, "print statistics")
    return p


def main(argv: list[str] | None = None) -> int:
    a = _build_parser().parse_args(argv)
    return a.fn(a)


if __name__ == "__main__":
    sys.exit(main())
