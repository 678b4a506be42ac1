"""File-format ingest readers mirroring the reference's format plugins.

The reference ships per-format ingest plugins that parse files row-by-row on
a single JVM (``extensions/formats/{gdelt,tdrive,geolife,gpx}``).  Here each
format is a *declarative* Spark reader: the text/CSV scan, field casts, and
malformed-row policy all run in Catalyst (predicate pushdown, parallel file
splits, whole-stage codegen), and only GPX — an XML format — drops to an
Arrow-batched ``mapInPandas`` with stdlib ``xml.etree`` (no per-row Python
for the CSV family).  At 100 TB the scan parallelizes per file split;
nothing funnels through the driver.

Every reader emits the same normalized point contract::

    (source string, track_id string, point_idx long, ts timestamp,
     lon double, lat double, elevation double)

plus format-specific extras, so any of them feeds
:func:`geowave_spark.operators.indexing.with_point_cells` (and the rest of
the engine) unchanged.

Reference parity notes (semantics, not code):
- GDELT: tab-separated, >=57 columns; event id col 0, date col 1
  (``yyyyMMdd``), actors cols 6/16, action-geo type/lat/lon cols 49/53/54,
  counts cols 31-33, tone col 34 (``GDELTUtils.java:39-88,165-174``).
  Rows without a parseable lat/lon are dropped, as the reference does.
- T-Drive: ``taxi_id,yyyy-MM-dd HH:mm:ss,lon,lat``; lines that don't split
  into 4 fields are invalid (``TdriveUtils.java:88``, ``TdriveIngestPlugin
  .java:114-128``).
- GeoLife ``.plt``: ``lat,lon,_,alt_feet,_,date,time`` — exactly-7-field
  lines are points (the 6-line file header never has 7 fields, which is
  precisely how the reference skips it); elevation ``-777`` means null;
  timestamp is ``vals[5] + " " + vals[6]`` (``GeoLifeIngestPlugin.java:
  186-236``); the track id is the source file.
- GPX: ``trkpt``/``rtept``/``wpt`` elements carry lat/lon attributes with
  optional ``ele``/``time`` children (``GPXConsumer.java:269-300``).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

POINT_COLS = ["source", "track_id", "point_idx", "ts", "lon", "lat", "elevation"]

# Whole-file parses (GPX, GeoJSON lines=False) make ONE Arrow row / ONE task
# out of each file: a multi-GB upload would OOM an executor with an opaque
# Arrow error.  Refuse clearly instead.
MAX_WHOLE_FILE_BYTES = 256 * 1024 * 1024


def _guard_whole_file(name: str, body: str | bytes, max_bytes: int, what: str) -> None:
    if len(body) > max_bytes:
        raise ValueError(
            f"{what} file {name!r} is {len(body):,} bytes, above the "
            f"whole-file parse bound of {max_bytes:,} (one file = one task "
            f"= one Arrow row here); split the file or raise max_file_bytes"
        )


def read_gdelt(spark: SparkSession, path: str) -> DataFrame:
    """GDELT event export (tab-separated) -> normalized points + event attrs.

    Pure-Catalyst: one CSV scan, casts, and null filters; rows whose action
    lat/lon don't parse are dropped exactly like the reference's
    ``parseLatLon`` failure path.
    """
    raw = spark.read.csv(path, sep="\t", header=False, inferSchema=False)
    if len(raw.columns) < 57:
        raise ValueError(
            f"GDELT rows need >=57 tab-separated columns, scan found "
            f"{len(raw.columns)} (GDELT_MIN_COLUMNS)"
        )
    c = lambda i: F.col(f"_c{i}")
    has_url = len(raw.columns) >= 58
    return (
        raw.select(
            c(0).cast("long").alias("event_id"),
            F.to_date(c(1), "yyyyMMdd").alias("event_date"),
            c(6).alias("actor1"),
            c(16).alias("actor2"),
            c(49).cast("int").alias("action_geo_type"),
            c(51).alias("action_country"),
            c(31).cast("int").alias("num_mentions"),
            c(32).cast("int").alias("num_sources"),
            c(33).cast("int").alias("num_articles"),
            c(34).cast("double").alias("avg_tone"),
            c(53).cast("double").alias("lat"),
            c(54).cast("double").alias("lon"),
            (c(57) if has_url else F.lit(None).cast("string")).alias("source_url"),
        )
        .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .withColumn("source", F.lit("gdelt"))
        .withColumn("track_id", F.col("event_id").cast("string"))
        .withColumn("point_idx", F.lit(0).cast("long"))
        .withColumn("ts", F.col("event_date").cast("timestamp"))
        .withColumn("elevation", F.lit(None).cast("double"))
    )


def read_tdrive(spark: SparkSession, path: str) -> DataFrame:
    """T-Drive taxi traces (``taxi_id,ts,lon,lat``) -> normalized points.

    DROPMALFORMED under an exact 4-column schema reproduces the reference's
    ``validate: line.split(",").length == 4`` policy in the scan itself.
    """
    from pyspark.sql.window import Window

    pts = spark.read.csv(
        path,
        schema="taxi_id INT, ts TIMESTAMP, lon DOUBLE, lat DOUBLE",
        timestampFormat="yyyy-MM-dd HH:mm:ss",
        mode="DROPMALFORMED",
    ).filter(
        F.col("taxi_id").isNotNull()
        & F.col("lon").isNotNull()
        & F.col("lat").isNotNull()
    )
    w_idx = F.row_number().over(Window.partitionBy("taxi_id").orderBy("ts")) - 1
    return pts.select(
        F.lit("tdrive").alias("source"),
        F.col("taxi_id").cast("string").alias("track_id"),
        w_idx.cast("long").alias("point_idx"),
        "ts",
        "lon",
        "lat",
        F.lit(None).cast("double").alias("elevation"),
        "taxi_id",
    )


def read_geolife(spark: SparkSession, path: str) -> DataFrame:
    """GeoLife ``.plt`` trajectory files -> normalized points.

    Text scan + split: exactly-7-field lines are points (the file header
    never has 7 fields — the same implicit skip the reference relies on);
    elevation ``-777`` becomes null; the track id is ``<user>/<file-stem>``
    when the canonical ``Data/<user>/Trajectory/<start-ts>.plt`` layout is
    detected (start-ts file names collide across the corpus's 182 users), or
    the bare file stem otherwise.
    """
    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.split("value", ",").alias("v")
    )
    pts = lines.filter(F.size("v") == 7).select(
        "file",
        F.col("v")[0].cast("double").alias("lat"),
        F.col("v")[1].cast("double").alias("lon"),
        F.col("v")[3].cast("double").alias("alt_feet"),
        F.to_timestamp(
            F.concat(F.col("v")[5], F.lit(" "), F.col("v")[6]),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts"),
    )
    from pyspark.sql.window import Window

    stem = F.regexp_extract(F.col("file"), r"([^/]+)\.plt$", 1)
    user = F.regexp_extract(F.col("file"), r"([^/]+)/Trajectory/[^/]+\.plt$", 1)
    track = F.when(user != "", F.concat(user, F.lit("/"), stem)).otherwise(stem)
    return (
        pts.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .withColumn("track_id", track)
        .select(
            F.lit("geolife").alias("source"),
            "track_id",
            (
                F.row_number().over(Window.partitionBy("track_id").orderBy("ts")) - 1
            ).cast("long").alias("point_idx"),
            "ts",
            "lon",
            "lat",
            F.when(F.col("alt_feet") == -777, None)
            .otherwise(F.col("alt_feet"))
            .alias("elevation"),
        )
    )


GPX_SCHEMA = (
    "source string, track_id string, point_idx long, ts timestamp, "
    "lon double, lat double, elevation double, point_type string, "
    "track_name string"
)


def read_gpx(
    spark: SparkSession, path: str, max_file_bytes: int = MAX_WHOLE_FILE_BYTES
) -> DataFrame:
    """GPX (XML) files -> normalized points via stdlib ``xml.etree``.

    One whole file per row (``wholetext``) — GPX files are per-device
    uploads, small enough that a file is the natural Arrow-batch unit, and
    parsing runs executor-side in mapInPandas so a million files fan out
    across the cluster.  Emits ``trkpt`` (per track segment, in order),
    ``rtept``, and ``wpt`` elements with ``ele``/``time`` children when
    present, namespace-agnostic.
    """
    import pandas as pd

    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value").alias("xml")
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xml.etree.ElementTree as ET

        def localname(tag: str) -> str:
            return tag.rsplit("}", 1)[-1]

        for pdf in batches:
            rows = []
            for fname, xml in zip(pdf["file"], pdf["xml"]):
                _guard_whole_file(fname, xml, max_file_bytes, "GPX")
                root = ET.fromstring(xml)
                base = fname.rsplit("/", 1)[-1]
                trk_i = 0
                for el in root.iter():
                    kind = localname(el.tag)
                    if kind not in ("trk", "rte"):
                        continue
                    name_el = next(
                        (ch for ch in el if localname(ch.tag) == "name"), None
                    )
                    tname = name_el.text if name_el is not None else None
                    ptag = "trkpt" if kind == "trk" else "rtept"
                    idx = 0
                    for pt in el.iter():
                        if localname(pt.tag) != ptag:
                            continue
                        rows.append(
                            _gpx_point(base, f"{base}#{kind}{trk_i}", idx, pt, ptag, tname)
                        )
                        idx += 1
                    trk_i += 1
                for wi, pt in enumerate(
                    p for p in root.iter() if localname(p.tag) == "wpt"
                ):
                    rows.append(_gpx_point(base, f"{base}#wpt", wi, pt, "wpt", None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "source",
                    "track_id",
                    "point_idx",
                    "ts",
                    "lon",
                    "lat",
                    "elevation",
                    "point_type",
                    "track_name",
                ],
            )

    return files.repartition(F.col("file")).mapInPandas(_parse, GPX_SCHEMA)


def _gpx_point(source, track_id, idx, el, ptype, tname):
    import pandas as pd

    def localname(tag):
        return tag.rsplit("}", 1)[-1]

    ele = ts = None
    for ch in el:
        ln = localname(ch.tag)
        if ln == "ele" and ch.text:
            ele = float(ch.text)
        elif ln == "time" and ch.text:
            t = pd.Timestamp(ch.text)
            if t.tzinfo is not None:
                # Normalize to the UTC instant; tz_localize(None) alone would
                # keep local wall time and skew mixed-offset corpora.
                t = t.tz_convert("UTC").tz_localize(None)
            ts = t
    return (
        source,
        track_id,
        idx,
        ts,
        float(el.get("lon")),
        float(el.get("lat")),
        ele,
        ptype,
        tname,
    )


GEOJSON_SCHEMA = (
    "source string, feature_id string, feature_idx long, geom_type string, "
    "geom_wkt string, properties string"
)


def _geojson_to_geoms(g: dict) -> list[tuple[str, object]]:
    """GeoJSON geometry dict -> list of (kind, data) in the engine's WKT
    model (``geometry/wkt.py``).  Multi-point/-linestring explode to parts
    (the engine's geometry kinds are point/linestring/polygon/multipolygon);
    GeometryCollection raises — the reference's SimpleFeature ingest has no
    collection-typed attributes either."""
    t = g["type"]
    c = g["coordinates"] if t != "GeometryCollection" else None
    if t == "Point":
        return [("point", (float(c[0]), float(c[1])))]
    if t == "MultiPoint":
        return [("point", (float(p[0]), float(p[1]))) for p in c]
    if t == "LineString":
        return [("linestring", [(float(x), float(y)) for x, y, *_ in c])]
    if t == "MultiLineString":
        return [
            ("linestring", [(float(x), float(y)) for x, y, *_ in line]) for line in c
        ]
    if t == "Polygon":
        return [("polygon", [[(float(x), float(y)) for x, y, *_ in ring] for ring in c])]
    if t == "MultiPolygon":
        return [
            (
                "multipolygon",
                [[[(float(x), float(y)) for x, y, *_ in ring] for ring in poly] for poly in c],
            )
        ]
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


def read_geojson(
    spark: SparkSession,
    path: str,
    lines: bool = True,
    max_file_bytes: int = MAX_WHOLE_FILE_BYTES,
) -> DataFrame:
    """GeoJSON -> (feature id, WKT geometry, properties JSON) rows.

    ``lines=True`` reads newline-delimited GeoJSON (one Feature per line —
    the shape big corpora actually ship in: file splits parallelize, no
    whole-file parse); ``lines=False`` reads whole files that are either a
    FeatureCollection, a bare Feature, or a bare geometry.  Parsing is
    stdlib ``json`` in ``mapInPandas`` (GeoJSON geometry nesting depth
    varies by type, so a fixed ``from_json`` schema can't express it);
    geometries come out as the engine's WKT (``geom_to_wkt``), so the
    result feeds ``pip_join``/``areal_join`` zones or probe extents
    unchanged.  Multi-point/-linestring features explode one row per part
    (``<id>#<part>``); GeometryCollection raises.

    Reference parity: the geotools-vector ingest family
    (``extensions/formats/geotools-vector/.../GeoToolsVectorDataStoreIngestPlugin.java``)
    accepts any SimpleFeature source including GeoJSON; properties pass
    through opaque (JSON string) the way the reference carries feature
    attributes it doesn't index.
    """
    import json as _json

    import pandas as pd

    from geowave_spark.geometry.wkt import geom_to_wkt

    if lines:
        raw = spark.read.text(path).select(
            F.input_file_name().alias("file"), F.col("value").alias("body")
        ).filter(F.length(F.trim(F.col("body"))) > 0)
    else:
        raw = spark.read.text(path, wholetext=True).select(
            F.input_file_name().alias("file"), F.col("value").alias("body")
        )

    def _features(doc: dict):
        if doc.get("type") == "FeatureCollection":
            yield from doc.get("features", [])
        elif doc.get("type") == "Feature":
            yield doc
        else:  # bare geometry
            yield {"type": "Feature", "geometry": doc, "properties": None}

    def _parse(batches):
        for pdf in batches:
            rows = []
            for fname, body in zip(pdf["file"], pdf["body"]):
                if not lines:
                    _guard_whole_file(fname, body, max_file_bytes, "GeoJSON")
                base = fname.rsplit("/", 1)[-1]
                for fi, feat in enumerate(_features(_json.loads(body))):
                    fid = str(feat.get("id", fi))
                    props = feat.get("properties")
                    props_s = _json.dumps(props, sort_keys=True) if props is not None else None
                    g = feat.get("geometry")
                    if g is None:
                        # RFC 7946 §3.2: an unlocated Feature carries a JSON
                        # null geometry — keep the row, null the geometry.
                        rows.append((base, fid, fi, None, None, props_s))
                        continue
                    geoms = _geojson_to_geoms(g)
                    for pi, geom in enumerate(geoms):
                        rows.append(
                            (
                                base,
                                fid if len(geoms) == 1 else f"{fid}#{pi}",
                                fi,
                                geom[0],
                                geom_to_wkt(geom),
                                props_s,
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "source", "feature_id", "feature_idx",
                    "geom_type", "geom_wkt", "properties",
                ],
            )

    return raw.mapInPandas(_parse, GEOJSON_SCHEMA)


COVERAGE_SCHEMA = (
    "coverage_id string, minx double, miny double, maxx double, maxy double, "
    "width int, height int, pixels array<int>"
)


def read_geotiff_coverages(
    raw: DataFrame, id_col: str = "coverage_id", media_col: str = "media"
) -> DataFrame:
    """Georeferenced-raster ingest: decode single-band GeoTIFF binaries into
    the engine's coverage contract, envelope included, so a GeoTIFF lands on
    the tile pyramid without hand-fed bounds.

    Mirrors the reference's ``extensions/formats/geotools-raster`` ingest
    (GeoTools reads the GeoTIFF grid-to-CRS from ModelTiepoint/PixelScale or
    ModelTransformation and hands ``RasterDataAdapter.java:391-516`` a
    placed coverage).  The decode runs executor-side in Arrow-batched
    ``mapInPandas`` — at 100 TB each binary decodes where it already lives,
    nothing funnels through the driver — and the output feeds
    :func:`geowave_spark.operators.raster.raster_tiles` unchanged.

    TIFF raster space is top-down (row 0 = north edge); the coverage
    contract is bottom-up (row 0 = southernmost), so rows are flipped here,
    making a parquet-coverage twin byte-identical.  Undecodable or
    non-georeferenced payloads raise — silent drops would desync the
    mosaic's latest-wins merge.
    """
    import numpy as np
    import pandas as pd

    from geowave_spark.functions.geotiff import geotiff_decode

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "coverage_id": [], "minx": [], "miny": [], "maxx": [],
                "maxy": [], "width": [], "height": [], "pixels": [],
            }
            for cid, blob in zip(pdf[id_col], pdf[media_col]):
                grid, (minx, miny, maxx, maxy), _nodata = geotiff_decode(
                    bytes(blob)
                )
                h, w = grid.shape
                out["coverage_id"].append(cid)
                out["minx"].append(minx)
                out["miny"].append(miny)
                out["maxx"].append(maxx)
                out["maxy"].append(maxy)
                out["width"].append(w)
                out["height"].append(h)
                out["pixels"].append(
                    np.ascontiguousarray(grid[::-1]).ravel().tolist()
                )
            yield pd.DataFrame(out)

    return raw.select(id_col, media_col).mapInPandas(_decode, COVERAGE_SCHEMA)


STANAG_SCHEMA = (
    "source string, track_id string, track_number string, track_status string, "
    "point_idx long, point_uuid string, ts timestamp, lon double, lat double, "
    "elevation double, speed double, course double, point_type string"
)


def read_stanag4676(
    spark: SparkSession, path: str, max_file_bytes: int = MAX_WHOLE_FILE_BYTES
) -> DataFrame:
    """STANAG 4676 (NATO ISR track) XML ``TrackMessage`` files -> normalized
    track points, completing the reference's ingest-format set
    (``extensions/formats/stanag4676``, ``NATO4676Decoder.java``).

    Decoder semantics mirrored (behavior, not code): only ``TrackMessage``
    roots are read; each ``tracks`` element is one track event keyed by
    ``trackUUID``/``trackNumber``; ``items`` with ``xsi:type="TrackPoint"``
    — or with no xsi:type, which the reference also tries as a TrackPoint —
    contribute points in document order (``point_idx`` counts a track's
    points across all its events in one file); positions come from
    ``trackPointPosition`` (or ``motionEventPosition``); unparseable
    speed/course become null exactly as the decoder's NumberFormatException
    handlers do; ``trackItemTime`` fractions beyond milliseconds are
    truncated first (the decoder's ``(\\.\\d{3})\\d+Z`` regex).  Non-point
    item types (identity/classification/management/video/lineage/ESM/motion
    events) are skipped; points with no parseable lat/lon are dropped —
    they can't place a geometry, same as the GDELT reader's policy.

    Whole-file-per-row like the GPX reader: 4676 messages are per-sensor
    uploads; parsing runs executor-side in Arrow-batched ``mapInPandas``,
    so a million message files fan out across the cluster.
    """
    import pandas as pd

    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value").alias("xml")
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        import xml.etree.ElementTree as ET
        from datetime import datetime

        frac = re.compile(r"(\.\d{3})\d+(Z?)$")
        xsi_type = "{http://www.w3.org/2001/XMLSchema-instance}type"

        def localname(tag: str) -> str:
            return tag.rsplit("}", 1)[-1]

        def child_map(el) -> dict:
            return {localname(c.tag): c for c in el}

        def num(el) -> float | None:
            if el is None or el.text is None:
                return None
            try:
                return float(el.text.strip())
            except ValueError:
                return None  # Double.parseDouble -> NumberFormatException path

        def when(el):
            if el is None or el.text is None:
                return None
            s = frac.sub(r"\1\2", el.text.strip())
            for fmt in (
                "%Y-%m-%dT%H:%M:%S.%fZ",
                "%Y-%m-%dT%H:%M:%SZ",
                "%Y-%m-%dT%H:%M:%S.%f",
                "%Y-%m-%dT%H:%M:%S",
            ):
                try:
                    return datetime.strptime(s, fmt)
                except ValueError:
                    continue
            return None

        for pdf in batches:
            rows = []
            for fname, xml in zip(pdf["file"], pdf["xml"]):
                _guard_whole_file(fname, xml, max_file_bytes, "STANAG4676")
                root = ET.fromstring(xml)
                if localname(root.tag) != "TrackMessage":
                    continue  # the decoder only reads TrackMessage roots
                base = fname.rsplit("/", 1)[-1]
                next_idx: dict[str, int] = {}  # per track, across events
                for tev in (c for c in root if localname(c.tag) == "tracks"):
                    tc = child_map(tev)
                    uuid_el = tc.get("trackUUID")
                    num_el = tc.get("trackNumber")
                    status_el = tc.get("trackStatus")
                    track_uuid = uuid_el.text if uuid_el is not None else None
                    track_number = num_el.text if num_el is not None else None
                    track_id = track_uuid or track_number
                    if track_id is None:
                        continue
                    idx = next_idx.get(track_id, 0)
                    for item in (c for c in tev if localname(c.tag) == "items"):
                        itype = item.get(xsi_type)
                        if itype is not None and itype != "TrackPoint":
                            continue  # identity/classification/video/... items
                        ic = child_map(item)
                        pos = ic.get("trackPointPosition") or ic.get(
                            "motionEventPosition"
                        )
                        if pos is None:
                            continue  # untyped non-point item
                        pc = child_map(pos)
                        lat, lon = num(pc.get("latitude")), num(pc.get("longitude"))
                        if lat is None or lon is None:
                            continue  # no geometry to place
                        uu = ic.get("trackItemUUID")
                        pt = ic.get("trackPointType")
                        rows.append(
                            (
                                base,
                                track_id,
                                track_number,
                                status_el.text if status_el is not None else None,
                                idx,
                                uu.text if uu is not None else None,
                                when(ic.get("trackItemTime")),
                                lon,
                                lat,
                                num(pc.get("elevation")),
                                num(ic.get("trackPointSpeed")),
                                num(ic.get("trackPointCourse")),
                                pt.text if pt is not None else None,
                            )
                        )
                        idx += 1
                    next_idx[track_id] = idx
            yield pd.DataFrame(
                rows,
                columns=[
                    "source", "track_id", "track_number", "track_status",
                    "point_idx", "point_uuid", "ts", "lon", "lat",
                    "elevation", "speed", "course", "point_type",
                ],
            )

    return files.repartition(F.col("file")).mapInPandas(_parse, STANAG_SCHEMA)


def stanag_to_tracks(points: DataFrame) -> DataFrame:
    """Assemble 4676 track points back into the engine's track contract
    (fid, geom_wkt, start_ts, end_ts) so every ``track_*`` operator runs on
    4676 input unchanged.  One ``applyInPandas`` per track — the WKT uses
    Python ``repr`` formatting, the same convention the parquet fixtures and
    GeoJSON writer use, so a parquet-sourced twin reconstructs
    byte-identically.  Vertices follow (source file, ``point_idx``), so a
    track split across events or files has one order; a 1-point track
    repeats its vertex to stay a valid LINESTRING.  At scale this is one
    shuffle on track_id (the same grouping any per-track operator needs
    anyway)."""
    import pandas as pd

    def _build(key, pdf):
        pdf = pdf.sort_values(["source", "point_idx"], kind="stable")
        verts = [f"{float(x)!r} {float(y)!r}" for x, y in zip(pdf["lon"], pdf["lat"])]
        if len(verts) == 1:
            verts *= 2  # a linestring needs two vertices
        wkt = "LINESTRING (" + ", ".join(verts) + ")"
        return pd.DataFrame(
            {
                "fid": [key[0]],
                "geom_wkt": [wkt],
                "start_ts": [pdf["ts"].min()],
                "end_ts": [pdf["ts"].max()],
            }
        )

    return points.groupBy("track_id").applyInPandas(
        _build, "fid string, geom_wkt string, start_ts timestamp, end_ts timestamp"
    )
