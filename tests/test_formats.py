"""Format ingest readers vs the reference plugins' parse semantics
(extensions/formats/{gdelt,tdrive,geolife,gpx}) — synthesized fixture files,
exact row expectations, and the normalized contract feeding the indexer."""

import datetime

import pytest
from pyspark.sql import functions as F

from geowave_spark.sources.formats import (
    POINT_COLS,
    read_gdelt,
    read_geojson,
    read_geolife,
    read_gpx,
    read_tdrive,
)


def _gdelt_line(event_id, date, lat, lon, ncols=58, **kw):
    vals = [""] * ncols
    vals[0] = str(event_id)
    vals[1] = date
    vals[6] = kw.get("actor1", "ACTOR1")
    vals[16] = kw.get("actor2", "ACTOR2")
    vals[49] = "3"
    vals[51] = kw.get("country", "US")
    vals[31], vals[32], vals[33] = "4", "2", "7"
    vals[34] = "1.25"
    vals[53] = lat
    vals[54] = lon
    if ncols >= 58:
        vals[57] = kw.get("url", "http://example.com/a")
    return "\t".join(vals)


class TestGdelt:
    def test_parse_and_latlon_drop(self, spark, tmp_path):
        p = tmp_path / "events.tsv"
        p.write_text(
            "\n".join(
                [
                    _gdelt_line(1, "20210304", "39.9", "116.4"),
                    _gdelt_line(2, "20210305", "", ""),  # no geo -> dropped
                    _gdelt_line(3, "20210306", "-33.87", "151.21"),
                ]
            )
        )
        rows = {r.event_id: r for r in read_gdelt(spark, str(p)).collect()}
        assert set(rows) == {1, 3}
        r = rows[1]
        assert r.event_date == datetime.date(2021, 3, 4)
        assert (r.lat, r.lon) == (39.9, 116.4)
        assert (r.num_mentions, r.num_sources, r.num_articles) == (4, 2, 7)
        assert r.avg_tone == 1.25 and r.actor1 == "ACTOR1"
        assert r.source_url == "http://example.com/a"
        # normalized contract present
        for c in POINT_COLS:
            assert c in rows[1].asDict()

    def test_too_few_columns_raises(self, spark, tmp_path):
        p = tmp_path / "short.tsv"
        p.write_text("1\t20210304\tonly-three")
        with pytest.raises(ValueError, match="57"):
            read_gdelt(spark, str(p))


class TestTdrive:
    def test_parse_and_malformed_drop(self, spark, tmp_path):
        p = tmp_path / "taxi.txt"
        p.write_text(
            "\n".join(
                [
                    "368,2008-02-02 15:36:08,116.51172,39.92123",
                    "368,2008-02-02 15:46:08,116.51135,39.93883",
                    "garbage line without commas",
                    "42,2008-02-02 13:30:45,116.36422,39.88781",
                ]
            )
        )
        df = read_tdrive(spark, str(p))
        rows = df.orderBy("track_id", "point_idx").collect()
        assert [(r.track_id, r.point_idx) for r in rows] == [
            ("368", 0),
            ("368", 1),
            ("42", 0),
        ]
        assert rows[0].ts == datetime.datetime(2008, 2, 2, 15, 36, 8)
        assert rows[0].lon == 116.51172 and rows[0].lat == 39.92123
        assert df.columns[:7] == POINT_COLS


class TestGeolife:
    HEADER = (
        "Geolife trajectory\nWGS 84\nAltitude is in Feet\nReserved 3\n"
        "0,2,255,My Track,0,0,2,8421376\n0\n"
    )

    def test_header_skip_elevation_null_and_order(self, spark, tmp_path):
        p = tmp_path / "20081023025304.plt"
        p.write_text(
            self.HEADER
            + "39.984702,116.318417,0,492,39744.12,2008-10-23,02:53:04\n"
            + "39.984683,116.31845,0,-777,39744.12,2008-10-23,02:53:10\n"
        )
        rows = read_geolife(spark, str(p)).orderBy("point_idx").collect()
        assert len(rows) == 2  # 6 header lines skipped by the 7-field rule
        assert rows[0].track_id == "20081023025304"
        assert rows[0].lat == 39.984702 and rows[0].lon == 116.318417
        assert rows[0].elevation == 492.0
        assert rows[1].elevation is None  # -777 sentinel
        assert rows[0].ts == datetime.datetime(2008, 10, 23, 2, 53, 4)
        assert [r.point_idx for r in rows] == [0, 1]


GPX = """<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1" creator="t">
  <wpt lat="48.2082" lon="16.3738"><name>Wien</name><ele>171</ele></wpt>
  <trk><name>morning</name>
    <trkseg>
      <trkpt lat="47.0" lon="15.0"><ele>353.0</ele>
        <time>2021-06-01T06:00:00Z</time></trkpt>
      <trkpt lat="47.001" lon="15.002"><time>2021-06-01T06:00:30Z</time></trkpt>
    </trkseg>
    <trkseg>
      <trkpt lat="47.01" lon="15.01"/>
    </trkseg>
  </trk>
  <rte><name>r1</name>
    <rtept lat="46.5" lon="14.5"/>
  </rte>
</gpx>
"""


class TestGpx:
    def test_tracks_routes_waypoints(self, spark, tmp_path):
        p = tmp_path / "ride.gpx"
        p.write_text(GPX)
        df = read_gpx(spark, str(p))
        rows = df.orderBy("point_type", "point_idx").collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r.point_type, []).append(r)
        # trkpts keep in-file order across segments
        trk = by_type["trkpt"]
        assert [(r.point_idx, r.lat, r.lon) for r in trk] == [
            (0, 47.0, 15.0),
            (1, 47.001, 15.002),
            (2, 47.01, 15.01),
        ]
        assert trk[0].elevation == 353.0
        assert trk[0].ts == datetime.datetime(2021, 6, 1, 6, 0, 0)
        assert trk[1].elevation is None
        assert trk[0].track_name == "morning"
        assert by_type["rtept"][0].lat == 46.5
        wpt = by_type["wpt"][0]
        assert (wpt.lat, wpt.lon, wpt.elevation) == (48.2082, 16.3738, 171.0)

    def test_feeds_the_indexer_unchanged(self, spark, tmp_path):
        from geowave_spark.operators.indexing import with_point_cells

        p = tmp_path / "ride2.gpx"
        p.write_text(GPX)
        pts = read_gpx(spark, str(p))
        cells = with_point_cells(pts, lon_col="lon", lat_col="lat")
        rows = cells.select("cell").collect()
        assert len(rows) == pts.count() and all(r.cell is not None for r in rows)


class TestWholeFileSizeGuard:
    """A single whole-file payload above the bound must refuse with a clear
    error (one file = one Arrow row = one task on these paths), never an
    opaque executor OOM."""

    def test_gpx_oversized_refused(self, spark, tmp_path):
        p = tmp_path / "big.gpx"
        p.write_text(GPX)
        with pytest.raises(Exception, match="whole-file parse bound"):
            read_gpx(spark, str(p), max_file_bytes=64).collect()

    def test_geojson_wholefile_oversized_refused(self, spark, tmp_path):
        p = tmp_path / "big.geojson"
        p.write_text(
            '{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":null}'
        )
        with pytest.raises(Exception, match="whole-file parse bound"):
            read_geojson(spark, str(p), lines=False, max_file_bytes=16).collect()
        # ndjson mode splits by line and must NOT be subject to the guard
        assert read_geojson(spark, str(p), lines=True, max_file_bytes=16).count() == 1

    def test_shapefile_oversized_refused(self, spark, tmp_path):
        from geowave_spark.sources.shapefile import read_shapefile, shp_bytes

        (tmp_path / "pts.shp").write_bytes(shp_bytes([("point", (1.5, -2.25))]))
        with pytest.raises(Exception, match="whole-file parse bound"):
            read_shapefile(spark, str(tmp_path / "pts.*"), max_file_bytes=16).collect()


class TestGeoJson:
    def test_ndjson_roundtrip_all_types(self, spark, tmp_path):
        """Every GeoJSON geometry type the engine models round-trips into
        its WKT form (parse-equality, not string equality); multi-point/
        -linestring explode one row per part; properties pass through as
        canonical JSON."""
        import json

        from geowave_spark.geometry.wkt import parse_wkt
        from geowave_spark.sources.formats import read_geojson

        feats = [
            {"type": "Feature", "id": "pt", "properties": {"name": "a", "n": 1},
             "geometry": {"type": "Point", "coordinates": [10.5, -3.25]}},
            {"type": "Feature", "id": "mp", "properties": None,
             "geometry": {"type": "MultiPoint", "coordinates": [[1, 2], [3, 4]]}},
            {"type": "Feature", "id": "ls", "properties": {"z": True},
             "geometry": {"type": "LineString", "coordinates": [[0, 0], [1, 1], [2, 0]]}},
            {"type": "Feature", "id": "poly", "properties": {},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                                          [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]}},
            {"type": "Feature", "id": "mpoly", "properties": {"k": "v"},
             "geometry": {"type": "MultiPolygon",
                          "coordinates": [[[[0, 0], [1, 0], [1, 1], [0, 0]]],
                                          [[[5, 5], [6, 5], [6, 6], [5, 5]]]]}},
        ]
        p = tmp_path / "feats.geojsonl"
        p.write_text("\n".join(json.dumps(f) for f in feats) + "\n")
        rows = {r.feature_id: r for r in read_geojson(spark, str(p)).collect()}

        assert parse_wkt(rows["pt"].geom_wkt) == ("point", (10.5, -3.25))
        assert json.loads(rows["pt"].properties) == {"name": "a", "n": 1}
        assert rows["mp#0"].geom_type == "point" and rows["mp#1"].geom_type == "point"
        assert parse_wkt(rows["mp#1"].geom_wkt) == ("point", (3.0, 4.0))
        kind, data = parse_wkt(rows["ls"].geom_wkt)
        assert kind == "linestring" and [tuple(map(float, c)) for c in data] == [
            (0.0, 0.0), (1.0, 1.0), (2.0, 0.0)
        ]
        kind, rings = parse_wkt(rows["poly"].geom_wkt)
        assert kind == "polygon" and len(rings) == 2 and len(rings[0]) == 5
        kind, polys = parse_wkt(rows["mpoly"].geom_wkt)
        assert kind == "multipolygon" and len(polys) == 2

    def test_whole_file_featurecollection_and_bare_geometry(self, spark, tmp_path):
        import json

        from geowave_spark.sources.formats import read_geojson

        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"i": 0},
             "geometry": {"type": "Point", "coordinates": [1, 2]}},
            {"type": "Feature", "properties": {"i": 1},
             "geometry": {"type": "Point", "coordinates": [3, 4]}},
        ]}
        (tmp_path / "fc.geojson").write_text(json.dumps(fc))
        (tmp_path / "bare.geojson").write_text(
            json.dumps({"type": "Point", "coordinates": [9, 9]})
        )
        rows = read_geojson(spark, str(tmp_path / "*.geojson"), lines=False).collect()
        assert len(rows) == 3
        assert {r.feature_idx for r in rows if r.source == "fc.geojson"} == {0, 1}

    def test_geometrycollection_rejected(self, spark, tmp_path):
        import json

        from pyspark.errors.exceptions.captured import PythonException

        from geowave_spark.sources.formats import read_geojson

        (tmp_path / "gc.geojsonl").write_text(json.dumps({
            "type": "Feature", "properties": None,
            "geometry": {"type": "GeometryCollection", "geometries": []},
        }))
        with pytest.raises(PythonException, match="GeometryCollection"):
            read_geojson(spark, str(tmp_path / "gc.geojsonl")).collect()

    def test_geojson_zones_feed_pip_join_identically(self, spark, geo001, tmp_path):
        """The integration that matters: a zone layer ingested from GeoJSON
        produces byte-identical PIP join rows to the parquet zone layer."""
        import json

        from geowave_spark.geometry.wkt import parse_wkt
        from geowave_spark.operators.spatial_join import pip_join
        from geowave_spark.sources.formats import read_geojson

        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass") == "convex"
        )
        zrows = zones.select("zone_id", "geom_wkt").collect()
        lines = []
        for r in zrows:
            kind, rings = parse_wkt(r.geom_wkt)
            assert kind == "polygon"
            lines.append(json.dumps({
                "type": "Feature", "id": r.zone_id, "properties": {"zone_id": r.zone_id},
                "geometry": {"type": "Polygon",
                             "coordinates": [[[float(x), float(y)] for x, y in ring]
                                             for ring in rings]},
            }))
        p = tmp_path / "zones.geojsonl"
        p.write_text("\n".join(lines) + "\n")

        gj_zones = read_geojson(spark, str(p)).select(
            F.col("feature_id").alias("zone_id"), "geom_wkt"
        )
        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        cols = ["fid", "zone_id", "lon", "lat"]
        got = {tuple(r) for r in pip_join(pts, gj_zones).select(*cols).collect()}
        want = {tuple(r) for r in pip_join(pts, zones).select(*cols).collect()}
        assert got == want and got


class TestShapefile:
    def test_read_points_with_attributes(self, spark, tmp_path):
        from geowave_spark.sources.shapefile import dbf_bytes, read_shapefile, shp_bytes

        (tmp_path / "pts.shp").write_bytes(
            shp_bytes([("point", (1.5, -2.25)), ("point", (3.0, 4.0))])
        )
        (tmp_path / "pts.dbf").write_bytes(
            dbf_bytes(
                [{"name": "a", "pop": 10}, {"name": "b", "pop": 20}],
                [("name", "C", 8, 0), ("pop", "N", 10, 0)],
            )
        )
        import json

        rows = {r.record_no: r for r in read_shapefile(spark, str(tmp_path / "pts.*")).collect()}
        assert len(rows) == 2 and rows[1].geom_type == "point"
        assert json.loads(rows[2].attributes) == {"name": "b", "pop": 20}
        from geowave_spark.geometry.wkt import parse_wkt

        assert parse_wkt(rows[1].geom_wkt) == ("point", (1.5, -2.25))

    def test_polygon_hole_assignment_and_multipolygon(self, spark, tmp_path):
        """Two outer rings + one hole inside the SECOND outer: the ray-cast
        assignment must attach the hole to the right polygon."""
        import numpy as np

        from geowave_spark.geometry.wkt import parse_wkt
        from geowave_spark.sources.shapefile import read_shapefile, shp_bytes

        g = [("multipolygon", [
            [np.array([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)], float)],
            [np.array([(10, 10), (20, 10), (20, 20), (10, 20), (10, 10)], float),
             np.array([(12, 12), (14, 12), (14, 14), (12, 14), (12, 12)], float)],
        ])]
        (tmp_path / "z.shp").write_bytes(shp_bytes(g))
        rows = read_shapefile(spark, str(tmp_path / "z.*")).collect()
        assert len(rows) == 1 and rows[0].attributes is None
        kind, polys = parse_wkt(rows[0].geom_wkt)
        assert kind == "multipolygon"
        by_rings = sorted(polys, key=len)
        assert len(by_rings[0]) == 1 and len(by_rings[1]) == 2  # hole on poly 2
        hx = [p[0] for p in np.asarray(by_rings[1][1])]
        assert min(hx) >= 10  # the hole is the 10..20 polygon's

    def test_zm_shape_types_rejected(self, spark, tmp_path):
        import struct

        from pyspark.errors.exceptions.captured import PythonException

        from geowave_spark.sources.shapefile import read_shapefile, shp_bytes

        buf = bytearray(shp_bytes([("point", (1.0, 2.0))]))
        struct.pack_into("<i", buf, 32, 11)  # header shape type -> PointZ
        struct.pack_into("<i", buf, 108, 11)  # record shape type -> PointZ
        (tmp_path / "z.shp").write_bytes(bytes(buf))
        with pytest.raises(PythonException, match="unsupported shape type"):
            read_shapefile(spark, str(tmp_path / "z.*")).collect()

    def test_shapefile_zones_feed_pip_join_identically(self, spark, geo001, tmp_path):
        """Same integration pin as GeoJSON: a zone layer ingested from
        .shp/.dbf produces byte-identical PIP join rows to parquet zones."""
        import json

        from geowave_spark.geometry.wkt import parse_wkt
        from geowave_spark.operators.spatial_join import pip_join
        from geowave_spark.sources.shapefile import dbf_bytes, read_shapefile, shp_bytes

        zones = spark.read.parquet(str(geo001 / "zones.parquet")).filter(
            F.col("zclass") == "convex"
        )
        zrows = zones.select("zone_id", "geom_wkt").collect()
        geoms = [parse_wkt(r.geom_wkt) for r in zrows]
        (tmp_path / "zones.shp").write_bytes(shp_bytes(geoms))
        (tmp_path / "zones.dbf").write_bytes(
            dbf_bytes(
                [{"zone_id": r.zone_id} for r in zrows],
                [("zone_id", "C", 24, 0)],
            )
        )
        shp_zones = (
            read_shapefile(spark, str(tmp_path / "zones.*"))
            .select(
                F.get_json_object("attributes", "$.zone_id").alias("zone_id"),
                "geom_wkt",
            )
        )
        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        cols = ["fid", "zone_id", "lon", "lat"]
        got = {tuple(r) for r in pip_join(pts, shp_zones).select(*cols).collect()}
        want = {tuple(r) for r in pip_join(pts, zones).select(*cols).collect()}
        assert got == want and got


class TestReviewRegressions:
    """Pins for the round-3 post-review fixes (ingest-reader edge cases)."""

    def test_dbf_deleted_record_keeps_shape_alignment(self, spark, tmp_path):
        # .shp has no deletion concept, so a soft-deleted .dbf record must
        # become a null-attribute placeholder — compacting the list would
        # hand record 3 its deleted neighbour's attributes.
        import json
        import struct

        from geowave_spark.sources.shapefile import dbf_bytes, read_shapefile, shp_bytes

        (tmp_path / "d.shp").write_bytes(
            shp_bytes([("point", (0.0, 0.0)), ("point", (1.0, 1.0)), ("point", (2.0, 2.0))])
        )
        dbf = bytearray(
            dbf_bytes(
                [{"name": "a"}, {"name": "b"}, {"name": "c"}],
                [("name", "C", 8, 0)],
            )
        )
        _, header_size, rec_size = struct.unpack_from("<IHH", dbf, 4)
        dbf[header_size + rec_size] = ord("*")  # soft-delete record 2 ("b")
        (tmp_path / "d.dbf").write_bytes(bytes(dbf))

        rows = {r.record_no: r for r in read_shapefile(spark, str(tmp_path / "d.*")).collect()}
        assert json.loads(rows[1].attributes) == {"name": "a"}
        assert rows[2].attributes is None  # deleted -> null, not shifted
        assert json.loads(rows[3].attributes) == {"name": "c"}

    def test_gpx_offset_timestamps_normalize_to_utc(self, spark, tmp_path):
        xml = (
            '<?xml version="1.0"?><gpx version="1.1" creator="t"><trk><trkseg>'
            '<trkpt lat="1.0" lon="2.0"><time>2020-06-01T12:00:00+05:00</time></trkpt>'
            '<trkpt lat="1.1" lon="2.1"><time>2020-06-01T07:00:00Z</time></trkpt>'
            "</trkseg></trk></gpx>"
        )
        p = tmp_path / "tz.gpx"
        p.write_text(xml)
        rows = read_gpx(spark, str(p)).orderBy("point_idx").collect()
        # same instant recorded with different offsets -> same stored ts
        assert rows[0].ts == rows[1].ts == datetime.datetime(2020, 6, 1, 7, 0, 0)

    def test_geojson_null_geometry_feature_kept(self, spark, tmp_path):
        # RFC 7946 §3.2: unlocated Feature carries geometry: null
        from geowave_spark.sources.formats import read_geojson

        p = tmp_path / "n.geojson"
        p.write_text(
            '{"type":"Feature","id":"u1","geometry":null,"properties":{"a":1}}\n'
            '{"type":"Feature","id":"p1","geometry":{"type":"Point",'
            '"coordinates":[3.0,4.0]},"properties":null}\n'
        )
        rows = {r.feature_id: r for r in read_geojson(spark, str(p)).collect()}
        assert len(rows) == 2
        u = rows["u1"]
        assert u.geom_type is None and u.geom_wkt is None
        assert '"a": 1' in u.properties
        assert rows["p1"].geom_type == "point"

    def test_geolife_track_id_includes_user_dir(self, spark, tmp_path):
        # GeoLife layout Data/<user>/Trajectory/<start-ts>.plt: identical
        # start-ts file names across users must NOT merge into one track
        hdr = TestGeolife.HEADER
        line = "39.9847,116.3184,0,492,39744.12,2008-10-23,02:53:{s:02d}\n"
        for user in ("000", "017"):
            d = tmp_path / "Data" / user / "Trajectory"
            d.mkdir(parents=True)
            (d / "20081023025304.plt").write_text(
                hdr + line.format(s=4) + line.format(s=10)
            )
        df = read_geolife(spark, str(tmp_path / "Data/*/Trajectory/*.plt"))
        got = {(r.track_id, r.point_idx) for r in df.collect()}
        assert got == {
            ("000/20081023025304", 0),
            ("000/20081023025304", 1),
            ("017/20081023025304", 0),
            ("017/20081023025304", 1),
        }


class TestStanag4676:
    """STANAG 4676 TrackMessage ingest (read_stanag4676 / stanag_to_tracks),
    mirroring NATO4676Decoder semantics: TrackPoint items in document order,
    untyped items tried as TrackPoints, non-point item types skipped,
    NumberFormatException -> null for speed/course, sub-millisecond time
    fractions truncated, non-TrackMessage roots ignored."""

    XML = """<?xml version="1.0"?>
<TrackMessage xmlns="urn:int:nato:stanag4676:0.14"
              xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
  <msgCreatedTime>2020-01-01T00:00:00.000Z</msgCreatedTime>
  <tracks>
    <trackUUID>uuid-1</trackUUID>
    <trackNumber>TN-1</trackNumber>
    <trackStatus>MAINTAINING</trackStatus>
    <items xsi:type="TrackIdentityInformation"><identity>FRIEND</identity></items>
    <items xsi:type="TrackPoint">
      <trackItemUUID>p0</trackItemUUID>
      <trackItemTime>2020-06-01T10:00:00.123456789Z</trackItemTime>
      <trackPointPosition>
        <latitude>48.1</latitude><longitude>11.5</longitude><elevation>510.0</elevation>
      </trackPointPosition>
      <trackPointSpeed>12.5</trackPointSpeed>
      <trackPointCourse>not-a-number</trackPointCourse>
      <trackPointType>AUTOMATIC MEASURED</trackPointType>
    </items>
    <items>
      <trackItemUUID>p1</trackItemUUID>
      <trackItemTime>2020-06-01T10:00:05Z</trackItemTime>
      <trackPointPosition>
        <latitude>48.2</latitude><longitude>11.6</longitude>
      </trackPointPosition>
      <trackPointCourse>270.0</trackPointCourse>
    </items>
    <items xsi:type="TrackPoint">
      <trackItemUUID>bad</trackItemUUID>
      <trackPointPosition><latitude>oops</latitude><longitude>11.7</longitude></trackPointPosition>
    </items>
  </tracks>
  <tracks>
    <trackNumber>TN-2</trackNumber>
    <items xsi:type="TrackPoint">
      <trackItemTime>2020-06-01T11:00:00.500Z</trackItemTime>
      <motionEventPosition><latitude>-3.5</latitude><longitude>100.25</longitude></motionEventPosition>
    </items>
  </tracks>
</TrackMessage>"""

    def test_decoder_semantics(self, spark, tmp_path):
        from datetime import datetime

        from geowave_spark.sources.formats import read_stanag4676

        (tmp_path / "a.xml").write_text(self.XML)
        (tmp_path / "not4676.xml").write_text("<gpx><trk/></gpx>")
        rows = {
            (r["track_id"], r["point_idx"]): r
            for r in read_stanag4676(spark, str(tmp_path / "*.xml")).collect()
        }
        # identity item skipped, malformed-latitude point dropped: 2 points
        assert set(rows) == {("uuid-1", 0), ("uuid-1", 1), ("TN-2", 0)}
        p0 = rows[("uuid-1", 0)]
        assert (p0["lat"], p0["lon"], p0["elevation"]) == (48.1, 11.5, 510.0)
        assert p0["speed"] == 12.5 and p0["course"] is None  # NumberFormat -> null
        assert p0["ts"] == datetime(2020, 6, 1, 10, 0, 0, 123000)  # .123456789 -> .123
        assert p0["track_number"] == "TN-1" and p0["track_status"] == "MAINTAINING"
        assert p0["point_type"] == "AUTOMATIC MEASURED"
        p1 = rows[("uuid-1", 1)]  # untyped item parsed as a TrackPoint
        assert p1["ts"] == datetime(2020, 6, 1, 10, 0, 5)
        assert p1["course"] == 270.0 and p1["speed"] is None
        m = rows[("TN-2", 0)]  # trackUUID absent -> trackNumber keys the track
        assert (m["lat"], m["lon"]) == (-3.5, 100.25)
        assert m["ts"] == datetime(2020, 6, 1, 11, 0, 0, 500000)

    @staticmethod
    def _message(*events):
        """A TrackMessage with one ``tracks`` element per (track_id,
        [(lon, lat, iso_time), ...]) event."""
        body = []
        for tid, pts in events:
            body.append(f"  <tracks><trackUUID>{tid}</trackUUID>")
            for lon, lat, t in pts:
                body.append(
                    '    <items xsi:type="TrackPoint">'
                    f"<trackItemTime>{t}</trackItemTime><trackPointPosition>"
                    f"<latitude>{lat}</latitude><longitude>{lon}</longitude>"
                    "</trackPointPosition></items>"
                )
            body.append("  </tracks>")
        return (
            '<TrackMessage xmlns="urn:int:nato:stanag4676:0.14" '
            'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">\n'
            + "\n".join(body)
            + "\n</TrackMessage>"
        )

    def test_track_split_across_events_and_single_point_track(self, spark, tmp_path):
        """A track split over two events of one file and a later file keeps
        file-then-document vertex order; a 1-point track is still a valid
        LINESTRING (its vertex repeated)."""
        from datetime import datetime

        from geowave_spark.sources.formats import read_stanag4676, stanag_to_tracks

        (tmp_path / "a.xml").write_text(self._message(
            ("T1", [(1.0, 10.0, "2020-01-01T00:00:00Z"), (2.0, 20.0, "2020-01-01T00:00:01Z")]),
            ("S", [(9.5, -9.5, "2020-01-01T00:00:00Z")]),
            ("T1", [(3.0, 30.0, "2020-01-01T00:00:02Z"), (4.0, 40.0, "2020-01-01T00:00:03Z")]),
        ))
        (tmp_path / "b.xml").write_text(self._message(
            ("T1", [(5.0, 50.0, "2020-01-01T00:00:04Z")]),
        ))
        pts = read_stanag4676(spark, str(tmp_path / "*.xml"))
        got = {
            (r.source, r.point_idx): r.lon
            for r in pts.filter("track_id = 'T1'").collect()
        }
        assert got == {
            ("a.xml", 0): 1.0, ("a.xml", 1): 2.0, ("a.xml", 2): 3.0,
            ("a.xml", 3): 4.0, ("b.xml", 0): 5.0,
        }
        tracks = {r.fid: r for r in stanag_to_tracks(pts).collect()}
        assert tracks["T1"].geom_wkt == (
            "LINESTRING (1.0 10.0, 2.0 20.0, 3.0 30.0, 4.0 40.0, 5.0 50.0)"
        )
        assert (tracks["T1"].start_ts, tracks["T1"].end_ts) == (
            datetime(2020, 1, 1, 0, 0, 0), datetime(2020, 1, 1, 0, 0, 4)
        )
        assert tracks["S"].geom_wkt == "LINESTRING (9.5 -9.5, 9.5 -9.5)"

    def test_track_stats_byte_identical_to_parquet_twin(self, spark, geo001):
        """The 4676 fixture round-trips to the exact track_stats rows of the
        parquet source — every vertex, every quantized length term."""
        from geowave_spark.datagen import ensure_stanag4676
        from geowave_spark.operators.trajectory import track_stats
        from geowave_spark.queries import q_stanag_track_stats

        d = ensure_stanag4676("sf0.001")
        got = sorted(
            map(tuple, q_stanag_track_stats(spark, "/root/testdata/sf0.001").collect())
        )
        want = sorted(
            map(
                tuple,
                track_stats(
                    spark.read.parquet(str(d / "tracks.parquet"))
                ).collect(),
            )
        )
        assert got == want and len(got) == 200
