"""Deterministic synthetic geo fixtures (FIXTURES.md schemas, seed=42).

Generates the engine's primary input table `docs` (interleaved text+media
documents per BASELINE.json input_hint) plus the flat feature layers
(`points` ~ hail.shp analog, `tracks` ~ tornado_tracks.shp analog, `zones`
polygon layer, `query_filters`) used by the correctness oracle — mirroring
the reference integration corpus (`GeoWaveBasicIT.java:75-93`).

Everything is derived from numpy RandomState(seed) with a fixed operation
order, so the DuckDB oracle and the Spark engine read byte-identical parquet.
Convex zones also emit a half-plane table so point-in-polygon is
SQL-oracleable without a spatial extension (a*x + b*y <= c per edge).

Exactness guarantees baked into the data (so order-insensitive value hashing
of query outputs is stable across engines):
- magnitude is an integer-valued double -> float sums are exact
- WKT coordinates are repr'd shortest-roundtrip doubles
- no point lies exactly on a polygon edge or bin boundary (random doubles)
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEO_DATA_ROOT = Path(
    os.environ.get("GEOWAVE_SPARK_DATA", Path(__file__).resolve().parents[1] / "data" / "geo")
)

_GENERATOR = Path(__file__)

SCALES = {
    "sf0.001": dict(docs=1_000, points=2_000, tracks=200, zones=24, seed=42),
    "sf0.01": dict(docs=10_000, points=20_000, tracks=2_000, zones=40, seed=42),
    "sf0.1": dict(docs=120_000, points=240_000, tracks=20_000, zones=64, seed=42),
    "sf1": dict(docs=1_200_000, points=2_400_000, tracks=200_000, zones=96, seed=42),
}

# 5 Gaussian hot-spot clusters (σ≈0.5°) to exercise skew/salting + ~1% near ±180
CLUSTERS = [(-73.98, 40.75), (2.35, 48.86), (139.69, 35.68), (-0.13, 51.51), (77.21, 28.61)]

TS_LO = np.datetime64("2012-01-01T00:00:00")
TS_HI = np.datetime64("2014-01-01T00:00:00")

_WORDS = (
    "storm hail wind track sensor doc span region node edge graph tile cell key "
    "index query join scan batch stream window merge sort hash spark curve order "
    "point line polygon raster vector layer zone grid map reduce shuffle salt"
).split()


def _fmt(v: float) -> str:
    return repr(float(v))


def _sample_lonlat(rng: np.random.RandomState, n: int) -> tuple[np.ndarray, np.ndarray]:
    kind = rng.uniform(size=n)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-90.0, 90.0, n)
    # 55% clustered (skew), 44% uniform, 1% near the ±180 meridian
    cl = kind < 0.55
    ncl = int(cl.sum())
    centers = rng.randint(0, len(CLUSTERS), ncl)
    cx = np.array([CLUSTERS[i][0] for i in centers])
    cy = np.array([CLUSTERS[i][1] for i in centers])
    lon[cl] = np.clip(cx + rng.normal(0, 0.5, ncl), -179.999, 179.999)
    lat[cl] = np.clip(cy + rng.normal(0, 0.5, ncl), -89.999, 89.999)
    dl = kind > 0.99
    ndl = int(dl.sum())
    side = rng.uniform(size=ndl) < 0.5
    lon[dl] = np.where(side, 180.0 - rng.uniform(0, 1.0, ndl), -180.0 + rng.uniform(0, 1.0, ndl))
    lat[dl] = rng.uniform(-60.0, 60.0, ndl)
    return lon, lat


def _rand_ts(rng: np.random.RandomState, n: int) -> np.ndarray:
    span_us = (TS_HI - TS_LO) / np.timedelta64(1, "us")
    offs = rng.uniform(0, float(span_us), n).astype("int64")
    return TS_LO + offs.astype("timedelta64[us]")


def _gen_points(rng, n):
    lon, lat = _sample_lonlat(rng, n)
    ts = _rand_ts(rng, n)
    magnitude = rng.randint(1, 101, n).astype(np.float64)  # integer-valued
    category = np.array(["cat%d" % c for c in rng.randint(0, 8, n)])
    fid = np.array(["pt_%08d" % i for i in range(n)])
    wkt = np.array([f"POINT ({_fmt(x)} {_fmt(y)})" for x, y in zip(lon, lat)])
    return pa.table(
        {
            "fid": fid,
            "lon": lon,
            "lat": lat,
            "geom_wkt": wkt,
            "event_ts": pa.array(ts),
            "magnitude": magnitude,
            "category": category,
        }
    )


def _gen_tracks(rng, n):
    lon0, lat0 = _sample_lonlat(rng, n)
    fids, wkts, st, en, lens = [], [], [], [], []
    ts0 = _rand_ts(rng, n)
    for i in range(n):
        nv = rng.randint(2, 21)
        span = rng.uniform(0.1, 5.0)
        xs = np.clip(lon0[i] + np.cumsum(rng.uniform(-1, 1, nv)) * span / nv, -180.0, 180.0)
        ys = np.clip(lat0[i] + np.cumsum(rng.uniform(-1, 1, nv)) * span / nv, -90.0, 90.0)
        wkts.append("LINESTRING (" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys)) + ")")
        fids.append("tr_%07d" % i)
        seg = np.hypot(np.diff(xs), np.diff(ys)).sum()
        lens.append(seg * 111.2)
        st.append(ts0[i])
        en.append(ts0[i] + np.timedelta64(int(rng.randint(600, 72 * 3600)), "s"))
    return pa.table(
        {
            "fid": np.array(fids),
            "geom_wkt": np.array(wkts),
            "start_ts": pa.array(np.array(st)),
            "end_ts": pa.array(np.array(en)),
            "length_km": np.array(lens, dtype=np.float64),
        }
    )


def _convex_ring(rng, cx, cy, rx, ry, nv) -> np.ndarray:
    """Convex polygon: points on an ellipse at sorted angles -> convex by
    construction when radii are equal per vertex (use one radius + jitter on
    the angle only)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    # enforce minimum angular gap to avoid near-degenerate edges
    xs = cx + rx * np.cos(ang)
    ys = cy + ry * np.sin(ang)
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]])  # close


def _concave_ring(rng, cx, cy, r, nv) -> np.ndarray:
    """Star-shaped (concave) polygon: alternating radii at sorted angles."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = np.where(np.arange(nv) % 2 == 0, r, r * rng.uniform(0.35, 0.6, nv))
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]])


def _ring_wkt(ring: np.ndarray) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")"


def _gen_zones(rng, n):
    zone_ids, wkts, zclass = [], [], []
    hp_zone, hp_a, hp_b, hp_c = [], [], [], []
    n_convex = (2 * n) // 3
    for i in range(n):
        zid = "zone_%04d" % i
        # centers biased toward clusters so joins have real selectivity + skew
        if rng.uniform() < 0.6:
            cx0, cy0 = CLUSTERS[rng.randint(0, len(CLUSTERS))]
            cx = cx0 + rng.uniform(-2, 2)
            cy = cy0 + rng.uniform(-2, 2)
        else:
            cx = rng.uniform(-160, 160)
            cy = rng.uniform(-70, 70)
        ext = rng.uniform(0.25, 5.0)
        if i == n - 1:
            # date-line crosser: two-part multipolygon
            w = rng.uniform(1.0, 3.0)
            h = rng.uniform(1.0, 3.0)
            y0 = rng.uniform(-50, 50)
            p1 = np.array(
                [[180.0 - w, y0], [180.0, y0], [180.0, y0 + h], [180.0 - w, y0 + h], [180.0 - w, y0]]
            )
            p2 = np.array(
                [[-180.0, y0], [-180.0 + w, y0], [-180.0 + w, y0 + h], [-180.0, y0 + h], [-180.0, y0]]
            )
            wkts.append("MULTIPOLYGON ((" + _ring_wkt(p1) + "), (" + _ring_wkt(p2) + "))")
            zone_ids.append(zid)
            zclass.append("dateline")
            continue
        if i < n_convex:
            ring = _convex_ring(rng, cx, cy, ext, ext * rng.uniform(0.5, 1.0), rng.randint(5, 12))
            ring[:, 0] = np.clip(ring[:, 0], -179.999, 179.999)
            ring[:, 1] = np.clip(ring[:, 1], -89.999, 89.999)
            # ensure CCW orientation (shoelace > 0)
            x, y = ring[:, 0], ring[:, 1]
            if (x[:-1] * y[1:] - x[1:] * y[:-1]).sum() < 0:
                ring = ring[::-1]
            # clipping can make it non-convex; accept only truly convex rings
            ex = np.diff(ring[:, 0])
            ey = np.diff(ring[:, 1])
            cross = ex[:-1] * ey[1:] - ey[:-1] * ex[1:]
            if (cross < 0).any():
                ring = _convex_ring(rng, np.clip(cx, -170, 170), np.clip(cy, -80, 80), 1.0, 1.0, 6)
                x, y = ring[:, 0], ring[:, 1]
                if (x[:-1] * y[1:] - x[1:] * y[:-1]).sum() < 0:
                    ring = ring[::-1]
            zclass.append("convex")
            for j in range(len(ring) - 1):
                p1x, p1y = ring[j]
                p2x, p2y = ring[j + 1]
                a = p2y - p1y
                b = -(p2x - p1x)
                hp_zone.append(zid)
                hp_a.append(a)
                hp_b.append(b)
                hp_c.append(a * p1x + b * p1y)
        else:
            ring = _concave_ring(rng, np.clip(cx, -170, 170), np.clip(cy, -80, 80), ext, rng.randint(8, 16))
            ring[:, 0] = np.clip(ring[:, 0], -179.999, 179.999)
            ring[:, 1] = np.clip(ring[:, 1], -89.999, 89.999)
            zclass.append("concave")
        zone_ids.append(zid)
        wkts.append("POLYGON (" + _ring_wkt(ring) + ")")
    zones = pa.table(
        {"zone_id": np.array(zone_ids), "geom_wkt": np.array(wkts), "zclass": np.array(zclass)}
    )
    halfplanes = pa.table(
        {
            "zone_id": np.array(hp_zone),
            "a": np.array(hp_a, dtype=np.float64),
            "b": np.array(hp_b, dtype=np.float64),
            "c": np.array(hp_c, dtype=np.float64),
        }
    )
    return zones, halfplanes


def _gen_docs(rng, n):
    """Interleaved text+media docs; every doc has >=1 geo span (~90% POINT)."""
    lon, lat = _sample_lonlat(rng, n)
    doc_ids, spans_col = [], []
    for i in range(n):
        doc_ids.append("doc_%012d" % i)
        n_spans = rng.randint(2, 9)
        geo_pos = rng.randint(0, n_spans)
        spans = []
        offset = 0
        for s in range(n_spans):
            offset += int(rng.randint(1, 50))
            if s == geo_pos:
                u = rng.uniform()
                if u < 0.9:
                    text = f"POINT ({_fmt(lon[i])} {_fmt(lat[i])})"
                elif u < 0.97:
                    nv = rng.randint(2, 6)
                    xs = np.clip(lon[i] + np.cumsum(rng.uniform(-0.5, 0.5, nv)), -180, 180)
                    ys = np.clip(lat[i] + np.cumsum(rng.uniform(-0.5, 0.5, nv)), -90, 90)
                    text = (
                        "LINESTRING ("
                        + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys))
                        + ")"
                    )
                else:
                    ring = _convex_ring(
                        rng,
                        float(np.clip(lon[i], -175, 175)),
                        float(np.clip(lat[i], -85, 85)),
                        rng.uniform(0.1, 1.0),
                        rng.uniform(0.1, 1.0),
                        6,
                    )
                    text = "POLYGON (" + _ring_wkt(ring) + ")"
                spans.append({"kind": "geo", "text": text, "media_ref": "", "offset": offset})
            elif rng.uniform() < 0.25:
                ref = "media://%016x" % rng.randint(0, 2**31)
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
            else:
                nw = rng.randint(3, 12)
                words = " ".join(_WORDS[w] for w in rng.randint(0, len(_WORDS), nw))
                spans.append({"kind": "text", "text": words, "media_ref": "", "offset": offset})
        spans_col.append(spans)
    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    return pa.table({"doc_id": np.array(doc_ids), "spans": pa.array(spans_col, type=span_type)})


def _gen_query_filters(rng):
    rows = [
        ("box", "POLYGON ((-75.0 39.5, -72.0 39.5, -72.0 42.5, -75.0 42.5, -75.0 39.5))", None, None, "OVERLAPS"),
        ("polygon", None, None, None, "OVERLAPS"),  # filled from a convex shape below
        (
            "box-temporal",
            "POLYGON ((-75.0 39.5, -72.0 39.5, -72.0 42.5, -75.0 42.5, -75.0 39.5))",
            np.datetime64("2012-06-01T00:00:00", "us"),
            np.datetime64("2013-01-01T00:00:00", "us"),
            "OVERLAPS",
        ),
        ("box-contains", "POLYGON ((-75.0 39.5, -71.0 39.5, -71.0 43.5, -75.0 43.5, -75.0 39.5))", None, None, "CONTAINS"),
        ("dateline-box", "POLYGON ((175.0 -20.0, 185.0 -20.0, 185.0 20.0, 175.0 20.0, 175.0 -20.0))", None, None, "OVERLAPS"),
    ]
    poly = _convex_ring(np.random.RandomState(4242), 2.0, 48.5, 2.5, 2.0, 7)
    x, y = poly[:, 0], poly[:, 1]
    if (x[:-1] * y[1:] - x[1:] * y[:-1]).sum() < 0:
        poly = poly[::-1]
    rows[1] = ("polygon", "POLYGON (" + _ring_wkt(poly) + ")", None, None, "OVERLAPS")
    return pa.table(
        {
            "name": [r[0] for r in rows],
            "geom_wkt": [r[1] for r in rows],
            "start_ts": pa.array([r[2] for r in rows], type=pa.timestamp("us")),
            "end_ts": pa.array([r[3] for r in rows], type=pa.timestamp("us")),
            "compare_op": [r[4] for r in rows],
        }
    )


COVERAGE_COUNTS = {"sf0.001": 8, "sf0.01": 12, "sf0.1": 24, "sf1": 48}
TILE_SIZE = 32
RASTER_NODATA = -1


def _gen_coverages(rng: np.random.RandomState, n: int) -> pa.Table:
    """Raster grid coverages (RasterDataAdapter input analog): integer pixel
    grids with a geographic envelope.  ~70% are aligned to the tier grid
    their resolution selects (one tile == one SFC cell, exercising the clean
    chop path); the rest get a sub-cell envelope jitter so nearest-neighbor
    resampling and partial-coverage nodata fill are exercised.  Anchored on
    shared hotspots so coverages overlap and the mosaic merge path is real.
    Pixels are small ints (exact in float64 sums); RASTER_NODATA sprinkled
    deterministically."""
    ids, minxs, minys, maxxs, maxys, ws, hs, pix = [], [], [], [], [], [], [], []
    for i in range(n):
        k = (5, 6, 7)[rng.randint(0, 3)]
        bins = 2**k
        cell = 360.0 / bins
        ax, ay = CLUSTERS[rng.randint(0, 3)]
        gx0 = int(np.floor((ax + 180.0) / 360.0 * bins)) + rng.randint(-1, 2)
        gy0 = int(np.floor((ay + 180.0) / 360.0 * bins)) + rng.randint(-1, 2)
        nx = rng.randint(1, 4)
        ny = rng.randint(1, 4)
        minx = -180.0 + gx0 * cell
        miny = -180.0 + gy0 * cell
        if rng.uniform() < 0.3:
            minx += rng.uniform(-0.3, 0.3) * cell
            miny += rng.uniform(-0.3, 0.3) * cell
        maxx = minx + nx * cell
        maxy = miny + ny * cell
        w, h = nx * TILE_SIZE, ny * TILE_SIZE
        v = (np.arange(w * h, dtype=np.int64) * 2654435761 + (i + 1) * 7919) % 256
        v = np.where(v % 7 == 0, RASTER_NODATA, v).astype(np.int32)
        ids.append("cov_%03d" % i)
        minxs.append(minx)
        minys.append(miny)
        maxxs.append(maxx)
        maxys.append(maxy)
        ws.append(w)
        hs.append(h)
        pix.append(v)
    return pa.table(
        {
            "coverage_id": ids,
            "minx": np.array(minxs),
            "miny": np.array(minys),
            "maxx": np.array(maxxs),
            "maxy": np.array(maxys),
            "width": np.array(ws, dtype=np.int32),
            "height": np.array(hs, dtype=np.int32),
            "pixels": pa.array([p.tolist() for p in pix], type=pa.list_(pa.int32())),
        }
    )


def _fingerprint(*inputs) -> str:
    """Hash of what a fixture is generated from: source files (``Path``)
    and parameter values.  ``_MANIFEST`` records one per fixture, and a
    fixture whose recorded fingerprint differs is regenerated, so an edit to
    a generator or to a codec it calls never leaves stale files behind."""
    h = hashlib.sha256()
    for x in inputs:
        h.update(x.read_bytes() if isinstance(x, Path) else repr(x).encode())
    return h.hexdigest()[:16]


def _manifest(out: Path) -> dict[str, str]:
    f = out / "_MANIFEST"
    lines = f.read_text().splitlines() if f.exists() else []
    return dict(line.split("=", 1) for line in lines if "=" in line)


def _stamp(out: Path, fixture: str, fp: str) -> None:
    entries = {**_manifest(out), fixture: fp}
    (out / "_MANIFEST").write_text("".join(f"{k}={v}\n" for k, v in entries.items()))


def ensure_coverages(sf: str, root: Path | None = None) -> Path:
    """Generate (once per generator fingerprint) the raster coverage fixture
    for a scale factor, from its own seed stream."""
    out = ensure_geo_tables(sf, root)
    n = COVERAGE_COUNTS.get(sf, 12)
    fp = _fingerprint(_GENERATOR, n)
    if _manifest(out).get("coverages") != fp:
        pq.write_table(_gen_coverages(np.random.RandomState(777), n), out / "coverages.parquet")
        _stamp(out, "coverages", fp)
    return out


def ensure_geotiffs(sf: str, root: Path | None = None) -> Path:
    """Generate (once per fingerprint of the coverages and the encoder) the
    GeoTIFF binary fixture: the SAME coverages as
    :func:`ensure_coverages`, each round-tripped through a real
    georeferenced single-band TIFF encoding (functions/geotiff.py) with a
    deterministic rotation of compression (none/PackBits/LZW/Deflate ±
    predictor), georeferencing encoding (Tiepoint+PixelScale vs
    ModelTransformation) and byte order — so the GeoTIFF ingest path can be
    pinned byte-identical against the parquet source."""
    from geowave_spark.functions import geotiff

    out = ensure_coverages(sf, root)
    fp = _fingerprint(_manifest(out)["coverages"], Path(geotiff.__file__))
    if _manifest(out).get("geotiffs") != fp:
        cov = pq.read_table(out / "coverages.parquet")
        rows = cov.to_pylist()
        comps = [
            ("none", False),
            ("packbits", False),
            ("lzw", False),
            ("deflate", False),
            ("lzw", True),
            ("deflate", True),
        ]
        ids, blobs = [], []
        for i, r in enumerate(rows):
            grid = (
                np.asarray(r["pixels"], dtype=np.int16)
                .reshape(r["height"], r["width"])[::-1]  # row 0: south -> north
            )
            comp, pred = comps[i % len(comps)]
            blobs.append(
                geotiff.geotiff_bytes(
                    grid,
                    (r["minx"], r["miny"], r["maxx"], r["maxy"]),
                    compression=comp,
                    predictor=pred,
                    transform_tag=(i % 3 == 0),
                    byteorder=">" if i % 5 == 0 else "<",
                    rows_per_strip=(8, 16, 64)[i % 3],
                )
            )
            ids.append(r["coverage_id"])
        pq.write_table(
            pa.table({"coverage_id": ids, "media": pa.array(blobs, pa.binary())}),
            out / "geotiffs.parquet",
        )
        _stamp(out, "geotiffs", fp)
    return out


def ensure_stanag4676(sf: str, root: Path | None = None) -> Path:
    """Generate (once) the STANAG 4676 XML fixture: the SAME tracks as
    tracks.parquet, each serialized as a NATO4676 ``TrackMessage`` with the
    element vocabulary the reference decoder reads (trackUUID/trackNumber/
    trackStatus, ``items`` with ``xsi:type="TrackPoint"`` carrying
    trackItemUUID/trackItemTime/trackPointPosition/speed/course) — so the
    4676 ingest path can be pinned byte-identical against the parquet twin.
    Coordinate text is copied verbatim from the WKT (repr round-trip is
    exact); per-point times interpolate start->end floored to whole
    milliseconds (the 4676 wire format carries .SSS).  Non-point ``items``
    (identity info), untyped items, and malformed numeric fields are
    sprinkled deterministically to exercise the decoder's skip/null paths.
    """
    out = ensure_geo_tables(sf, root)
    d = out / "stanag4676"
    fp = _manifest(out)["tables"]  # derived from tracks.parquet alone
    if _manifest(out).get("stanag4676") == fp:
        return out
    d.mkdir(parents=True, exist_ok=True)
    for f in d.iterdir():
        f.unlink()
    tracks = pq.read_table(out / "tracks.parquet").to_pylist()
    per_file = 20
    for fi in range(0, len(tracks), per_file):
        parts = [
            '<?xml version="1.0" encoding="UTF-8"?>',
            '<TrackMessage xmlns="urn:int:nato:stanag4676:0.14" '
            'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">',
            "  <stanagVersion>3.1</stanagVersion>",
            "  <msgCreatedTime>2014-01-01T00:00:00.000Z</msgCreatedTime>",
        ]
        for ti, tr in enumerate(tracks[fi : fi + per_file]):
            i = fi + ti
            coords = tr["geom_wkt"][len("LINESTRING (") : -1].split(", ")
            n = len(coords)
            t0 = np.datetime64(tr["start_ts"], "us").astype("int64")
            t1 = np.datetime64(tr["end_ts"], "us").astype("int64")
            parts.append("  <tracks>")
            parts.append(f"    <trackUUID>{tr['fid']}</trackUUID>")
            parts.append(f"    <trackNumber>TN-{i:07d}</trackNumber>")
            parts.append(
                f"    <trackStatus>{('INITIATING', 'MAINTAINING', 'DROPPING')[i % 3]}</trackStatus>"
            )
            if i % 11 == 0:  # non-point item: the decoder must skip it
                parts.append(
                    '    <items xsi:type="TrackIdentityInformation">'
                    "<identity>FRIEND</identity></items>"
                )
            for pi, c in enumerate(coords):
                x, y = c.split(" ")
                us = int(t0 + (t1 - t0) * pi // max(n - 1, 1))
                iso = str(np.datetime64(us // 1000, "ms")) + "Z"
                # every 7th track's mid items are untyped (decoder tries
                # them as TrackPoints); others carry the explicit xsi:type
                typed = not (i % 7 == 0 and 0 < pi < n - 1)
                parts.append(
                    '    <items xsi:type="TrackPoint">' if typed else "    <items>"
                )
                parts.append(f"      <trackItemUUID>{tr['fid']}#{pi}</trackItemUUID>")
                parts.append(f"      <trackItemTime>{iso}</trackItemTime>")
                parts.append("      <trackPointPosition>")
                parts.append(f"        <latitude>{y}</latitude>")
                parts.append(f"        <longitude>{x}</longitude>")
                if pi % 3 == 0:
                    parts.append(f"        <elevation>{float(100 + pi)!r}</elevation>")
                parts.append("      </trackPointPosition>")
                if pi % 2 == 0:
                    parts.append(f"      <trackPointSpeed>{float(pi) * 2.5!r}</trackPointSpeed>")
                if pi % 5 == 1:  # malformed number -> decoder nulls it
                    parts.append("      <trackPointCourse>not-a-number</trackPointCourse>")
                elif pi % 5 == 2:
                    parts.append(f"      <trackPointCourse>{float(pi % 360)!r}</trackPointCourse>")
                parts.append(
                    f"      <trackPointType>{'MANUAL ESTIMATED' if pi % 4 == 0 else 'AUTOMATIC MEASURED'}</trackPointType>"
                )
                parts.append("    </items>")
            parts.append("  </tracks>")
        parts.append("</TrackMessage>")
        (d / f"msg_{fi // per_file:05d}.xml").write_text("\n".join(parts))
    _stamp(out, "stanag4676", fp)
    return out


def ensure_geo_tables(sf: str, root: Path | None = None) -> Path:
    """Generate (once per generator fingerprint) and return the fixture dir
    for a scale factor."""
    root = Path(root) if root else GEO_DATA_ROOT
    out = root / sf
    cfg = SCALES[sf]
    fp = _fingerprint(_GENERATOR, cfg)
    if _manifest(out).get("tables") == fp:
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.RandomState(cfg["seed"])
    pq.write_table(_gen_points(rng, cfg["points"]), out / "points.parquet")
    pq.write_table(_gen_tracks(rng, cfg["tracks"]), out / "tracks.parquet")
    zones, halfplanes = _gen_zones(rng, cfg["zones"])
    pq.write_table(zones, out / "zones.parquet")
    pq.write_table(halfplanes, out / "zone_halfplanes.parquet")
    pq.write_table(_gen_docs(rng, cfg["docs"]), out / "docs.parquet")
    pq.write_table(_gen_query_filters(rng), out / "query_filters.parquet")
    # a fresh manifest: every fixture derived from these tables restamps
    (out / "_MANIFEST").write_text(f"tables={fp}\n")
    return out


def geo_dir_for(sf_dir: str) -> Path:
    """Map a driver sf dir (/root/testdata/sf0.01) to our geo fixture dir."""
    sf = Path(sf_dir).name
    return ensure_geo_tables(sf if sf in SCALES else "sf0.01")


if __name__ == "__main__":
    import sys

    for sf in sys.argv[1:] or ["sf0.001", "sf0.01"]:
        d = ensure_geo_tables(sf)
        print(sf, "->", d)
