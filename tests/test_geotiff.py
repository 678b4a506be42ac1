"""GeoTIFF georeferencing codec + ingest (functions/geotiff.py,
sources/formats.read_geotiff_coverages).

Pins: bit-exact round-trips across the compression/predictor/byte-order/
geo-tag matrix; the GeoTIFF 1.1 placement math for both tag encodings;
honesty refusals (rotation, missing georeferencing, truncation as
ValueError); and — the contract that matters — Spark ingest of the GeoTIFF
fixture reproduces coverages.parquet byte-identically, so the whole raster
pipeline downstream is already oracle-covered.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geowave_spark.functions import geotiff as G


def _grid(h, w, seed=7):
    rng = np.random.RandomState(seed)
    return rng.randint(-1, 256, size=(h, w)).astype(np.int16)


@pytest.mark.parametrize(
    "comp,pred",
    [("none", False), ("packbits", False), ("lzw", False), ("deflate", False),
     ("lzw", True), ("deflate", True)],
)
@pytest.mark.parametrize("transform_tag", [False, True])
@pytest.mark.parametrize("byteorder", ["<", ">"])
def test_roundtrip_matrix(comp, pred, transform_tag, byteorder):
    g = _grid(37, 23)
    bounds = (-12.5, 3.25, -12.5 + 23 * 0.01, 3.25 + 37 * 0.01)
    buf = G.geotiff_bytes(
        g, bounds, compression=comp, predictor=pred,
        transform_tag=transform_tag, byteorder=byteorder, rows_per_strip=8,
    )
    g2, b2, nd = G.geotiff_decode(buf)
    assert np.array_equal(g2, g.astype(np.int32))
    assert b2 == pytest.approx(bounds, abs=1e-12)
    assert nd == -1


def test_single_strip_inline_offsets():
    g = _grid(4, 4)
    buf = G.geotiff_bytes(g, (0.0, 0.0, 1.0, 1.0), rows_per_strip=64)
    g2, b2, _ = G.geotiff_decode(buf)
    assert np.array_equal(g2, g.astype(np.int32))
    assert b2 == (0.0, 0.0, 1.0, 1.0)


def test_tag_encodings_agree():
    """Tiepoint+PixelScale and ModelTransformation place identically."""
    g = _grid(16, 8)
    bounds = (100.0, -40.0, 102.0, -36.0)
    _, b1, _ = G.geotiff_decode(G.geotiff_bytes(g, bounds, transform_tag=False))
    _, b2, _ = G.geotiff_decode(G.geotiff_bytes(g, bounds, transform_tag=True))
    assert b1 == b2 == bounds


def test_nonzero_tiepoint_placement():
    """A tiepoint anchored at an interior raster pixel still places the
    envelope correctly (geo = tie_xy offset by pixel distance x scale)."""
    tags = {
        G.MODEL_TIEPOINT: [2.0, 3.0, 0.0, 10.0, 50.0, 0.0],
        G.MODEL_PIXEL_SCALE: [0.5, 0.25, 0.0],
    }
    # raster (2,3) sits at geo (10,50): minx=10-2*0.5=9, maxy=50+3*0.25=50.75
    assert G._bounds_from_tags(tags, w=8, h=4) == (9.0, 49.75, 13.0, 50.75)


def _entry_pos(buf: bytes, tag: int) -> int:
    """Byte offset of ``tag``'s IFD entry in a little-endian file."""
    n = struct.unpack_from("<H", buf, 8)[0]
    return next(
        10 + 12 * i for i in range(n)
        if struct.unpack_from("<H", buf, 10 + 12 * i)[0] == tag
    )


def test_refusals():
    g = _grid(4, 4)
    buf = G.geotiff_bytes(g, (0.0, 0.0, 1.0, 1.0))
    with pytest.raises(ValueError, match="truncated|overruns"):
        G.geotiff_decode(buf[:20])
    with pytest.raises(ValueError, match="not a TIFF"):
        G.geotiff_decode(b"PNG\x00" + buf[4:])
    # the first IFD entry (at byte 10) is ImageWidth; an unknown field type
    # makes the reader skip it, so the tag is missing
    no_width = bytearray(buf)
    assert struct.unpack_from("<H", no_width, 10)[0] == 256
    struct.pack_into("<H", no_width, 12, 0)
    with pytest.raises(ValueError, match="missing required TIFF tag.*ImageWidth"):
        G.geotiff_decode(bytes(no_width))
    with pytest.raises(ValueError, match="rotated"):
        G._bounds_from_tags(
            {G.MODEL_TRANSFORMATION: [1, 0.5, 0, 0, 0, -1, 0, 4, 0, 0, 0, 0, 0, 0, 0, 1]},
            4, 4,
        )
    with pytest.raises(ValueError, match="no georeferencing"):
        G._bounds_from_tags({}, 4, 4)
    # SamplesPerPixel (277) = 3 declares an RGB raster
    rgb = bytearray(buf)
    struct.pack_into("<H", rgb, _entry_pos(buf, 277) + 8, 3)
    with pytest.raises(ValueError, match="single-band"):
        G.geotiff_decode(bytes(rgb))
    # GDAL_NODATA holds the ASCII text "inf"
    inf_nodata = bytearray(buf)
    pos = _entry_pos(buf, G.GDAL_NODATA) + 8
    inf_nodata[pos : pos + 3] = b"inf"
    with pytest.raises(ValueError, match="GDAL_NODATA"):
        G.geotiff_decode(bytes(inf_nodata))
    with pytest.raises(ValueError, match="empty envelope"):
        G.geotiff_bytes(g, (1.0, 0.0, 1.0, 1.0))


@pytest.mark.parametrize(
    "comp,pred",
    [("none", False), ("packbits", False), ("lzw", False), ("deflate", False),
     ("lzw", True), ("deflate", True)],
)
@pytest.mark.parametrize("transform_tag", [False, True])
@pytest.mark.parametrize("byteorder", ["<", ">"])
def test_corrupt_payloads_raise_valueerror(comp, pred, transform_tag, byteorder):
    """Every truncation, every bit flip in the header and IFD, and a seeded
    sample of bit flips in the strips either decodes or raises ValueError."""
    buf = G.geotiff_bytes(
        _grid(10, 7), (1.0, 2.0, 8.0, 12.0), compression=comp, predictor=pred,
        transform_tag=transform_tag, byteorder=byteorder, rows_per_strip=4,
    )
    n_entries = struct.unpack_from(byteorder + "H", buf, 8)[0]
    ifd_end = 8 + 2 + 12 * n_entries + 4
    rng = np.random.RandomState(17)
    flips = [(pos, bit) for pos in range(ifd_end) for bit in range(8)]
    flips += [
        (int(pos), int(bit))
        for pos, bit in zip(rng.randint(ifd_end, len(buf), 400), rng.randint(0, 8, 400))
    ]
    mutants = [buf[:k] for k in range(len(buf))]
    for pos, bit in flips:
        m = bytearray(buf)
        m[pos] ^= 1 << bit
        mutants.append(bytes(m))
    for m in mutants:
        try:
            G.geotiff_decode(m)
        except ValueError:
            pass


def test_nodata_tag_optional():
    g = _grid(4, 4)
    buf = G.geotiff_bytes(g, (0.0, 0.0, 1.0, 1.0), nodata=None)
    _, _, nd = G.geotiff_decode(buf)
    assert nd is None


def test_predictor_wraps_mod_2_16():
    """Horizontal differencing on int16 is mod-2^16; extremes survive."""
    g = np.array([[-32768, 32767, -1, 0, 255]], dtype=np.int16)
    for comp in ("lzw", "deflate"):
        buf = G.geotiff_bytes(g, (0.0, 0.0, 5.0, 1.0), compression=comp, predictor=True)
        g2, _, _ = G.geotiff_decode(buf)
        assert np.array_equal(g2, g.astype(np.int32))


def test_lzw_dictionary_reset_roundtrip():
    """A 14,400-byte random strip needs more than 4,094 LZW codes, so the
    ClearCode reset and the 10/11/12-bit early-change boundaries all fire."""
    g = np.random.RandomState(3).randint(-32768, 32768, (80, 90)).astype(np.int16)
    buf = G.geotiff_bytes(g, (0.0, 0.0, 1.0, 1.0), compression="lzw", rows_per_strip=80)
    g2, _, _ = G.geotiff_decode(buf)
    assert np.array_equal(g2, g.astype(np.int32))


def test_packbits_compresses_runs():
    flat = np.full((16, 32), 257, np.int16)  # both bytes 0x01: one run per row
    plain = G.geotiff_bytes(flat, (0.0, 0.0, 1.0, 1.0))
    packed = G.geotiff_bytes(flat, (0.0, 0.0, 1.0, 1.0), compression="packbits")
    assert len(packed) < len(plain) / 3
    assert np.array_equal(G.geotiff_decode(packed)[0], flat.astype(np.int32))


def test_compression_actually_compresses():
    smooth = np.round(
        128 + 60 * np.sin(np.arange(64) / 5.0)[None, :] + np.zeros((48, 64))
    ).astype(np.int16)
    bounds = (0.0, 0.0, 1.0, 1.0)
    plain = len(G.geotiff_bytes(smooth, bounds))
    for comp in ("lzw", "deflate"):
        assert len(G.geotiff_bytes(smooth, bounds, compression=comp, predictor=True)) < plain


def _packbits_rows(strip: bytes, row_len: int) -> list[bytes]:
    """Decode a PackBits strip one row at a time; fails if a run or a
    literal crosses a row end."""
    rows, out, i = [], bytearray(), 0
    while i < len(strip):
        n = strip[i]
        if n < 128:
            out += strip[i + 1 : i + n + 2]
            i += n + 2
        elif n > 128:
            out += strip[i + 1 : i + 2] * (257 - n)
            i += 2
        else:
            i += 1
        assert len(out) <= row_len, f"row {len(rows)}: a run crosses the row end"
        if len(out) == row_len:
            rows.append(bytes(out))
            out = bytearray()
    assert not out, "strip ends inside a row"
    return rows


def test_packbits_packs_each_row_separately():
    """TIFF 6.0 §9: each row is packed separately, so every row of a
    multi-row strip decodes alone to exactly its own bytes."""
    g = np.zeros((6, 5), np.int16)
    g[2] = _grid(1, 5)[0]
    g[4, :3] = 7
    buf = G.geotiff_bytes(g, (0.0, 0.0, 1.0, 1.0), compression="packbits", rows_per_strip=6)
    tags = G._read_entries(buf, "<")
    (off,), (count,) = tags[G._STRIP_OFFSETS], tags[G._STRIP_COUNTS]
    rows = _packbits_rows(buf[off : off + count], row_len=5 * 2)
    assert rows == [r.tobytes() for r in g.astype("<i2")]


def test_ingest_reproduces_parquet_coverages(spark):
    """The Spark GeoTIFF ingest emits coverage rows byte-identical to the
    parquet source it was encoded from — every field, every pixel."""
    from geowave_spark.datagen import ensure_geotiffs
    from geowave_spark.sources.formats import read_geotiff_coverages

    d = ensure_geotiffs("sf0.001")
    src = {
        r["coverage_id"]: r
        for r in spark.read.parquet(str(d / "coverages.parquet")).collect()
    }
    got = read_geotiff_coverages(
        spark.read.parquet(str(d / "geotiffs.parquet"))
    ).collect()
    assert len(got) == len(src)
    for r in got:
        s = src[r["coverage_id"]]
        assert (r["width"], r["height"]) == (s["width"], s["height"])
        for f in ("minx", "miny", "maxx", "maxy"):
            assert r[f] == s[f], (r["coverage_id"], f)
        assert r["pixels"] == s["pixels"], r["coverage_id"]


def test_geotiff_tiles_match_parquet_tiles(spark):
    """End-to-end: the tile pyramid built from GeoTIFF binaries equals the
    one built from the parquet coverages (same tiers, cells, checksums)."""
    from geowave_spark.queries import q_geotiff_ingest_tiles, q_raster_tiling

    a = sorted(map(tuple, q_raster_tiling(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, q_geotiff_ingest_tiles(spark, "/root/testdata/sf0.001").collect()))
    assert a == b and len(a) > 0
