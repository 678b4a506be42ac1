"""Single-band GeoTIFF codec: georeferencing tags -> placed raster grid.

Mirrors the georeferenced-raster ingest of the reference's
``extensions/formats/geotools-raster`` plugin (GeoTools reads the GeoTIFF
tags and hands ``RasterDataAdapter`` a coverage with a real envelope —
``RasterDataAdapter.java:391-516`` then selects the pyramid tier).  This
module de-stubs the *placement* step for the offline container: it parses
the three public GeoTIFF 1.1 georeferencing tags

- ModelPixelScaleTag   (33550, 3 DOUBLEs: sx, sy, sz)
- ModelTiepointTag     (33922, 6 DOUBLEs per tiepoint: i, j, k, x, y, z)
- ModelTransformationTag (34264, 16 DOUBLEs, row-major 4x4 affine)

plus GDAL's de-facto nodata tag (42113, ASCII), and returns the decoded
grid with its geographic envelope so a GeoTIFF lands on the tile pyramid
without hand-fed bounds.

Pixel payload profile: single-band signed 16-bit (the common DEM /
science-raster shape — carries the engine's 0..255 + nodata=-1 fixture
values exactly), strip-organized, none/PackBits/LZW/Deflate compression,
optional horizontal-differencing predictor (tag 317 = 2, applied per the
TIFF 6.0 spec to 16-bit *samples*, not bytes), either byte order.
Rotated ModelTransformation matrices raise (the tile pyramid is
axis-aligned; same refusal GeoTools' grid-to-CRS shear check performs).

Pure numpy + struct + zlib.  Malformed input raises ``ValueError``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# baseline tags (TIFF 6.0 §8)
_WIDTH, _LENGTH, _BITS, _COMPRESSION, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFFSETS, _SAMPLES, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PREDICTOR, _SAMPLE_FORMAT = 317, 339
# GeoTIFF 1.1 + GDAL tags
MODEL_PIXEL_SCALE = 33550
MODEL_TIEPOINT = 33922
MODEL_TRANSFORMATION = 34264
GEO_KEY_DIRECTORY = 34735
GDAL_NODATA = 42113
_INT_TAGS = (
    _WIDTH, _LENGTH, _BITS, _COMPRESSION, _STRIP_OFFSETS, _SAMPLES,
    _ROWS_PER_STRIP, _STRIP_COUNTS, _PREDICTOR, _SAMPLE_FORMAT, GDAL_NODATA,
)

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 12: 8}  # BYTE ASCII SHORT LONG RATIONAL DOUBLE
_TYPE_FMT = {1: "B", 2: "B", 3: "H", 4: "I", 12: "d"}


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first bit packing, ClearCode 256
    / EOI 257, and the spec's "early change" — the code width bumps when the
    decoder's table length reaches 511/1023/2047 (one entry earlier than
    the natural LZW rule; the libtiff-compatible convention)."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table: list[bytes] | None = None
    width = 9
    acc = bits = 0
    prev: bytes | None = None
    out = bytearray()
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            acc &= (1 << bits) - 1
            if code == CLEAR:
                table = list(base)
                width = 9
                prev = None
                continue
            if code == EOI:
                if len(out) < expected:
                    raise ValueError("TIFF LZW stream ended before strip filled")
                return bytes(out[:expected])
            if table is None:
                raise ValueError("TIFF LZW stream must start with ClearCode")
            if code < len(table):
                entry = table[code]
                if prev is not None:
                    table.append(prev + entry[:1])
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
                table.append(entry)
            else:
                raise ValueError(f"corrupt TIFF LZW stream (code {code})")
            out.extend(entry)
            prev = entry
            if len(table) in (511, 1023, 2047):
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("truncated TIFF LZW stream")


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW encoder.  The emitted code widths track a SIMULATED
    decoder (same early-change rule as :func:`_tiff_lzw_decode`), so
    alignment is correct by construction."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = bits = 0

    state = {"width": 9, "dec_len": 258, "first": True}

    def write(code: int) -> None:
        nonlocal acc, bits
        acc = (acc << state["width"]) | code
        bits += state["width"]
        while bits >= 8:
            out.append((acc >> (bits - 8)) & 0xFF)
            bits -= 8
        acc &= (1 << bits) - 1

    def emit(code: int) -> None:
        write(code)
        if state["first"]:
            state["first"] = False
        else:
            state["dec_len"] += 1
            if state["dec_len"] in (511, 1023, 2047):
                state["width"] += 1

    def reset_tables():
        state["width"] = 9
        state["dec_len"] = 258
        state["first"] = True
        return {bytes([i]): i for i in range(256)}, 258

    write(CLEAR)
    table, next_code = reset_tables()
    run = b""
    for b in data:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code >= 4094:  # leave room before the 12-bit ceiling
            emit(CLEAR)  # note: goes through emit so the sim stays aligned
            table, next_code = reset_tables()
            # CLEAR resets the simulated decoder immediately, not one-behind
        run = bytes([b])
    if run:
        emit(table[run])
    emit(EOI)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            out.extend(data[i : i + n + 1])
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            out.extend(data[i : i + 1] * (257 - n))
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("truncated PackBits strip")
    return bytes(out[:expected])


def _packbits_encode(row: bytes) -> bytes:
    """PackBits-encode one row (TIFF 6.0 §9 packs each row separately)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and row[j + 1] == row[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)
            out.append(row[i])
            i = j + 1
        else:
            # literal segment until the next >=3 run (2-runs inside literals
            # are cheaper left literal) or 128 bytes
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and row[k] == row[k + 1] == row[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out.extend(row[i:k])
            i = k
    return bytes(out)


def _read_entries(buf: bytes, order: str) -> dict[int, list]:
    """IFD walk over BYTE, ASCII, SHORT, LONG and DOUBLE entries — the
    georeferencing tags are DOUBLE arrays and GDAL_NODATA is ASCII; entries
    of any other type are skipped."""
    try:
        (ifd_off,) = struct.unpack_from(order + "I", buf, 4)
        (n,) = struct.unpack_from(order + "H", buf, ifd_off)
        tags: dict[int, list] = {}
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag, ttype, count = struct.unpack_from(order + "HHI", buf, off)
            if ttype not in _TYPE_FMT or count == 0:
                continue
            size = _TYPE_SIZE[ttype] * count
            if size <= 4:
                vpos = off + 8
            else:
                (vpos,) = struct.unpack_from(order + "I", buf, off + 8)
            if vpos + size > len(buf):
                raise ValueError(f"TIFF entry {tag} overruns the buffer")
            tags[tag] = list(
                struct.unpack_from(order + _TYPE_FMT[ttype] * count, buf, vpos)
            )
        return tags
    except struct.error as exc:
        raise ValueError(f"truncated TIFF header/IFD: {exc}") from None


def _bounds_from_tags(
    tags: dict[int, list], w: int, h: int
) -> tuple[float, float, float, float]:
    """Geographic envelope from the georeferencing tags (pixel-is-area,
    north-up).  ModelTransformation wins when present (GeoTIFF 1.1 §B.5:
    the two encodings are exclusive alternatives; GDAL writes one or the
    other) — require a shear-free matrix since the tile pyramid is
    axis-aligned."""
    if MODEL_TRANSFORMATION in tags:
        m = tags[MODEL_TRANSFORMATION]
        if len(m) != 16:
            raise ValueError("ModelTransformationTag must hold 16 doubles")
        if m[1] != 0.0 or m[4] != 0.0:
            raise ValueError(
                "rotated/sheared ModelTransformation is not supported: the "
                "tile pyramid is axis-aligned (orthorectify upstream)"
            )
        sx, sy = m[0], m[5]
        x0, y0 = m[3], m[7]
        if sx <= 0 or sy >= 0:
            raise ValueError("expected north-up transform (sx>0, sy<0)")
        return (x0, y0 + h * sy, x0 + w * sx, y0)
    if MODEL_TIEPOINT in tags and MODEL_PIXEL_SCALE in tags:
        tp = tags[MODEL_TIEPOINT]
        sc = tags[MODEL_PIXEL_SCALE]
        if len(tp) < 6 or len(sc) < 2:
            raise ValueError("short ModelTiepoint/ModelPixelScale tag")
        ti, tj, _tk, tx, ty, _tz = tp[:6]
        sx, sy = sc[0], sc[1]
        if sx <= 0 or sy <= 0:
            raise ValueError("ModelPixelScale must be positive")
        # raster (i, j) -> geo (x, y); rows count downward from the north edge
        minx = tx - ti * sx
        maxy = ty + tj * sy
        return (minx, maxy - h * sy, minx + w * sx, maxy)
    raise ValueError(
        "no georeferencing: need ModelTransformationTag or "
        "ModelTiepointTag + ModelPixelScaleTag"
    )


def _undiff16(rows: np.ndarray) -> np.ndarray:
    """Invert horizontal differencing on int16 samples (mod-2^16 cumsum)."""
    return (
        np.cumsum(rows.astype(np.uint16), axis=1, dtype=np.uint64)
        .astype(np.uint16)
        .astype(np.int16)
    )


def _diff16(rows: np.ndarray) -> np.ndarray:
    out = rows.astype(np.uint16).copy()
    out[:, 1:] = out[:, 1:] - out[:, :-1]
    return out.astype(np.int16)


def geotiff_decode(buf: bytes) -> tuple[np.ndarray, tuple[float, float, float, float], int | None]:
    """Decode a single-band int16 GeoTIFF.

    Returns ``(grid, (minx, miny, maxx, maxy), nodata)`` — ``grid`` is an
    ``(h, w) int32`` array in file order (row 0 = NORTH edge, per TIFF's
    top-down raster space), bounds are the geographic envelope derived
    from the georeferencing tags, ``nodata`` is GDAL_NODATA if present.
    """
    if buf[:4] == b"II*\x00":
        order = "<"
    elif buf[:4] == b"MM\x00*":
        order = ">"
    else:
        raise ValueError("not a TIFF (bad magic)")
    t = _read_entries(buf, order)
    required = {
        "ImageWidth": _WIDTH,
        "ImageLength": _LENGTH,
        "StripOffsets": _STRIP_OFFSETS,
        "StripByteCounts": _STRIP_COUNTS,
    }
    missing = [name for name, tag in required.items() if tag not in t]
    if missing:
        raise ValueError(f"missing required TIFF tag(s): {', '.join(missing)}")
    # sizes, offsets, codes and ASCII text: a DOUBLE-typed entry here is
    # corrupt, not a float to round
    not_int = [
        tag for tag in _INT_TAGS
        if tag in t and not all(isinstance(v, int) for v in t[tag])
    ]
    if not_int:
        raise ValueError(f"TIFF tag(s) {not_int} must hold integers")
    w, h = t[_WIDTH][0], t[_LENGTH][0]
    bits = t.get(_BITS, [1])
    samples = t.get(_SAMPLES, [1])[0]
    sfmt = t.get(_SAMPLE_FORMAT, [1])[0]
    if samples != 1 or bits != [16] or sfmt != 2:
        raise ValueError(
            f"geotiff_decode handles single-band signed 16-bit rasters; got "
            f"samples={samples} bits={bits} sample_format={sfmt}"
        )
    comp = t.get(_COMPRESSION, [1])[0]
    if comp not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported compression {comp} for geotiff profile")
    predictor = t.get(_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")

    rps = t.get(_ROWS_PER_STRIP, [h])[0]
    offsets = t[_STRIP_OFFSETS]
    counts = t[_STRIP_COUNTS]
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    rows_out: list[np.ndarray] = []
    for si, (so, sc) in enumerate(zip(offsets, counts)):
        nrows = min(rps, h - si * rps)
        if nrows <= 0:
            raise ValueError("more strips than image rows")
        expected = nrows * w * 2
        raw = buf[so : so + sc]
        if len(raw) < sc:
            raise ValueError("truncated strip")
        if comp == 1:
            data = raw[:expected]
            if len(data) < expected:
                raise ValueError("short uncompressed strip")
        elif comp == 5:
            data = _tiff_lzw_decode(raw, expected)
        elif comp == 8:
            try:
                data = zlib.decompress(raw)[:expected]
            except zlib.error as exc:
                raise ValueError(f"corrupt deflate strip: {exc}") from None
            if len(data) < expected:
                raise ValueError("short deflate strip")
        else:
            data = _packbits_decode(raw, expected)
        rows = np.frombuffer(data, dtype=order + "i2").reshape(nrows, w)
        if predictor == 2:
            rows = _undiff16(rows)
        rows_out.append(rows.astype(np.int16))
    grid = np.vstack(rows_out)
    if grid.shape != (h, w):
        raise ValueError("strip walk did not cover the image")

    nodata = None
    if GDAL_NODATA in t:
        txt = bytes(t[GDAL_NODATA]).split(b"\x00")[0].strip()
        if txt:
            try:
                nodata = int(float(txt))
            except (ValueError, OverflowError):
                raise ValueError(f"GDAL_NODATA {txt!r} is not an integer") from None
    return grid.astype(np.int32), _bounds_from_tags(t, w, h), nodata


def geotiff_bytes(
    grid: np.ndarray,
    bounds: tuple[float, float, float, float],
    *,
    compression: str = "none",
    predictor: bool = False,
    transform_tag: bool = False,
    nodata: int | None = -1,
    rows_per_strip: int = 16,
    byteorder: str = "<",
) -> bytes:
    """Encode an ``(h, w)`` int16 grid (row 0 = north edge) as a
    georeferenced single-band TIFF.  ``transform_tag`` writes the
    ModelTransformationTag encoding instead of Tiepoint+PixelScale (both
    are spec-valid; GDAL emits either).  Fixture/export path — pixels
    round-trip through :func:`geotiff_decode` bit-exactly.  The envelope is
    stored as ``(minx, maxy)`` plus the scales ``(maxx - minx) / w`` and
    ``(maxy - miny) / h``, and decode rebuilds ``maxx`` and ``miny`` from
    them, so bounds round-trip exactly only for dyadic scales (as in the
    fixtures); otherwise ``maxx`` or ``miny`` may differ by 1 ulp of the
    largest coordinate."""
    grid = np.ascontiguousarray(grid, dtype=np.int16)
    if grid.ndim != 2:
        raise ValueError("expected a single-band (h, w) grid")
    if compression not in ("none", "packbits", "lzw", "deflate"):
        raise ValueError(f"unknown compression {compression!r}")
    if predictor and compression not in ("lzw", "deflate"):
        raise ValueError("predictor applies to lzw/deflate strips only")
    if byteorder not in ("<", ">"):
        raise ValueError("byteorder must be '<' or '>'")
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}[compression]
    h, w = grid.shape
    minx, miny, maxx, maxy = (float(v) for v in bounds)
    if not (maxx > minx and maxy > miny):
        raise ValueError("empty envelope")
    sx = (maxx - minx) / w
    sy = (maxy - miny) / h

    strips: list[bytes] = []
    for y0 in range(0, h, rows_per_strip):
        rows = grid[y0 : y0 + rows_per_strip]
        if predictor:
            rows = _diff16(rows)
        rows = rows.astype(byteorder + "i2")
        chunk = rows.tobytes()
        if compression == "packbits":
            strips.append(b"".join(_packbits_encode(r.tobytes()) for r in rows))
        elif compression == "lzw":
            strips.append(_tiff_lzw_encode(chunk))
        elif compression == "deflate":
            strips.append(zlib.compress(chunk, 6))
        else:
            strips.append(chunk)
    n_strips = len(strips)

    # minimal GeoKeyDirectory: v1.1.0, GTModelType=2 (geographic 2D),
    # GTRasterType=1 (pixel-is-area) — what GDAL writes for EPSG:4326
    geokeys = [1, 1, 0, 2, 1024, 0, 1, 2, 1025, 0, 1, 1]
    nd_txt = b"" if nodata is None else (str(int(nodata)).encode() + b"\x00")

    entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, payload)

    def add(tag: int, ttype: int, values) -> None:
        fmt = _TYPE_FMT[ttype]
        if ttype == 2:
            payload = bytes(values)
            count = len(payload)
        else:
            count = len(values)
            payload = struct.pack(byteorder + fmt * count, *values)
        entries.append((tag, ttype, count, payload))

    add(_WIDTH, 4, [w])
    add(_LENGTH, 4, [h])
    add(_BITS, 3, [16])
    add(_COMPRESSION, 3, [comp_code])
    add(_PHOTO, 3, [1])  # BlackIsZero
    add(_STRIP_OFFSETS, 4, [0] * n_strips)  # patched below
    add(_SAMPLES, 3, [1])
    add(_ROWS_PER_STRIP, 4, [rows_per_strip])
    add(_STRIP_COUNTS, 4, [len(s) for s in strips])
    if predictor:
        add(_PREDICTOR, 3, [2])
    add(_SAMPLE_FORMAT, 3, [2])  # signed integer
    if transform_tag:
        add(
            MODEL_TRANSFORMATION,
            12,
            [sx, 0.0, 0.0, minx, 0.0, -sy, 0.0, maxy, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0],
        )
    else:
        add(MODEL_PIXEL_SCALE, 12, [sx, sy, 0.0])
        add(MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, minx, maxy, 0.0])
    add(GEO_KEY_DIRECTORY, 3, geokeys)
    if nd_txt:
        add(GDAL_NODATA, 2, nd_txt)
    entries.sort(key=lambda e: e[0])  # IFD entries must be tag-ascending

    n = len(entries)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4
    # lay out out-of-line payloads, then strips
    blobs: list[bytes] = []
    entry_bytes: list[bytes] = []
    strip_offsets_pos = None
    for tag, ttype, count, payload in entries:
        head = struct.pack(byteorder + "HHI", tag, ttype, count)
        if len(payload) <= 4:
            entry_bytes.append(head + payload.ljust(4, b"\x00"))
        else:
            if tag == _STRIP_OFFSETS:
                strip_offsets_pos = data_off
            entry_bytes.append(head + struct.pack(byteorder + "I", data_off))
            blobs.append(payload)
            data_off += len(payload)
    strip_start = data_off
    strip_offs: list[int] = []
    pos = strip_start
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)

    magic = b"II" if byteorder == "<" else b"MM"
    out = bytearray(struct.pack(byteorder + "2sHI", magic, 42, ifd_off))
    out += struct.pack(byteorder + "H", n) + b"".join(entry_bytes)
    out += struct.pack(byteorder + "I", 0)
    for b in blobs:
        out += b
    for s in strips:
        out += s
    # patch strip offsets (inline when a single strip, out-of-line otherwise)
    packed = struct.pack(byteorder + "I" * n_strips, *strip_offs)
    if strip_offsets_pos is not None:
        out[strip_offsets_pos : strip_offsets_pos + 4 * n_strips] = packed
    else:
        for i, eb in enumerate(entry_bytes):
            tag = struct.unpack_from(byteorder + "H", eb, 0)[0]
            if tag == _STRIP_OFFSETS:
                epos = ifd_off + 2 + 12 * i + 8
                out[epos : epos + 4] = packed
                break
    return bytes(out)
