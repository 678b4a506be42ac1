"""Dependency-free baseline TIFF codec (pure numpy + struct).

De-stubs the TIFF branch of
:func:`geowave_spark.functions.imagecodec.decode_image` for the baseline
profile (TIFF 6.0 spec, part 1): uncompressed or PackBits-compressed,
8-bit grayscale (both polarities), palette-color (ColorMap), or
RGB/RGBA, strip-organized, either byte order (II/MM).  That covers
scanner/GIS-style output; LZW/JPEG-in-TIFF, tiled organization,
planar-separate, and separated/YCbCr photometrics raise with the
integration point named — the same honesty contract as the other
codecs — and malformed/truncated payloads raise ValueError, never a
bare struct.error.

The encoder writes single-IFD little-endian RGB strips (optionally
PackBits) for fixtures and export; round-trips are bit-exact.
"""

from __future__ import annotations

import struct

import numpy as np

from geowave_spark.functions.geotiff import (
    _packbits_decode,
    _packbits_encode,
    _tiff_lzw_decode,
    _tiff_lzw_encode,
)

# tag ids (TIFF 6.0 §8)
_WIDTH, _LENGTH, _BITS, _COMPRESSION, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFFSETS, _SAMPLES, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PLANAR, _PREDICTOR, _COLORMAP = 284, 317, 320
_FILL_ORDER, _T4_OPTIONS, _T6_OPTIONS = 266, 292, 293
_TILE_TAGS = (322, 323, 324, 325)  # TileWidth/Length/Offsets/ByteCounts
_JPEG_TABLES = 347


def _undiff(px: np.ndarray) -> np.ndarray:
    """Predictor 2 (horizontal differencing): cumulative sum along each row
    per sample, modulo 256."""
    return np.cumsum(px.astype(np.uint64), axis=1).astype(np.uint8)


def _diff(px: np.ndarray) -> np.ndarray:
    d = px.astype(np.int64)
    d[:, 1:] = d[:, 1:] - d[:, :-1]
    return (d % 256).astype(np.uint8)

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def _read_entries(buf: bytes, order: str) -> dict[int, list[int]]:
    (ifd_off,) = struct.unpack_from(order + "I", buf, 4)
    (n,) = struct.unpack_from(order + "H", buf, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag, ttype, count = struct.unpack_from(order + "HHI", buf, off)
        if ttype not in _TYPE_SIZE or count == 0:
            continue  # unknown field type / empty entry: skip per spec
        size = _TYPE_SIZE[ttype] * count
        if size > len(buf):
            # a valid entry's payload fits in the file; a corrupt count
            # would otherwise build a giant format string below
            raise ValueError(f"TIFF entry {tag} overruns the buffer")
        if size <= 4:
            vpos = off + 8
        else:
            (vpos,) = struct.unpack_from(order + "I", buf, off + 8)
        fmt = {1: "B", 3: "H", 4: "I"}.get(ttype)
        if fmt is None:
            continue  # ASCII/RATIONAL tags are irrelevant here
        tags[tag] = list(struct.unpack_from(order + fmt * count, buf, vpos))
    return tags


def tiff_decode(buf: bytes) -> np.ndarray:
    """Decode a baseline TIFF into an (h, w, 3) uint8 RGB array."""
    if buf[:4] == b"II*\x00":
        order = "<"
    elif buf[:4] == b"MM\x00*":
        order = ">"
    else:
        raise ValueError("not a TIFF payload")
    try:
        t = _read_entries(buf, order)
    except (struct.error, IndexError) as e:
        # malformed offsets/counts in real-world corrupt files must surface
        # as the same ValueError contract every other codec keeps
        raise ValueError(f"truncated TIFF: {e}") from None
    if any(tag in t for tag in _TILE_TAGS):
        raise ValueError(
            "tiled TIFF not supported (baseline strip organization only; "
            "plug PIL into imagecodec.decode_image for tiled files)"
        )
    try:
        w, h = t[_WIDTH][0], t[_LENGTH][0]
        offsets, counts = t[_STRIP_OFFSETS], t[_STRIP_COUNTS]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}") from None
    spp = t.get(_SAMPLES, [1])[0]
    bits = t.get(_BITS, [8])
    comp = t.get(_COMPRESSION, [1])[0]
    planar = t.get(_PLANAR, [1])[0]
    photo = t.get(_PHOTO, [1 if spp == 1 else 2])[0]
    if list(bits) == [1] and spp == 1 and planar == 1 and photo in (0, 1):
        # bilevel: uncompressed packed bits, CCITT MH (2) or G4 (4) strips
        return _decode_bilevel(buf, t, w, h, comp, photo, offsets, counts)
    if any(b != 8 for b in bits) or spp not in (1, 3, 4) or planar != 1:
        raise ValueError(
            f"unsupported TIFF: bits={bits} samples={spp} planar={planar} "
            "(baseline 8-bit chunky grey/RGB/RGBA + 1-bit bilevel only; "
            "plug PIL in imagecodec.decode_image for the rest)"
        )
    if photo not in (0, 1, 2, 3, 6):
        # 5=separated (CMYK), ...: decoding these as RGB would be silent
        # garbage, not a lossy approximation (6=YCbCr allowed only for
        # JPEG strips, checked below)
        raise ValueError(
            f"unsupported TIFF photometric {photo} (MinIsWhite/MinIsBlack/"
            "RGB/palette/JPEG-YCbCr only; plug PIL into imagecodec.decode_image)"
        )
    if photo == 6 and comp != 7:
        # YCbCr is only supported as new-style JPEG strips, where the JPEG
        # decoder performs the color transform itself
        raise ValueError(
            "unsupported TIFF photometric 6 without JPEG compression "
            "(plug PIL into imagecodec.decode_image)"
        )
    if (photo in (0, 1, 3)) and spp >= 3 or photo == 2 and spp == 1 or (
        photo == 3 and spp != 1
    ):
        raise ValueError(
            f"inconsistent TIFF photometric {photo} for samples={spp}"
        )
    if comp not in (1, 5, 7, 8, 32773, 32946):
        raise ValueError(
            f"unsupported TIFF compression {comp} (1=none, 5=LZW, 7=JPEG, "
            "8/32946=Deflate, 32773=PackBits; 2/4=CCITT supported for 1-bit "
            "bilevel only; old-JPEG needs a library)"
        )
    predictor = t.get(_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rows_per_strip = t.get(_ROWS_PER_STRIP, [h])[0] or h
    stride = w * spp

    if comp == 7:  # new-style JPEG: each strip is a full JPEG stream
        if _JPEG_TABLES in t:
            raise ValueError(
                "abbreviated JPEG-in-TIFF (JPEGTables tag) not supported — "
                "full per-strip streams only"
            )
        from geowave_spark.functions.jpegcodec import jpeg_decode

        parts = []
        for off, cnt in zip(offsets, counts):
            strip = bytes(buf[off : off + cnt])
            if len(strip) != cnt:
                raise ValueError("truncated TIFF strip")
            parts.append(jpeg_decode(strip))  # (rows, w, 3) RGB
        stacked = np.concatenate(parts, axis=0)
        if stacked.shape[0] < h or stacked.shape[1] != w:
            raise ValueError("JPEG strips do not assemble to the stated size")
        return np.ascontiguousarray(stacked[:h, :w])

    import zlib

    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = bytes(buf[off : off + cnt])
        if len(strip) != cnt:
            raise ValueError("truncated TIFF strip")
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        if comp == 32773:
            strip = _packbits_decode(strip, n_rows * stride)
        elif comp == 5:
            strip = _tiff_lzw_decode(strip, n_rows * stride)
        elif comp in (8, 32946):
            try:
                strip = zlib.decompress(strip)
            except zlib.error as e:
                raise ValueError(f"corrupt TIFF Deflate strip: {e}") from None
        if predictor == 2:
            if len(strip) < n_rows * stride:
                raise ValueError("TIFF strip data smaller than its rows")
            rows = np.frombuffer(strip, np.uint8, n_rows * stride).reshape(
                n_rows, w, spp
            )
            strip = _undiff(rows).tobytes()
        raw.extend(strip)
    if len(raw) < h * stride:
        raise ValueError("TIFF strip data smaller than image")
    px = np.frombuffer(bytes(raw[: h * stride]), dtype=np.uint8).reshape(h, w, spp)
    if spp == 1:
        if photo == 3:  # palette-color: indices through the ColorMap
            cmap = t.get(_COLORMAP)
            if cmap is None or len(cmap) != 3 * 256:
                raise ValueError("palette TIFF missing or short ColorMap")
            # ColorMap is 16-bit reds, then greens, then blues; 8-bit
            # writers expand with v*257, so >>8 recovers the byte exactly
            pal = (np.array(cmap, dtype=np.uint16).reshape(3, 256).T >> 8).astype(
                np.uint8
            )
            return np.ascontiguousarray(pal[px[:, :, 0]])
        if photo == 0:  # WhiteIsZero: invert to the usual polarity
            px = 255 - px
        return np.ascontiguousarray(np.repeat(px, 3, axis=2))
    return np.ascontiguousarray(px[:, :, :3])  # alpha dropped, like PNG


def _decode_bilevel(buf, t, w, h, comp, photo, offsets, counts) -> np.ndarray:
    """1-bit strips -> (h, w, 3) RGB.  Compressions: 1 (packed bits, each
    row byte-aligned), 2 (CCITT MH) and 4 (CCITT G4) via ``ccittcodec``;
    3 (G3 with EOLs) is refused — real writers emit 2 or 4 for TIFF."""
    from geowave_spark.functions.ccittcodec import g4_decode, mh_decode

    if comp not in (1, 2, 4):
        raise ValueError(
            f"unsupported bilevel TIFF compression {comp} "
            "(1=none, 2=CCITT MH, 4=CCITT G4; 3=G3-with-EOLs not emitted "
            "by TIFF writers in practice)"
        )
    if t.get(_T6_OPTIONS, [0])[0] & 2:
        raise ValueError("CCITT G4 uncompressed mode (T6Options bit 1) not supported")
    if t.get(_T4_OPTIONS, [0])[0]:
        raise ValueError("CCITT T4Options flags not supported for compression 2")
    fill = t.get(_FILL_ORDER, [1])[0]
    rows_per_strip = t.get(_ROWS_PER_STRIP, [h])[0] or h
    rows = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = bytes(buf[off : off + cnt])
        if len(strip) != cnt:
            raise ValueError("truncated TIFF strip")
        if fill == 2:  # LSB-first fill order: reverse bits in every byte
            arr = np.frombuffer(strip, np.uint8)
            strip = np.packbits(
                np.unpackbits(arr).reshape(-1, 8)[:, ::-1]
            ).tobytes()
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        if comp == 2:
            bitsy = mh_decode(strip, w, n_rows)
        elif comp == 4:
            bitsy = g4_decode(strip, w, n_rows)
        else:  # packed raw bits, each row padded to a byte boundary
            stride = (w + 7) // 8
            if len(strip) < n_rows * stride:
                raise ValueError("bilevel TIFF strip smaller than its rows")
            arr = np.frombuffer(strip, np.uint8, n_rows * stride).reshape(n_rows, stride)
            bitsy = np.unpackbits(arr, axis=1)[:, :w].astype(bool)
        rows.append(bitsy)
    img = np.concatenate(rows, axis=0)
    if img.shape[0] < h:
        raise ValueError("bilevel TIFF strips do not assemble to the stated size")
    img = img[:h]
    # sample 1 = code-black; photometric 0 (WhiteIsZero) -> black is dark
    lum = np.where(img, 0, 255) if photo == 0 else np.where(img, 255, 0)
    return np.ascontiguousarray(np.repeat(lum.astype(np.uint8)[:, :, None], 3, axis=2))


def tiff_bilevel_bytes(
    img: np.ndarray, compression: str = "ccitt_g4", rows_per_strip: int = 16
) -> bytes:
    """Encode a bilevel image as a 1-bit TIFF (photometric 0 = WhiteIsZero,
    the fax convention).  ``img``: (h, w) bool / 0-1 array, True/1 = black
    ink.  ``compression``: ``"ccitt_g4"`` (4), ``"ccitt_mh"`` (2), or
    ``"none"`` (packed bits)."""
    from geowave_spark.functions.ccittcodec import g4_encode, mh_encode

    codes = {"none": 1, "ccitt_mh": 2, "ccitt_g4": 4}
    if compression not in codes:
        raise ValueError(f"unknown bilevel TIFF compression {compression!r}")
    img = np.asarray(img).astype(bool)
    if img.ndim != 2:
        raise ValueError("expected a (h, w) bilevel array")
    h, w = img.shape
    strips = []
    for y0 in range(0, h, rows_per_strip):
        rows = img[y0 : y0 + rows_per_strip]
        if compression == "ccitt_g4":
            strips.append(g4_encode(rows))
        elif compression == "ccitt_mh":
            strips.append(mh_encode(rows))
        else:
            strips.append(np.packbits(rows, axis=1).tobytes())

    n_entries = 9
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_entries + 4
    n_strips = len(strips)
    if n_strips > 1:
        offsets_off = data_off
        data_off += 4 * n_strips
        counts_off = data_off
        data_off += 4 * n_strips
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def entry(tag, ttype, count, value):
        return struct.pack("<HHI", tag, ttype, count) + struct.pack("<I", value)

    e = [
        entry(_WIDTH, 4, 1, w),
        entry(_LENGTH, 4, 1, h),
        entry(_BITS, 3, 1, 1),
        entry(_COMPRESSION, 3, 1, codes[compression]),
        entry(_PHOTO, 3, 1, 0),  # WhiteIsZero: the fax polarity
        entry(
            _STRIP_OFFSETS, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else offsets_off,
        ),
        entry(_SAMPLES, 3, 1, 1),
        entry(_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        entry(
            _STRIP_COUNTS, 4, n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        ),
    ]
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", n_entries) + b"".join(e) + struct.pack("<I", 0)
    if n_strips > 1:
        out += struct.pack(f"<{n_strips}I", *strip_offsets)
        out += struct.pack(f"<{n_strips}I", *(len(s) for s in strips))
    for s in strips:
        out += s
    return bytes(out)


def tiff_bytes(
    rgb: np.ndarray,
    packbits: bool = False,
    rows_per_strip: int = 4,
    gps: tuple[float, float] | None = None,
    compression: str | None = None,
    predictor: bool = False,
    quality: int = 90,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a little-endian TIFF
    (multiple strips so the strip walk is actually exercised).

    ``compression``: ``"none"`` / ``"packbits"`` / ``"lzw"`` /
    ``"deflate"`` / ``"jpeg"`` (new-style, full per-strip streams,
    photometric 6); omitted, the legacy ``packbits`` bool decides.
    ``predictor=True`` applies horizontal differencing (tag 317) to
    lzw/deflate strips.  ``gps=(lat, lon)`` embeds an EXIF GPS IFD
    (pointer tag 0x8825) — the geotagged-media fixture path for
    :func:`geowave_spark.functions.exif.gps_from_media`.
    """
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    if compression is None:
        compression = "packbits" if packbits else "none"
    if compression not in ("none", "packbits", "lzw", "deflate", "jpeg"):
        raise ValueError(f"unknown TIFF compression {compression!r}")
    if predictor and compression not in ("lzw", "deflate"):
        raise ValueError("predictor applies to lzw/deflate strips only")
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8, "jpeg": 7}[
        compression
    ]
    h, w = rgb.shape[:2]
    stride = w * 3
    strips = []
    for y0 in range(0, h, rows_per_strip):
        rows = rgb[y0 : y0 + rows_per_strip]
        if compression == "jpeg":
            from geowave_spark.functions.jpegcodec import jpeg_bytes

            strips.append(jpeg_bytes(rows, quality=quality))
            continue
        if predictor:
            rows = _diff(rows)
        chunk = rows.tobytes()
        if compression == "packbits":
            strips.append(_packbits_encode(chunk))
        elif compression == "lzw":
            strips.append(_tiff_lzw_encode(chunk))
        elif compression == "deflate":
            import zlib

            strips.append(zlib.compress(chunk, 6))
        else:
            strips.append(chunk)

    n_entries = 9 if gps is None else 10
    if predictor:
        n_entries += 1
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_entries + 4
    # BitsPerSample needs 3 SHORTs (6 bytes > 4): store out-of-line first
    bits_off = data_off
    data_off += 6
    gps_blk = b""
    gps_off = 0
    if gps is not None:
        from geowave_spark.functions.exif import gps_ifd_bytes

        gps_off = data_off
        gps_blk = gps_ifd_bytes(gps[0], gps[1], gps_off)
        data_off += len(gps_blk)
    n_strips = len(strips)
    if n_strips > 1:
        offsets_off = data_off
        data_off += 4 * n_strips
        counts_off = data_off
        data_off += 4 * n_strips
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def entry(tag, ttype, count, value):
        return struct.pack("<HHI", tag, ttype, count) + struct.pack("<I", value)

    e = [
        entry(_WIDTH, 4, 1, w),
        entry(_LENGTH, 4, 1, h),
        entry(_BITS, 3, 3, bits_off),
        entry(_COMPRESSION, 3, 1, comp_code),
        entry(_PHOTO, 3, 1, 6 if compression == "jpeg" else 2),
        entry(
            _STRIP_OFFSETS, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else offsets_off,
        ),
        entry(_SAMPLES, 3, 1, 3),
        entry(_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        entry(
            _STRIP_COUNTS, 4, n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        ),
    ]
    if predictor:
        e.append(entry(_PREDICTOR, 3, 1, 2))  # tag 317, sorted after 284
    if gps is not None:
        e.append(entry(0x8825, 4, 1, gps_off))  # GPS IFD pointer (sorted last)
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", n_entries) + b"".join(e) + struct.pack("<I", 0)
    out += struct.pack("<HHH", 8, 8, 8)
    out += gps_blk
    if n_strips > 1:
        out += struct.pack(f"<{n_strips}I", *strip_offsets)
        out += struct.pack(f"<{n_strips}I", *(len(s) for s in strips))
    for s in strips:
        out += s
    return bytes(out)
