"""Dependency-free raster image codecs (BMP, PPM P6, PNG) in pure numpy +
stdlib zlib.

Decodes the image formats whose encodings need no image library, so the
container constraint (no PIL/libav) doesn't apply.  All lossless paths round-trip
bit-exact, which is what makes them testable.

Formats:
- **BMP**: 24/32-bit truecolor (alpha dropped), 1/4/8-bit palette rows
  (MSB-first sub-byte packing), RLE8 compression, bottom-up and top-down
  row orders; :func:`bmp_bytes_indexed` writes palette/RLE8 files.
- **PPM (P6)**: ASCII header ``P6 <w> <h> <maxval>`` (with comment support)
  followed by raw RGB bytes; maxval must be <= 255.
- **PNG**: the full matrix — greyscale / truecolor / palette / alpha color
  types at bit depths 1/2/4/8/16, Adam7 interlace or none, all five
  scanline filters, CRCs verified.  DEFLATE via stdlib :mod:`zlib`;
  :func:`png_bytes` / :func:`png_bytes_indexed` can emit every variant so
  each decode path is round-trip testable.
- **JPEG (baseline + progressive)**: lives in
  :mod:`geowave_spark.functions.jpegcodec`; :func:`decode_image`
  dispatches to it on the 0xFFD8 magic.
- **GIF (87a/89a)**: lives in :mod:`geowave_spark.functions.gifcodec`
  (variable-width LZW, interlace, transparency, animation); dispatched on
  the GIF8 magic.
- **TIFF**: lives in :mod:`geowave_spark.functions.tiffcodec`
  (none/PackBits/LZW/Deflate strips with predictor, palette, JPEG-in-TIFF,
  II/MM byte order); dispatched on the II*/MM* magic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def bmp_bytes(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = rgb.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # bottom-up rows, BGR order, each row padded to a 4-byte boundary
    bgr = rgb[::-1, :, ::-1]
    if pad:
        rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + body


def bmp_bytes_indexed(rgb: np.ndarray, rle: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array (<=256 distinct colors) as an
    8-bit palette BMP, optionally RLE8-compressed (fixtures/export for the
    palette decode paths)."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = rgb.shape[:2]
    colors, inverse = np.unique(rgb.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"palette BMP needs <=256 distinct colors, got {len(colors)}")
    idx = inverse.reshape(h, w).astype(np.uint8)
    pal = np.zeros((256, 4), np.uint8)
    pal[: len(colors), :3] = colors[:, ::-1]  # BGRX entries
    if rle:
        body = bytearray()
        for row in idx[::-1]:  # bottom-up
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                body += bytes([run, int(row[x])])
                x += run
            body += b"\x00\x00"  # end of line
        body += b"\x00\x01"  # end of bitmap
        body = bytes(body)
        compression = 1
    else:
        stride = w + ((-w) % 4)
        rows = np.zeros((h, stride), np.uint8)
        rows[:, :w] = idx[::-1]
        body = rows.tobytes()
        compression = 0
    data_offset = 14 + 40 + 1024
    file_hdr = struct.pack("<2sIHHI", b"BM", data_offset + len(body), 0, 0, data_offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, compression, len(body), 2835, 2835, 256, 0
    )
    return file_hdr + info_hdr + pal.tobytes() + body


def bmp_decode(buf: bytes) -> np.ndarray:
    """Decode a BMP into an (h, w, 3) uint8 RGB array.

    Supports 24-bit and 32-bit (alpha dropped) truecolor, palette at
    1/4/8 bits (MSB-first sub-byte packing), RLE8 compression, and both
    bottom-up and top-down row orders."""
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (_, _, _, _, data_offset) = struct.unpack_from("<2sIHHI", buf, 0)
    (hdr_size, w, h, planes, bpp, compression, _szimg, _xp, _yp, clr_used, _ci) = (
        struct.unpack_from("<IiiHHIIiiII", buf, 14)
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0 or w * h > 100_000_000:
        raise ValueError(f"implausible BMP dimensions {w}x{h}")
    if bpp in (24, 32):
        if compression != 0:
            raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
        nch = bpp // 8
        row_bytes = w * nch
        stride = row_bytes + ((-row_bytes) % 4)
        if len(buf) < data_offset + stride * h:
            raise ValueError("truncated BMP payload")
        rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=data_offset)
        px = rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, nch)
        rgb = px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped
        return np.ascontiguousarray(rgb if top_down else rgb[::-1])
    if bpp not in (1, 4, 8):
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    n_pal = clr_used or (1 << bpp)
    pal_off = 14 + hdr_size
    if len(buf) < pal_off + 4 * n_pal:
        raise ValueError("truncated BMP palette")
    pal = np.frombuffer(buf, np.uint8, 4 * n_pal, pal_off).reshape(n_pal, 4)[:, 2::-1]
    if compression == 0:
        stride = -(-(w * bpp) // 8)
        stride += (-stride) % 4  # rows pad to 4-byte boundaries
        if len(buf) < data_offset + stride * h:
            raise ValueError("truncated BMP payload")
        rows = np.frombuffer(
            buf, dtype=np.uint8, count=stride * h, offset=data_offset
        ).reshape(h, stride)
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            vals = bits.reshape(h, -1, bpp)
            weights = (1 << np.arange(bpp)[::-1]).astype(np.uint16)
            idx = (vals * weights).sum(axis=2)[:, :w].astype(np.uint8)
    elif compression == 1 and bpp == 8:  # RLE8
        idx = np.zeros((h, w), np.uint8)
        pos, x, y = data_offset, 0, 0
        n = len(buf)
        while pos + 2 <= n:
            c, v = buf[pos], buf[pos + 1]
            pos += 2
            if c:  # encoded run
                end = min(x + c, w)
                if y < h:
                    idx[y, x:end] = v
                x += c
            elif v == 0:  # end of line
                x, y = 0, y + 1
            elif v == 1:  # end of bitmap
                break
            elif v == 2:  # delta
                if pos + 2 > n:
                    raise ValueError("truncated BMP RLE8 delta")
                x += buf[pos]
                y += buf[pos + 1]
                pos += 2
            else:  # absolute run of v pixels, word-aligned
                if pos + v > n:
                    raise ValueError("truncated BMP RLE8 absolute run")
                end = min(x + v, w)
                if y < h and x < w:
                    idx[y, x:end] = np.frombuffer(buf, np.uint8, end - x, pos)
                x += v
                pos += v + (v & 1)
        else:
            raise ValueError("BMP RLE8 stream missing end-of-bitmap")
    else:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    idx = idx if top_down else idx[::-1]
    return np.ascontiguousarray(pal[np.minimum(idx, n_pal - 1)])


def ppm_bytes(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a binary PPM (P6)."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = rgb.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


def ppm_decode(buf: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) into an (h, w, 3) uint8 RGB array."""
    if buf[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and '#' comments between header fields
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace byte after maxval precedes the raster
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = w * h * 3
    if len(buf) < pos + need:
        raise ValueError("truncated PPM payload")
    arr = np.frombuffer(buf, dtype=np.uint8, count=need, offset=pos)
    return np.ascontiguousarray(arr.reshape(h, w, 3))


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


# Adam7 pass layout: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_rows(rows: np.ndarray, filter_type: int, bpp: int) -> bytes:
    """Apply one PNG scanline filter to every row of a (ph, stride) block."""
    lines = bytearray()
    prior = np.zeros(rows.shape[1], dtype=np.int32)
    for y in range(rows.shape[0]):
        cur = rows[y].astype(np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prior
        elif filter_type == 3:
            filt = cur - (left + prior) // 2
        else:  # Paeth
            up_left = np.concatenate([np.zeros(bpp, np.int32), prior[:-bpp]])
            filt = cur - _paeth_predictor(left, prior, up_left)
        lines.append(filter_type)
        lines.extend((filt % 256).astype(np.uint8).tobytes())
        prior = cur
    return bytes(lines)


def _pass_views(h: int, w: int):
    """Adam7 (pass_index, rows, cols) index arrays for non-empty passes."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        ys = np.arange(y0, h, dy)
        xs = np.arange(x0, w, dx)
        if len(ys) and len(xs):
            out.append((ys, xs))
    return out


def png_bytes(
    rgb: np.ndarray,
    filter_type: int = 0,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a truecolor PNG.

    ``filter_type`` applies that scanline filter (0=None, 1=Sub, 2=Up,
    3=Average, 4=Paeth) to EVERY row — not the adaptive per-row choice a
    production encoder makes, but it lets tests drive each unfilter path in
    :func:`png_decode` with bit-exact round-trips.  ``interlace=True``
    writes Adam7 (each pass an independently filtered sub-image);
    ``depth=16`` writes 16-bit samples (v*257, so the decoder's >>8
    recovers the byte exactly).
    """
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter {filter_type}")
    if depth not in (8, 16):
        raise ValueError("truecolor PNG depth must be 8 or 16")
    h, w = rgb.shape[:2]
    if depth == 16:
        wide = (rgb.astype(np.uint16) * 257).astype(">u2")
        sample_bytes = wide.reshape(h, w * 3).view(np.uint8).reshape(h, w * 6)
        bpp = 6
    else:
        sample_bytes = rgb.reshape(h, w * 3)
        bpp = 3
    lines = bytearray()
    if interlace:
        for ys, xs in _pass_views(h, w):
            block = sample_bytes.reshape(h, w, bpp)[np.ix_(ys, xs)].reshape(
                len(ys), len(xs) * bpp
            )
            lines.extend(_filter_rows(block, filter_type, bpp))
    else:
        lines.extend(_filter_rows(sample_bytes, filter_type, bpp))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def png_bytes_indexed(
    rgb: np.ndarray, depth: int = 8, interlace: bool = False
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a palette (color type 3) PNG
    at bit depth 1/2/4/8 — the image must use <= 2**depth distinct colors.
    Sub-byte depths pack indices MSB-first with scanline padding."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette PNG depth must be 1, 2, 4, or 8")
    h, w = rgb.shape[:2]
    colors, inverse = np.unique(rgb.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > (1 << depth):
        raise ValueError(
            f"palette PNG at depth {depth} allows {1 << depth} colors, "
            f"got {len(colors)}"
        )
    idx = inverse.reshape(h, w).astype(np.uint8)

    def pack_rows(rows_idx: np.ndarray) -> np.ndarray:
        ph, pw = rows_idx.shape
        if depth == 8:
            return rows_idx
        per_byte = 8 // depth
        padded_w = -(-pw // per_byte) * per_byte
        padded = np.zeros((ph, padded_w), np.uint8)
        padded[:, :pw] = rows_idx
        grouped = padded.reshape(ph, padded_w // per_byte, per_byte)
        shifts = (np.arange(per_byte)[::-1] * depth).astype(np.uint8)
        return (grouped.astype(np.uint16) << shifts).sum(axis=2).astype(np.uint8)

    lines = bytearray()
    if interlace:
        for ys, xs in _pass_views(h, w):
            lines.extend(_filter_rows(pack_rows(idx[np.ix_(ys, xs)]), 0, 1))
    else:
        lines.extend(_filter_rows(pack_rows(idx), 0, 1))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", colors.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth_predictor(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized (a=left, b=above, c=upper-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _unfilter_block(raw: np.ndarray, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters over a (ph, stride+1) raw block."""
    ph = raw.shape[0]
    recon = np.zeros((ph, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    n_px = stride // bpp
    for y in range(ph):
        ft, line = int(raw[y, 0]), raw[y, 1:].astype(np.int32)
        if ft == 0:
            row = line
        elif ft == 1:  # Sub: per channel-lane cumulative sum mod 256
            row = np.cumsum(line.reshape(n_px, bpp), axis=0).reshape(stride) % 256
        elif ft == 2:  # Up
            row = (line + prior) % 256
        elif ft in (3, 4):  # Average / Paeth: left-recon dependency -> per-pixel
            row = np.zeros(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            up_left = np.zeros(bpp, dtype=np.int32)
            for x in range(n_px):
                sl = slice(x * bpp, (x + 1) * bpp)
                up = prior[sl]
                if ft == 3:
                    px = (line[sl] + (left + up) // 2) % 256
                else:
                    px = (line[sl] + _paeth_predictor(left, up, up_left)) % 256
                row[sl] = px
                left, up_left = px, up
        else:
            raise ValueError(f"unknown PNG filter {ft} on row {y}")
        recon[y] = row.astype(np.uint8)
        prior = row
    return recon


def png_decode(buf: bytes) -> np.ndarray:
    """Decode a PNG (grey / truecolor / palette / greyscale+alpha-free
    RGBA, bit depths 1/2/4/8/16, Adam7 or none) into an (h, w, 3) uint8
    RGB array.  Grey is replicated across channels and scaled to 8-bit;
    16-bit samples keep their high byte; an alpha channel is dropped
    (payload pixels, not compositing, are the contract).  CRCs verified."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, 0
    h = depth = ctype = interlace = -1
    idat = bytearray()
    plte = None
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        name = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(buf):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(name + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {name!r}")
        if name == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif name == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif name == b"IDAT":
            idat.extend(data)
        elif name == b"IEND":
            break
        pos += 12 + length
    valid = {
        0: (1, 2, 4, 8, 16),  # greyscale
        2: (8, 16),  # truecolor
        3: (1, 2, 4, 8),  # palette
        4: (8, 16),  # grey+alpha
        6: (8, 16),  # truecolor+alpha
    }
    if ctype not in valid or depth not in valid[ctype] or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG: depth={depth} color_type={ctype} "
            f"interlace={interlace}"
        )
    if ctype == 3 and (plte is None or len(plte) == 0):
        raise ValueError("palette PNG missing or empty PLTE chunk")
    if h <= 0 or w <= 0 or h * w > 100_000_000:
        raise ValueError(f"implausible PNG dimensions {w}x{h}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    bpp = max(1, channels * depth // 8)
    try:
        raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG DEFLATE stream: {e}") from None

    def rows_to_pixels(recon: np.ndarray, pw: int) -> np.ndarray:
        """(ph, stride) filtered-out bytes -> (ph, pw, channels) uint8."""
        ph = recon.shape[0]
        if depth == 16:
            return recon.reshape(ph, pw, channels, 2)[:, :, :, 0]  # high byte
        if depth == 8:
            return recon.reshape(ph, pw, channels)
        bits = np.unpackbits(recon, axis=1)
        vals = bits.reshape(ph, -1, depth)
        weights = (1 << np.arange(depth)[::-1]).astype(np.uint16)
        v = (vals * weights).sum(axis=2)[:, :pw].astype(np.uint8)
        if ctype == 0:  # scale sub-byte grey to full range
            v = (v.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return v[:, :, None]

    groups = (
        _pass_views(h, w)
        if interlace
        else [(np.arange(h), np.arange(w))]
    )
    out = np.zeros((h, w, channels), dtype=np.uint8)
    off = 0
    for ys, xs in groups:
        ph, pw = len(ys), len(xs)
        stride = -(-pw * channels * depth // 8)
        need = ph * (stride + 1)
        if off + need > raw.size:
            raise ValueError("PNG scanline payload size mismatch")
        block = raw[off : off + need].reshape(ph, stride + 1)
        off += need
        recon = _unfilter_block(block, stride, bpp)
        out[np.ix_(ys, xs)] = rows_to_pixels(recon, pw)
    if off != raw.size:
        raise ValueError("PNG scanline payload size mismatch")
    if ctype == 3:
        return np.ascontiguousarray(plte[np.minimum(out[:, :, 0], len(plte) - 1)])
    if channels == 1 or ctype == 4:
        return np.ascontiguousarray(np.repeat(out[:, :, :1], 3, axis=2))
    return np.ascontiguousarray(out[:, :, :3])


def decode_image(buf: bytes) -> np.ndarray:
    """Magic-byte dispatch: BMP, PPM, PNG, GIF, baseline TIFF, or baseline
    JPEG payload -> (h, w, 3) uint8 RGB.

    Unrecognized payloads raise here — this function is the integration
    point for a real image library (PIL/libav): add a branch on the magic
    bytes returning the same (h, w, 3) uint8 contract and every caller
    works unchanged.
    """
    if buf[:2] == b"BM":
        return bmp_decode(buf)
    if buf[:2] == b"P6":
        return ppm_decode(buf)
    if buf[:8] == _PNG_SIG:
        return png_decode(buf)
    if buf[:4] == b"GIF8":
        from geowave_spark.functions.gifcodec import gif_decode

        return gif_decode(buf)
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        from geowave_spark.functions.tiffcodec import tiff_decode

        return tiff_decode(buf)
    if buf[:2] == b"\xff\xd8":
        from geowave_spark.functions.jpegcodec import jpeg_decode

        return jpeg_decode(buf)
    raise ValueError(f"unrecognized image payload (magic {buf[:2]!r})")
