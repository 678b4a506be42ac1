"""Dependency-free GIF (87a/89a) codec in pure Python/numpy.

GIF's only compression is LZW over palette indices (documented in the
GIF89a specification), so it needs no image library.

Decode supports the format as real files use it: global and local color
tables, interlaced and sequential images, the graphic-control transparency
index (transparent pixels composite against the logical-screen background
color — the decode contract is payload pixels as an RGB array, not
animation compositing), frames smaller than the logical screen (placed at
their descriptor offset on a background-filled canvas, so the returned
dims are always the file's nominal dims), and either spec version string.
Animated files decode their FIRST image descriptor in :func:`gif_decode`;
later frames are ignored (:func:`gif_frames` returns them all).

The encoder exists to synthesize fixtures and as an export path (the same
role the shapefile writer plays): a real variable-width LZW compressor over
an exact palette, raising when the image has more than 256 distinct colors
(palette quantization is a different problem — out of scope for a codec).
Round-trips are bit-exact for any <=256-color image, which is what makes
every decode path testable.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = (b"GIF87a", b"GIF89a")

# interlace pass layout: (first row, row step) per GIF89a appendix E
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ------------------------------------------------------------------- LZW


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """Variable-width LZW (GIF flavor) -> palette-index array."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    # dict as a list of byte sequences; reset on CLEAR
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    acc = bits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = list(base)
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                if len(out) < n_pixels:
                    raise ValueError(
                        f"GIF LZW stream ended after {len(out)} of {n_pixels} pixels"
                    )
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            out.extend(entry)
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
            if len(out) >= n_pixels:
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
    raise ValueError("truncated GIF LZW stream")


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """Palette indices -> GIF variable-width LZW bytes (real compressor:
    dictionary growth mirrors the decoder's bookkeeping exactly)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear, width)
    run = b""
    for b in indices.astype(np.uint8).tobytes():
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            # the decoder widens when ITS table reaches 2^width; its table
            # size equals next_code, so mirror that exactly
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            width = min_code_size + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(end, width)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------- decode


def _color_table(buf: bytes, pos: int, size_field: int) -> tuple[np.ndarray, int]:
    n = 2 << size_field  # 2^(field+1) entries
    end = pos + 3 * n
    if end > len(buf):
        raise ValueError("truncated GIF color table")
    return np.frombuffer(buf, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3), end


def _sub_blocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(buf):
            raise ValueError("truncated GIF sub-blocks")
        n = buf[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out.extend(buf[pos : pos + n])
        pos += n


def gif_decode(buf: bytes) -> np.ndarray:
    """Decode a GIF payload's first image into an (h, w, 3) uint8 RGB array."""
    if buf[:6] not in _MAGIC:
        raise ValueError("not a GIF payload")
    try:
        sw, sh, packed, bg_idx, _aspect = struct.unpack_from("<HHBBB", buf, 6)
    except struct.error:
        raise ValueError("truncated GIF header") from None
    if sw * sh > 100_000_000:
        # corrupt screen dims would drive a giant compositing canvas
        raise ValueError(f"implausible GIF logical screen {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(buf, pos, packed & 0x07)
    transparent = -1
    while pos < len(buf):
        b = buf[pos]
        if b == 0x21:  # extension
            if pos + 1 >= len(buf):
                raise ValueError("truncated GIF extension")
            label = buf[pos + 1]
            if label == 0xF9:  # graphic control: transparency flag + index
                blk, after = _sub_blocks(buf, pos + 2)
                if len(blk) >= 4 and blk[0] & 0x01:
                    transparent = blk[3]
                pos = after
            else:  # comment / plain text / application: skip sub-blocks
                _, pos = _sub_blocks(buf, pos + 2)
        elif b == 0x2C:  # image descriptor — decode this (first) image
            try:
                left, top, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
            except struct.error:
                raise ValueError("truncated GIF image descriptor") from None
            pos += 10
            ct = gct
            if ipacked & 0x80:
                ct, pos = _color_table(buf, pos, ipacked & 0x07)
            if ct is None:
                raise ValueError("GIF image with no color table")
            if pos >= len(buf):
                raise ValueError("truncated GIF image data")
            min_code_size = buf[pos]
            data, _ = _sub_blocks(buf, pos + 1)
            idx = _lzw_decode(data, min_code_size, w * h).reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                rows = np.empty(h, dtype=np.int64)
                src = 0
                for first, step in _INTERLACE_PASSES:
                    targets = np.arange(first, h, step)
                    rows[targets] = np.arange(src, src + len(targets))
                    src += len(targets)
                idx = idx[rows]
            rgb = ct[np.minimum(idx, len(ct) - 1)]
            # background color index refers to the GLOBAL table (89a §18)
            bg = (
                gct[bg_idx]
                if gct is not None and bg_idx < len(gct)
                else np.zeros(3, np.uint8)
            )
            if 0 <= transparent < len(ct):
                rgb = np.where((idx == transparent)[:, :, None], bg, rgb)
            if (left, top, w, h) != (0, 0, sw, sh):
                # frame smaller than the logical screen: composite at its
                # offset onto a background-filled canvas so the returned
                # dims are the file's nominal dims
                if left + w > sw or top + h > sh:
                    raise ValueError("GIF image descriptor exceeds logical screen")
                canvas = np.empty((sh, sw, 3), np.uint8)
                canvas[:] = bg
                canvas[top : top + h, left : left + w] = rgb
                rgb = canvas
            return np.ascontiguousarray(rgb)
        elif b == 0x3B:  # trailer before any image
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x} at byte {pos}")
    raise ValueError("GIF payload contains no image")


# ---------------------------------------------------------------- encode


def gif_bytes(
    rgb: np.ndarray,
    interlace: bool = False,
    transparent_color=None,
    screen: tuple[int, int] | None = None,
    offset: tuple[int, int] = (0, 0),
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array (<=256 distinct colors) as GIF89a.

    ``transparent_color``, if given as an (r, g, b) tuple present in the
    image, is marked transparent via a graphic-control extension — it lets
    tests drive the decoder's compositing branch.  ``screen=(sw, sh)`` with
    ``offset=(left, top)`` writes the image as a sub-frame of a larger
    logical screen (the decoder composites it onto a background-filled
    canvas at that offset)."""
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = rgb.shape[:2]
    left, top = offset
    sw, sh = screen if screen is not None else (left + w, top + h)
    if left + w > sw or top + h > sh:
        raise ValueError("offset image exceeds the logical screen")
    flat = rgb.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"GIF encoder needs <=256 distinct colors, got {len(colors)}")
    size_field = max(int(np.ceil(np.log2(max(len(colors), 2)))), 1) - 1
    n_entries = 2 << size_field
    palette = np.zeros((n_entries, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    idx = inverse.reshape(h, w).astype(np.uint8)
    if interlace:
        order = []
        for first, step in _INTERLACE_PASSES:
            order.extend(range(first, h, step))
        idx = idx[np.asarray(order)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | size_field, 0, 0)
    out += palette.tobytes()
    if transparent_color is not None:
        t = np.where((colors == np.asarray(transparent_color, np.uint8)).all(axis=1))[0]
        if len(t) == 0:
            raise ValueError("transparent_color not present in the image")
        out += b"\x21\xf9\x04\x01\x00\x00" + bytes([int(t[0])]) + b"\x00"
    out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0x40 if interlace else 0)
    min_code_size = max(size_field + 1, 2)
    out.append(min_code_size)
    lzw = _lzw_encode(idx.ravel(), min_code_size)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


# ------------------------------------------------------------- animation


def gif_frames(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode ALL images of a GIF as composited animation frames.

    Returns ``((n, sh, sw, 3) uint8 RGB, fps)`` where each frame is the
    logical-screen canvas as PRESENTED after drawing that image — GIF89a
    compositing semantics: images land at their descriptor offsets,
    transparent pixels leave the canvas unchanged, and the prior image's
    disposal method (1 = leave, 2 = restore background, 3 = restore
    previous) runs before the next draw.  fps derives from the median
    nonzero graphic-control delay (1/100 s units); delayless streams
    report 10 fps, the de-facto player default.
    """
    if buf[:6] not in _MAGIC:
        raise ValueError("not a GIF payload")
    try:
        sw, sh, packed, bg_idx, _aspect = struct.unpack_from("<HHBBB", buf, 6)
    except struct.error:
        raise ValueError("truncated GIF header") from None
    if sw * sh > 100_000_000:
        raise ValueError(f"implausible GIF logical screen {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(buf, pos, packed & 0x07)
    bg = (
        gct[bg_idx]
        if gct is not None and bg_idx < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.empty((sh, sw, 3), np.uint8)
    canvas[:] = bg
    frames: list[np.ndarray] = []
    delays: list[int] = []
    transparent = -1
    disposal = 0
    delay = 0
    pending = None  # (disposal, top, left, h, w, prev_region) of the last image
    while pos < len(buf):
        b = buf[pos]
        if b == 0x21:  # extension
            if pos + 1 >= len(buf):
                raise ValueError("truncated GIF extension")
            if buf[pos + 1] == 0xF9:
                blk, pos = _sub_blocks(buf, pos + 2)
                if len(blk) >= 4:
                    disposal = (blk[0] >> 2) & 7
                    transparent = blk[3] if blk[0] & 0x01 else -1
                    delay = blk[1] | (blk[2] << 8)
            else:
                _, pos = _sub_blocks(buf, pos + 2)
        elif b == 0x2C:
            try:
                left, top, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
            except struct.error:
                raise ValueError("truncated GIF image descriptor") from None
            pos += 10
            ct = gct
            if ipacked & 0x80:
                ct, pos = _color_table(buf, pos, ipacked & 0x07)
            if ct is None:
                raise ValueError("GIF image with no color table")
            if left + w > sw or top + h > sh:
                raise ValueError("GIF image descriptor exceeds logical screen")
            if pos >= len(buf):
                raise ValueError("truncated GIF image data")
            min_code_size = buf[pos]
            data, pos = _sub_blocks(buf, pos + 1)
            idx = _lzw_decode(data, min_code_size, w * h).reshape(h, w)
            if ipacked & 0x40:
                rows = np.empty(h, dtype=np.int64)
                src = 0
                for first, step in _INTERLACE_PASSES:
                    targets = np.arange(first, h, step)
                    rows[targets] = np.arange(src, src + len(targets))
                    src += len(targets)
                idx = idx[rows]
            # dispose of the PREVIOUS image before drawing this one
            if pending is not None:
                pdisp, pt, pl, ph, pw, prev = pending
                if pdisp == 2:
                    canvas[pt : pt + ph, pl : pl + pw] = bg
                elif pdisp == 3:
                    canvas[pt : pt + ph, pl : pl + pw] = prev
            prev_region = canvas[top : top + h, left : left + w].copy()
            rgb = ct[np.minimum(idx, len(ct) - 1)]
            region = canvas[top : top + h, left : left + w]
            if 0 <= transparent < len(ct):
                opaque = idx != transparent
                region[opaque] = rgb[opaque]
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            delays.append(delay)
            pending = (disposal, top, left, h, w, prev_region)
            transparent = -1
            disposal = 0
            delay = 0
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x} at byte {pos}")
    if not frames:
        raise ValueError("GIF payload contains no image")
    nz = sorted(d for d in delays if d > 0)
    fps = max(1, round(100 / nz[len(nz) // 2])) if nz else 10
    return np.ascontiguousarray(np.stack(frames)), fps


def gif_anim_bytes(
    frames: np.ndarray,
    fps: int = 10,
    mode: str = "full",
    disposal_override: list[int] | None = None,
) -> bytes:
    """Encode (n, h, w, 3) uint8 RGB frames as an animated GIF89a.

    ``mode="full"``: each image covers the screen (disposal 1 / leave).
    ``mode="patch"``: images after the first carry only the changed
    bounding rectangle at its offset — the classic inter-frame size
    optimization; compositing reconstructs full frames losslessly.
    ``mode="patch_transparent"``: full-size images whose unchanged pixels
    use a dedicated transparent index (exercises transparency compositing).
    ``disposal_override`` substitutes per-frame disposal methods (e.g. 3 =
    restore-previous) for tests; correctness of the ROUND TRIP then depends
    on the frames actually matching those semantics.
    All frames together must use <= 255 distinct colors (one slot is
    reserved for transparency).
    """
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError("expected (n, h, w, 3) RGB frames")
    if mode not in ("full", "patch", "patch_transparent"):
        raise ValueError(f"unknown animation mode {mode!r}")
    n, h, w = frames.shape[:3]
    if n == 0 or fps <= 0:
        raise ValueError("need at least one frame and a positive fps")
    if disposal_override is not None and len(disposal_override) != n:
        raise ValueError(
            f"disposal_override has {len(disposal_override)} entries for {n} frames"
        )
    colors, inverse = np.unique(frames.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 255:
        raise ValueError(f"animated GIF encoder needs <=255 distinct colors, got {len(colors)}")
    trans_idx = len(colors)  # reserved transparent slot
    size_field = max(int(np.ceil(np.log2(max(trans_idx + 1, 2)))), 1) - 1
    n_entries = 2 << size_field
    palette = np.zeros((n_entries, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    all_idx = inverse.reshape(n, h, w).astype(np.uint8)
    delay = max(1, round(100 / fps))
    min_code_size = max(size_field + 1, 2)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += palette.tobytes()

    def emit(img_idx, left, top, disposal, transparent):
        gce_packed = (disposal << 2) | (1 if transparent else 0)
        out.extend(b"\x21\xf9\x04")
        out.append(gce_packed)
        out.extend(struct.pack("<H", delay))
        out.append(trans_idx if transparent else 0)
        out.append(0)
        ih, iw = img_idx.shape
        out.extend(b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, 0))
        out.append(min_code_size)
        lzw = _lzw_encode(img_idx.ravel(), min_code_size)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)

    for f in range(n):
        disp = disposal_override[f] if disposal_override else 1
        if f == 0 or mode == "full":
            emit(all_idx[f], 0, 0, disp, False)
        elif mode == "patch":
            diff = (frames[f] != frames[f - 1]).any(axis=2)
            if not diff.any():
                emit(all_idx[f][:1, :1], 0, 0, disp, False)
                continue
            ys, xs = np.nonzero(diff)
            t, b_, l, r = ys.min(), ys.max() + 1, xs.min(), xs.max() + 1
            emit(all_idx[f][t:b_, l:r], int(l), int(t), disp, False)
        else:  # patch_transparent: unchanged pixels -> transparent index
            img = all_idx[f].copy()
            same = (frames[f] == frames[f - 1]).all(axis=2)
            img[same] = trans_idx
            emit(img, 0, 0, disp, True)
    out += b"\x3b"
    return bytes(out)
