"""Shared BT.601 full-swing RGB <-> YCbCr color math.

The JPEG codec (`jpegcodec.py`) converts with unrounded float planes on
encode (for the DCT) and rounded uint8 pixels on decode; both directions
read the coefficients from here, so the round-trip/PSNR contracts in
tests/test_jpegcodec.py and tests/test_multimodal.py see one set.
"""

from __future__ import annotations

import numpy as np


def rgb_to_ycbcr_f(rgb: np.ndarray) -> np.ndarray:
    """RGB (..., 3) uint8 -> stacked YCbCr (..., 3) float64, unrounded."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb_u8(ycc: np.ndarray) -> np.ndarray:
    """Stacked YCbCr (..., 3) float -> RGB (..., 3) uint8 (round + clip)."""
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64)
    cr = ycc[..., 2].astype(np.float64)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)
