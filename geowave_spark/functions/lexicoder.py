"""Lexicoders (K8) — sort-order-preserving byte encodings of typed values,
byte-compatible with the reference's `core/index/lexicoder/*`
(`LongLexicoder.java:20-32` sign-bit XOR big-endian;
`DoubleLexicoder.java:12-35` raw-bits transform — negative bit patterns
inverted, non-negative get the sign bit set — then the long lexicoder;
Integer/Short analogs at their widths; strings need no lexicoder, UTF-8
is already byte-ordered).

Engine stance (why SURVEY originally scoped these out): Spark orders native
columns directly — a `sort`/`range`/min-max on DOUBLE needs no byte
encoding, so lexicoders buy NOTHING inside a DataFrame plan.  They exist
for the boundaries: exporting keys a byte-ordered external store (HBase/
Accumulo-style row keys, object-store range partitioning) can range-scan,
and reading such keys back.  The encoders are exact inverses of the
reference's, so exported keys interleave correctly with rows the reference
wrote.

NaN note: the double transform yields IEEE totalOrder semantics (the
reference's "native Java sort order"), so NaN sorts above +inf and
-0.0 < 0.0 — document-level parity, not IEEE ``<``.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

_SIGN64 = np.int64(np.uint64(0x8000000000000000).view(np.int64))


def encode_long(value: int) -> bytes:
    return struct.pack(">Q", (value ^ 0x8000000000000000) & 0xFFFFFFFFFFFFFFFF)


def decode_long(b: bytes) -> int:
    v = struct.unpack(">Q", b)[0] ^ 0x8000000000000000
    return v - 0x10000000000000000 if v >= 0x8000000000000000 else v


def encode_int(value: int) -> bytes:
    return struct.pack(">I", (value ^ 0x80000000) & 0xFFFFFFFF)


def decode_int(b: bytes) -> int:
    v = struct.unpack(">I", b)[0] ^ 0x80000000
    return v - 0x100000000 if v >= 0x80000000 else v


def encode_short(value: int) -> bytes:
    return struct.pack(">H", (value ^ 0x8000) & 0xFFFF)


def decode_short(b: bytes) -> int:
    v = struct.unpack(">H", b)[0] ^ 0x8000
    return v - 0x10000 if v >= 0x8000 else v


def _double_bits_to_key(l: int) -> int:
    """Signed raw-bits -> unsigned sortable (DoubleLexicoder.toByteArray)."""
    if l < 0:
        l = ~l & 0xFFFFFFFFFFFFFFFF
    else:
        l = l ^ 0x8000000000000000
    return l


def encode_double(value: float) -> bytes:
    (l,) = struct.unpack(">q", struct.pack(">d", value))
    return struct.pack(">Q", _double_bits_to_key(l))


def decode_double(b: bytes) -> float:
    v = struct.unpack(">Q", b)[0]
    if v & 0x8000000000000000:
        l = v ^ 0x8000000000000000
    else:
        l = ~v & 0xFFFFFFFFFFFFFFFF
    return struct.unpack(">d", struct.pack(">Q", l))[0]


def double_sort_keys(values: np.ndarray) -> np.ndarray:
    """Vectorized: float64 array -> uint64 keys whose unsigned order equals
    the lexicoder byte order (and IEEE totalOrder of the doubles)."""
    l = np.ascontiguousarray(values, dtype=np.float64).view(np.int64)
    return np.where(l < 0, ~l, l ^ _SIGN64).view(np.uint64)


def lexicoded_double_col(col):
    """Spark Column: DOUBLE -> 16-char hex string of the lexicoder bytes
    (hex preserves byte order, so ORDER BY the string == ORDER BY the
    value).  Export-path utility — query-time ordering should use the
    native column."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _lex(v: pd.Series) -> pd.Series:
        keys = double_sort_keys(v.to_numpy(np.float64))
        return pd.Series([f"{k:016x}" for k in keys])

    return _lex(col)
