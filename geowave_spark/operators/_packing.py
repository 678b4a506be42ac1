"""Shared (x, y) -> bigint packing for grid/vertex keys.

One definition for the convention contour polyline assembly, raster
regionization and the track graph all use:

    packed = (x + OFF) * SPAN + (y + OFF),  OFF = 2^30, SPAN = 2^31

Injective for |x|, |y| < 2^30 (packed ids stay under 2^62).  In cell
units that covers any global grid at >= ~1.7e-4 degree cells for raw
cell coords; for contour endpoints (cell units x1e6) it covers grids
coarser than ~0.34 degrees — the Spark expression REFUSES out-of-range
coordinates with a raise_error instead of silently colliding.  (The
DuckDB oracle twins omit the guard: they run on fixture extents well
inside range.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["OFF", "SPAN", "pack_xy", "pack_xy_sql"]

OFF = 1 << 30
SPAN = 1 << 31


def pack_xy(x: Column, y: Column) -> Column:
    """Guarded packed key: raises at runtime if a coordinate falls outside
    the injective range rather than silently colliding."""
    in_range = (F.abs(x) < OFF) & (F.abs(y) < OFF)
    packed = (x + OFF) * SPAN + (y + OFF)
    return F.when(in_range, packed).otherwise(
        (
            F.raise_error(
                F.format_string(
                    "packed grid key out of range (|coord| >= 2^30): x=%s y=%s "
                    "— use a coarser cell size",
                    x.cast("string"),
                    y.cast("string"),
                )
            )
        ).cast("long")
    )


def pack_xy_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB twin of the packing arithmetic (unguarded; fixture extents
    are in range by construction)."""
    return f"(({x_expr}) + {OFF}) * {SPAN}::BIGINT + (({y_expr}) + {OFF})"
