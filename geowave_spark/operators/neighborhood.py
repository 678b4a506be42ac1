"""Cell-neighborhood equi-join: the candidate stage of every grid pair join.

Callers: the kNN and distance joins in ``knn.py`` (square, hex and
geodesic kNN, ``distance_join``, and through it DBSCAN's edges), plus
hotspot, cotravel, ST-DBSCAN, trajectory, IDW and region_label.

Both sides carry integer cell keys (``floor(coord / cell)``, or a time bin).
Two rows can only be a pair when their cells differ by a known offset, so the
probe side is copied once per offset with its keys shifted, and one
equi-join on the keys finds every candidate.  The caller then applies its
exact refine (a distance or time predicate) as a plain ``filter``.  The
exploded side grows by a bounded constant (the offset count), never by the
other side's size, and the join keys stay as uniform as the grid.

Offset sets (tuples of per-key deltas, in key order):

- ``QUEEN``: the 3x3 block, ``RING``: the 8 around the center,
  ``ROOK``: the 4 edge neighbors, ``SPACE_TIME``: the 3x3x3 block.
- Forward halves for self-joins: ``FORWARD`` (2-D), ``FORWARD_1D`` and
  ``SPACE_TIME_FORWARD``.  Each holds the zero offset plus exactly one of
  every ``{v, -v}`` pair of its full block.  A pair whose cells differ by
  ``v != 0`` is then found from exactly one endpoint, while a same-cell pair
  is found from both, which :func:`neighbor_join`'s ``before`` rule cuts to
  one.  The result is the full block's pair set at about half the exploded
  volume.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUEEN = tuple((dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
RING = tuple(o for o in QUEEN if any(o))
ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))
SPACE_TIME = tuple((dx, dy, dt) for dx, dy in QUEEN for dt in (-1, 0, 1))

FORWARD = ((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
FORWARD_1D = ((0,), (1,))
# same time bin: the 2-D forward half; next bin: the whole 3x3 block, since
# the earlier row is always the one that probes forward in time
SPACE_TIME_FORWARD = tuple((dx, dy, 0) for dx, dy in FORWARD) + tuple(
    (dx, dy, 1) for dx, dy in QUEEN
)


def neighbor_join(
    probe: DataFrame,
    build: DataFrame,
    keys: Sequence[str],
    offsets: Sequence[tuple[int, ...]],
    *,
    before: Column | None = None,
) -> DataFrame:
    """Join ``probe`` rows to the ``build`` rows in neighboring cells.

    Each probe row is copied once per offset with its cell ``keys`` shifted
    by it (every offset has one delta per key), and the copies are
    equi-joined to ``build`` on the shifted keys, which keep their names.

    ``before`` makes a self-join over a forward-half offset set emit each
    unordered pair once: it is a strict order over the two sides' ids, kept
    only for pairs found at the zero offset (the only ones found from both
    endpoints).  Every column of both sides is returned; the caller's
    ``filter`` is the exact refine."""
    keys = list(keys)
    same = [] if before is None else ["_same"]

    def shifted(o):
        # shifted inside the generator, so the exploded rows carry no
        # unshifted copy of the keys: Spark sizes the exploded side by row
        # width, not by the offset count, and the wider rows of an extra
        # copy made it look smaller than the build side and get broadcast
        cells = [(F.col(k) + F.lit(d)).alias(k) for k, d in zip(keys, o, strict=True)]
        flag = [] if before is None else [F.lit(not any(o)).alias("_same")]
        return F.struct(*cells, *flag)

    rest = [c for c in probe.columns if c not in keys]
    exploded = probe.select(
        *rest, F.explode(F.array(*[shifted(o) for o in offsets])).alias("_o")
    ).select(*rest, *[F.col(f"_o.{c}").alias(c) for c in keys + same])
    pairs = exploded.join(build, keys)
    if before is None:
        return pairs
    return pairs.filter(~F.col("_same") | before).drop("_same")
