"""Property-based hardening (hypothesis) of the pure-Python kernels the
whole engine stands on: SFC codecs, planner covers/range decomposition,
WKT/WKB round-trips, convexity dispatch, visibility grammar.  No Spark —
these run in milliseconds per example — except the neighbor-join cases,
which check the cell-neighborhood candidate stage on small Spark frames."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark.operators import neighborhood as nb
from geowave_spark.sfc.hilbert import hilbert_decode, hilbert_encode
from geowave_spark.sfc.zorder import zorder_decode, zorder_encode

BITS = st.integers(min_value=1, max_value=16)


def _coords(bits: int, n: int, rnd) -> list[np.ndarray]:
    hi = 2**bits
    return [
        np.array([rnd.randrange(hi) for _ in range(n)], dtype=np.uint64)
        for _ in range(2)
    ]


class TestSFCCodecs:
    @given(bits=BITS, data=st.data())
    @settings(max_examples=100, deadline=None)
    def test_hilbert_inverse(self, bits, data):
        hi = 2**bits
        xs = data.draw(st.lists(st.integers(0, hi - 1), min_size=1, max_size=20))
        ys = data.draw(
            st.lists(st.integers(0, hi - 1), min_size=len(xs), max_size=len(xs))
        )
        cs = [np.array(xs, dtype=np.uint64), np.array(ys, dtype=np.uint64)]
        keys = hilbert_encode([c.copy() for c in cs], bits)
        assert (keys < (1 << (2 * bits))).all()
        back = hilbert_decode(keys.copy(), 2, bits)
        assert (back[0] == cs[0]).all() and (back[1] == cs[1]).all()

    @given(bits=BITS, data=st.data())
    @settings(max_examples=100, deadline=None)
    def test_zorder_inverse(self, bits, data):
        hi = 2**bits
        xs = data.draw(st.lists(st.integers(0, hi - 1), min_size=1, max_size=20))
        ys = data.draw(
            st.lists(st.integers(0, hi - 1), min_size=len(xs), max_size=len(xs))
        )
        cs = [np.array(xs, dtype=np.uint64), np.array(ys, dtype=np.uint64)]
        keys = zorder_encode(cs, bits)
        back = zorder_decode(keys.copy(), 2, bits)
        assert (back[0] == cs[0]).all() and (back[1] == cs[1]).all()

    @given(bits=st.integers(1, 10), start=st.integers(0))
    @settings(max_examples=60, deadline=None)
    def test_hilbert_unit_step_locality(self, bits, start):
        """Consecutive Hilbert keys decode to 4-neighbor grid cells — the
        locality property the tiered index leans on for range contiguity."""
        n = 1 << (2 * bits)
        s = start % (n - 1)
        ks = np.array([s, s + 1], dtype=np.uint64)
        xs, ys = hilbert_decode(ks.copy(), 2, bits)
        manhattan = abs(int(xs[1]) - int(xs[0])) + abs(int(ys[1]) - int(ys[0]))
        assert manhattan == 1


BOXES = st.tuples(
    st.floats(-180, 179, allow_nan=False),
    st.floats(-90, 89, allow_nan=False),
    st.floats(0.001, 40),
    st.floats(0.001, 40),
)


class TestPlannerCovers:
    @given(box=BOXES, bits=st.integers(1, 5))
    @settings(max_examples=60, deadline=None)
    def test_cover_equals_bruteforce(self, box, bits):
        """cells_covering_bbox == the brute-force set of cells whose box
        intersects the query box (small tiers, exhaustive grid)."""
        from geowave_spark.sfc import DEFAULT_CONFIG
        from geowave_spark.sfc.tiered import cell_to_box, cells_covering_bbox

        minx, miny, w, h = box
        maxx, maxy = min(minx + w, 180.0), min(miny + h, 90.0)
        got = set(
            cells_covering_bbox(minx, miny, maxx, maxy, bits, wrap_lon=False).tolist()
        )
        all_keys = np.arange(1 << (2 * bits), dtype=np.uint64)
        lo_x, hi_x, lo_y, hi_y = cell_to_box(all_keys, bits, DEFAULT_CONFIG)
        hit = (lo_x <= maxx) & (hi_x >= minx) & (lo_y <= maxy) & (hi_y >= miny)
        want = set(all_keys[hit].astype(np.int64).tolist())
        # the planner cover uses inclusive bin spans: it must never MISS a
        # genuinely intersecting cell; boundary-touch cells may differ by
        # closed/half-open convention, so assert superset-of-interior
        eps = 1e-9
        strict = (
            (lo_x < maxx - eps)
            & (hi_x > minx + eps)
            & (lo_y < maxy - eps)
            & (hi_y > miny + eps)
        )
        interior = set(all_keys[strict].astype(np.int64).tolist())
        assert interior <= got <= want

    @given(box=BOXES, bits=st.integers(1, 5))
    @settings(max_examples=60, deadline=None)
    def test_decomposed_ranges_cover_all_cells(self, box, bits):
        """K2 over-inclusive contract: every covering cell's key falls inside
        some decomposed range (never under-inclusive)."""
        from geowave_spark.sfc.tiered import cells_covering_bbox, decompose_query_ranges

        minx, miny, w, h = box
        maxx, maxy = min(minx + w, 180.0), min(miny + h, 90.0)
        cells = cells_covering_bbox(minx, miny, maxx, maxy, bits, wrap_lon=False)
        ranges = decompose_query_ranges(minx, miny, maxx, maxy, bits)
        for k in cells.tolist():
            assert any(lo <= k <= hi for lo, hi in ranges), (k, ranges)


FLOATS = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


def _rand_ring(draw):
    """Closed ring from the convex hull of >= 3 random points."""
    from geowave_spark.operators.hull import monotone_chain

    pts = draw(
        st.lists(st.tuples(FLOATS, FLOATS), min_size=3, max_size=12, unique=True)
    )
    h = monotone_chain(np.array(pts, dtype=np.float64))
    if len(h) < 3:
        return None
    return np.vstack([h, h[:1]])


class TestGeometryRoundTrips:
    @given(data=st.data())
    @settings(max_examples=80, deadline=None)
    def test_wkt_roundtrip_polygon(self, data):
        from geowave_spark.geometry.wkt import geom_to_wkt, parse_wkt

        ring = _rand_ring(data.draw)
        if ring is None:
            return
        g = ("polygon", [ring])
        g2 = parse_wkt(geom_to_wkt(g))
        assert g2[0] == "polygon" and np.array_equal(g2[1][0], ring)

    @given(
        pts=st.lists(st.tuples(FLOATS, FLOATS), min_size=2, max_size=10),
    )
    @settings(max_examples=80, deadline=None)
    def test_wkb_roundtrip_linestring(self, pts):
        from geowave_spark.geometry.wkb import wkb_dumps, wkb_loads

        g = ("linestring", np.array(pts, dtype=np.float64))
        kind, data = wkb_loads(wkb_dumps(g))
        assert kind == "linestring" and np.array_equal(data, g[1])

    @given(x=FLOATS, y=FLOATS)
    @settings(max_examples=80, deadline=None)
    def test_wkb_roundtrip_point(self, x, y):
        from geowave_spark.geometry.wkb import wkb_dumps, wkb_loads

        kind, data = wkb_loads(wkb_dumps(("point", (x, y))))
        assert kind == "point" and data == (x, y)


DYADIC = st.integers(-2000, 2000).map(lambda v: v / 1024.0)


class TestConvexityDispatch:
    @given(
        data=st.data(),
        box=st.tuples(DYADIC, DYADIC, st.integers(1, 2048), st.integers(1, 2048)),
    )
    @settings(max_examples=120, deadline=None)
    def test_sat_equals_general_path_on_convex_rings(self, data, box):
        """For genuinely convex rings the SAT fast path and the general
        even-odd polygon-polygon test must agree on box intersects —
        including exact touch cases (both are inclusive).  Coordinates are
        dyadic (k/1024) so every projection/orientation product is exact in
        double and any tie is a TRUE geometric tie: hypothesis previously
        proved that at sub-ULP degeneracies (a 1e-38 separation at
        coordinate 1.0) the two float kernels may legitimately differ, which
        no floating-point formulation resolves."""
        from geowave_spark.geometry.predicates import (
            _box_prepared,
            convex_polygon_intersects_box,
            polygon_intersects_polygon,
            ring_is_convex,
        )
        from geowave_spark.operators.hull import monotone_chain

        pts = data.draw(
            st.lists(st.tuples(DYADIC, DYADIC), min_size=3, max_size=12, unique=True)
        )
        h = monotone_chain(np.array(pts, dtype=np.float64))
        if len(h) < 3:
            return
        ring = np.vstack([h, h[:1]])
        if not ring_is_convex(ring):
            return
        bx, by, w, h2 = box
        minx, miny, maxx, maxy = bx, by, bx + w / 1024.0, by + h2 / 1024.0
        fast = convex_polygon_intersects_box(ring, minx, miny, maxx, maxy)
        general = polygon_intersects_polygon(
            ("polygon", [ring]), _box_prepared(minx, miny, maxx, maxy)
        )
        assert fast == general

    @given(data=st.data())
    @settings(max_examples=80, deadline=None)
    def test_convexity_invariant_under_vertex_duplication(self, data):
        from geowave_spark.geometry.predicates import ring_is_convex

        ring = _rand_ring(data.draw)
        if ring is None:
            return
        i = data.draw(st.integers(0, len(ring) - 2))
        dup = np.vstack([ring[: i + 1], ring[i : i + 1], ring[i + 1 :]])
        assert ring_is_convex(dup) == ring_is_convex(ring)


class TestLexicoders:
    def test_byte_compat_pins(self):
        """Byte-level pins against the reference transforms (LongLexicoder:
        sign-bit XOR big-endian; DoubleLexicoder: raw bits, invert if
        negative else set sign bit)."""
        from geowave_spark.functions.lexicoder import (
            encode_double,
            encode_long,
        )

        assert encode_long(0) == bytes([0x80, 0, 0, 0, 0, 0, 0, 0])
        assert encode_long(-1) == bytes([0x7F, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF])
        assert encode_long(-(2**63)) == bytes(8)
        assert encode_long(2**63 - 1) == bytes([0xFF] * 8)
        # 1.0 raw bits 0x3FF0000000000000, non-negative -> XOR sign bit
        assert encode_double(1.0).hex() == "bff0000000000000"
        # -2.0 raw bits 0xC000000000000000 (negative) -> bitwise NOT
        assert encode_double(-2.0).hex() == "3fffffffffffffff"
        assert encode_double(0.0).hex() == "8000000000000000"
        assert encode_double(-0.0).hex() == "7fffffffffffffff"  # -0.0 < 0.0

    @given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=30))
    @settings(max_examples=100, deadline=None)
    def test_long_order_and_roundtrip(self, vals):
        from geowave_spark.functions.lexicoder import decode_long, encode_long

        encs = [encode_long(v) for v in vals]
        assert [decode_long(e) for e in encs] == vals
        assert sorted(range(len(vals)), key=lambda i: encs[i]) == sorted(
            range(len(vals)), key=lambda i: (vals[i], i)
        ) or sorted(encs) == [e for _, e in sorted(zip(vals, encs))]

    @given(
        st.lists(
            st.floats(allow_nan=False, allow_infinity=True, width=64),
            min_size=2,
            max_size=30,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_double_order_and_roundtrip(self, vals):
        from geowave_spark.functions.lexicoder import (
            decode_double,
            double_sort_keys,
            encode_double,
        )

        encs = [encode_double(v) for v in vals]
        back = [decode_double(e) for e in encs]
        for v, b in zip(vals, back):
            assert v == b or (v == 0.0 and b == 0.0)  # -0.0 round-trips as itself
            assert math_copysign(1.0, v) == math_copysign(1.0, b)
        # byte order == numeric order (ties by index keep it well-defined)
        by_bytes = sorted(encs)
        by_value = [e for _, e in sorted(zip(vals, encs), key=lambda t: (t[0], t[1]))]
        assert by_bytes == by_value
        # vectorized keys agree with the scalar encoder
        keys = double_sort_keys(np.array(vals, dtype=np.float64))
        assert [f"{k:016x}" for k in keys] == [e.hex() for e in encs]

    @given(st.integers(-(2**31), 2**31 - 1), st.integers(-(2**15), 2**15 - 1))
    @settings(max_examples=100, deadline=None)
    def test_int_short_roundtrip(self, i, s):
        from geowave_spark.functions.lexicoder import (
            decode_int,
            decode_short,
            encode_int,
            encode_short,
        )

        assert decode_int(encode_int(i)) == i
        assert decode_short(encode_short(s)) == s


def math_copysign(a, b):
    import math

    return math.copysign(a, b)


class TestVisibilityGrammar:
    LABELS = ["alpha", "bravo", "charlie", "delta"]

    @st.composite
    def _expr(draw, self=None, depth=0):
        labels = TestVisibilityGrammar.LABELS
        if depth >= 3 or draw(st.booleans()):
            name = draw(st.sampled_from(labels))
            return name, name
        op = draw(st.sampled_from(["&", "|"]))
        n = draw(st.integers(2, 3))
        parts = [draw(TestVisibilityGrammar._expr(depth=depth + 1)) for _ in range(n)]
        text = op.join(f"({t})" for t, _ in parts)
        if op == "&":
            val = ("&", [v for _, v in parts])
        else:
            val = ("|", [v for _, v in parts])
        return text, val

    @staticmethod
    def _eval_ast(ast, auths):
        if isinstance(ast, str):
            return ast in auths
        op, parts = ast
        vals = [TestVisibilityGrammar._eval_ast(p, auths) for p in parts]
        return all(vals) if op == "&" else any(vals)

    @given(data=st.data(), auth_mask=st.integers(0, 15))
    @settings(max_examples=150, deadline=None)
    def test_random_trees_match_direct_eval(self, data, auth_mask):
        from geowave_spark.functions.visibility import evaluate_visibility

        text, ast = data.draw(TestVisibilityGrammar._expr())
        auths = frozenset(
            l for i, l in enumerate(self.LABELS) if auth_mask & (1 << i)
        )
        assert evaluate_visibility(text, auths) == self._eval_ast(ast, auths)


# cell size 0.5: the k/2 grid puts points exactly on cell edges, including
# negative ones, where floor() is the easiest to get wrong
_COORD = st.one_of(
    st.integers(-6, 6).map(lambda k: k * 0.5),
    st.floats(-3.0, 3.0, allow_nan=False),
)
# (forward half, full block, cell keys); the 1-D block is knox's time bins
_HALVES = pytest.mark.parametrize(
    "fwd,full,keys",
    [
        (nb.FORWARD, nb.QUEEN, ("cx", "cy")),
        (nb.FORWARD_1D, ((-1,), (0,), (1,)), ("ct",)),
        (nb.SPACE_TIME_FORWARD, nb.SPACE_TIME, ("cx", "cy", "ct")),
    ],
    ids=["2d", "1d", "space_time"],
)


class TestNeighborJoin:
    """operators.neighborhood: a forward-half offset set plus the same-cell
    id-order rule yields exactly the unordered pairs of the full block, each
    once.  The join cases run on Spark, so they take few examples."""

    @_HALVES
    def test_forward_set_is_a_half(self, fwd, full, keys):
        zero = (0,) * len(keys)
        moves = [o for o in fwd if o != zero]
        back = {tuple(-d for d in o) for o in moves}
        assert zero in fwd and len(set(fwd)) == len(fwd)
        assert not back & set(moves)
        assert back | set(moves) | {zero} == set(full)

    @_HALVES
    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 3), _COORD, _COORD, _COORD), min_size=2, max_size=30
        )
    )
    @settings(max_examples=6, deadline=None)
    def test_forward_probe_equals_full_probe(self, spark, fwd, full, keys, pts):
        from pyspark.sql import functions as F

        rows = [(fid, idx, x, y, t) for idx, (fid, x, y, t) in enumerate(pts)]
        keyed = spark.createDataFrame(
            rows, "fid long, idx long, x double, y double, t double"
        ).select(
            "fid",
            "idx",
            *[F.floor(F.col(c) / 0.5).cast("long").alias(f"c{c}") for c in "xyt"],
        )
        a, b = (
            keyed.select(F.col("fid").alias(f"fid_{s}"), F.col("idx").alias(f"idx_{s}"), *keys)
            for s in "ab"
        )
        # (fid, idx) lexicographic, the cotravel ping order
        a_first = (F.col("fid_a") < F.col("fid_b")) | (
            (F.col("fid_a") == F.col("fid_b")) & (F.col("idx_a") < F.col("idx_b"))
        )
        ids = ["fid_a", "idx_a", "fid_b", "idx_b"]
        got = [
            tuple(sorted([(r[0], r[1]), (r[2], r[3])]))
            for r in nb.neighbor_join(a, b, keys, fwd, before=a_first).select(ids).collect()
        ]
        want = [
            ((r[0], r[1]), (r[2], r[3]))
            for r in nb.neighbor_join(a, b, keys, full).filter(a_first).select(ids).collect()
        ]
        assert sorted(got) == sorted(want)

    def test_offset_needs_one_delta_per_key(self, spark):
        df = spark.createDataFrame([(0, 0, 0)], "cx long, cy long, bin long")
        with pytest.raises(ValueError):
            nb.neighbor_join(df, df, ("cx", "cy", "bin"), nb.QUEEN)
