"""Unit tests for the SFC key layer.

Models the reference's unit suite (SURVEY.md §5.1):
TieredSFCIndexStrategyTest (tier selection + duplication), HilbertSFCTest /
ZOrderSFCTest (encode/decode), BasicDimensionDefinitionTest (clamp/wrap edge
rules).
"""

import numpy as np
import pytest

from geowave_spark.sfc import (
    DEFAULT_CONFIG,
    SpatialConfig,
    bbox_insertion_cells,
    cell_to_box,
    cells_covering_bbox,
    decompose_query_ranges,
    estimated_id_count,
    hilbert_decode,
    hilbert_encode,
    key_at_tier,
    lat_bins,
    lon_bins,
    normalize_lon_range,
    point_keys,
    select_tier,
    zorder_decode,
    zorder_encode,
)

RNG = np.random.RandomState(42)


class TestHilbert:
    def test_order1_is_permutation(self):
        # 2x2 Hilbert visits each cell once
        x = np.array([0, 0, 1, 1], dtype=np.uint64)
        y = np.array([0, 1, 0, 1], dtype=np.uint64)
        h = hilbert_encode([x, y], 1)
        assert sorted(h.tolist()) == [0, 1, 2, 3]

    @pytest.mark.parametrize("bits", [1, 2, 3, 8, 16, 31])
    def test_roundtrip(self, bits):
        n = 2000
        x = RNG.randint(0, 2**bits, size=n).astype(np.uint64)
        y = RNG.randint(0, 2**bits, size=n).astype(np.uint64)
        h = hilbert_encode([x, y], bits)
        dx, dy = hilbert_decode(h, 2, bits)
        np.testing.assert_array_equal(dx, x)
        np.testing.assert_array_equal(dy, y)

    @pytest.mark.parametrize("bits", [2, 4, 6])
    def test_bijective_and_adjacent(self, bits):
        # full enumeration: bijection + Hilbert adjacency (consecutive ids are
        # grid neighbors with L1 distance exactly 1)
        side = 2**bits
        gx, gy = np.meshgrid(
            np.arange(side, dtype=np.uint64), np.arange(side, dtype=np.uint64), indexing="ij"
        )
        h = hilbert_encode([gx.ravel(), gy.ravel()], bits)
        assert len(np.unique(h)) == side * side
        order = np.argsort(h)
        xs = gx.ravel()[order].astype(np.int64)
        ys = gy.ravel()[order].astype(np.int64)
        d = np.abs(np.diff(xs)) + np.abs(np.diff(ys))
        assert (d == 1).all()

    def test_prefix_property(self):
        # ancestor key at tier t == finest key >> 2*(31-t); this is what lets
        # points join polygons indexed at coarser tiers without re-encoding
        n = 5000
        x = RNG.randint(0, 2**31, size=n).astype(np.uint64)
        y = RNG.randint(0, 2**31, size=n).astype(np.uint64)
        h31 = hilbert_encode([x, y], 31)
        for t in [0, 1, 5, 11, 13, 18, 30]:
            ht = hilbert_encode([x >> np.uint64(31 - t), y >> np.uint64(31 - t)], t)
            np.testing.assert_array_equal(
                key_at_tier(h31.astype(np.int64), 31, t), ht.astype(np.int64)
            )


class TestZOrder:
    @pytest.mark.parametrize("bits", [1, 4, 16, 31])
    def test_roundtrip(self, bits):
        n = 2000
        x = RNG.randint(0, 2**bits, size=n).astype(np.uint64)
        y = RNG.randint(0, 2**bits, size=n).astype(np.uint64)
        h = zorder_encode([x, y], bits)
        dx, dy = zorder_decode(h, 2, bits)
        np.testing.assert_array_equal(dx, x)
        np.testing.assert_array_equal(dy, y)

    def test_bit_for_bit(self):
        # interleave convention: dim0 (lon) takes the msb of each bit pair
        h = zorder_encode([np.array([0b10], dtype=np.uint64), np.array([0b01], dtype=np.uint64)], 2)
        assert h[0] == 0b1001


class TestNormalization:
    def test_clamp_and_edges(self):
        # BasicDimensionDefinition clamps; value==max -> last bin
        assert lon_bins(np.array([180.0]), 4)[0] == 15
        assert lon_bins(np.array([999.0]), 4)[0] == 15  # clamped
        assert lon_bins(np.array([-180.0]), 4)[0] == 0
        assert lon_bins(np.array([-999.0]), 4)[0] == 0
        # single value on an interior boundary goes to the LOWER bin
        # (ceil(n*bins)-1 rule): -90 -> bin 3 of 16
        assert lon_bins(np.array([-90.0]), 4)[0] == 3
        # range-min on the same boundary goes to the UPPER bin (floor rule)
        assert lon_bins(np.array([-90.0]), 4, is_min=True)[0] == 4

    def test_latitude_half_range(self):
        # lat normalized against [-180,180]: lat 0 -> middle, lat 90 -> 3/4
        assert lat_bins(np.array([0.0]), 4)[0] == 7
        assert lat_bins(np.array([90.0]), 4, is_min=True)[0] == 12
        assert lat_bins(np.array([91.0]), 4, is_min=True)[0] == 12  # clamp to 90
        assert lat_bins(np.array([-90.0]), 4, is_min=True)[0] == 4

    def test_lon_wrap(self):
        assert normalize_lon_range(170.0, 190.0) == [(-180.0, -170.0), (170.0, 180.0)]
        assert normalize_lon_range(-10.0, 10.0) == [(-10.0, 10.0)]
        # single value clamps, never wraps (LongitudeDefinition.java:41-45)
        assert normalize_lon_range(190.0, 190.0) == [(180.0, 180.0)]

    def test_reference_longitude_vectors(self):
        """LongitudeDefinitionTest's own vectors
        (`LongitudeDefinitionTest.java:38-120`): east/west dateline-crossing
        ranges split into the exact published bin pairs; out-of-bounds
        endpoints wrap by the ceil-mod formula (+-200 -> -+160)."""
        assert normalize_lon_range(150.0, 200.0) == [(-180.0, -160.0), (150.0, 180.0)]
        assert normalize_lon_range(-200.0, -170.0) == [(-180.0, -170.0), (160.0, 180.0)]
        assert normalize_lon_range(10.0, 100.0) == [(10.0, 100.0)]
        # a full circle is the whole range, not a degenerate fold onto one
        # meridian (x-180 and x+180 wrap to the same value)
        assert normalize_lon_range(-281.6, 78.4) == [(-180.0, 180.0)]
        assert normalize_lon_range(-180.0, 180.0) == [(-180.0, 180.0)]


class TestTierSelection:
    def test_points_go_finest(self):
        lon = np.array([0.5, -179.99, 179.99, 0.0])
        lat = np.array([0.5, -89.99, 89.99, 0.0])
        tiers, keys = point_keys(lon, lat)
        assert (tiers == 31).all()
        assert len(np.unique(keys)) == len(keys)

    def test_small_bbox_fits_finest(self):
        # bbox within one finest cell -> 1 id at tier 31
        eps = 1e-9
        r, t, k, d = bbox_insertion_cells(
            np.array([10.0]), np.array([10.0]), np.array([10.0 + eps]), np.array([10.0 + eps])
        )
        assert len(k) == 1 and t[0] == 31 and d[0] == 0

    def test_wide_bbox_goes_coarse_with_dups(self):
        # a 5-degree-wide bbox cannot fit in <=4 cells at fine tiers
        r, t, k, d = bbox_insertion_cells(
            np.array([0.0]), np.array([0.0]), np.array([5.0]), np.array([5.0])
        )
        assert len(k) <= 4
        assert (t < 31).all()
        assert (d == len(k) - 1).all()
        count = estimated_id_count(
            np.array([0.0]), np.array([0.0]), np.array([5.0]), np.array([5.0]), int(t[0])
        )[0]
        assert count == len(k) <= 4
        # the next finer tier must NOT fit (finest-first selection)
        tiers = sorted(DEFAULT_CONFIG.tiers)
        finer = tiers[tiers.index(int(t[0])) + 1]
        assert (
            estimated_id_count(
                np.array([0.0]), np.array([0.0]), np.array([5.0]), np.array([5.0]), finer
            )[0]
            > 4
        )

    def test_whole_world_tier0(self):
        t, c = select_tier(
            np.array([-180.0]), np.array([-90.0]), np.array([180.0]), np.array([90.0])
        )
        assert t[0] in (0, 1)  # world spans 1 cell at tier 0; tier 1 may also fit
        r, tt, k, d = bbox_insertion_cells(
            np.array([-180.0]), np.array([-90.0]), np.array([180.0]), np.array([90.0])
        )
        assert len(k) <= 4

    def test_insertion_cells_cover_bbox(self):
        # every point inside the bbox must share a cell (at the entry's tier)
        # with the entry: the join correctness invariant
        n = 50
        minx = RNG.uniform(-170, 160, n)
        miny = RNG.uniform(-80, 70, n)
        maxx = minx + RNG.uniform(0, 8, n)
        maxy = miny + RNG.uniform(0, 8, n)
        rows, tiers, keys, _ = bbox_insertion_cells(minx, miny, maxx, maxy)
        # sample interior points, check containment in the emitted cell set
        for i in range(n):
            cells = {(int(t), int(k)) for t, k in zip(tiers[rows == i], keys[rows == i])}
            tier = next(iter(cells))[0]
            px = RNG.uniform(minx[i], maxx[i], 20)
            py = RNG.uniform(miny[i], maxy[i], 20)
            _, pk = point_keys(px, py)
            anc = key_at_tier(pk, 31, tier)
            for a in anc:
                assert (tier, int(a)) in cells


class TestCoversAndRanges:
    def test_cell_to_box_roundtrip(self):
        # keys of real points (valid-latitude cells), projected to tier 11
        lon = RNG.uniform(-179, 179, 50)
        lat = RNG.uniform(-89, 89, 50)
        _, k31 = point_keys(lon, lat)
        keys = np.unique(key_at_tier(k31, 31, 11))
        lon_min, lon_max, lat_min, lat_max = cell_to_box(keys, 11)
        assert (lon_max > lon_min).all() and (lat_max > lat_min).all()
        # re-encoding the cell center recovers the key
        cx = (lon_min + lon_max) / 2
        cy = (lat_min + lat_max) / 2
        xb = lon_bins(cx, 11).astype(np.uint64)
        yb = lat_bins(cy, 11).astype(np.uint64)
        np.testing.assert_array_equal(
            DEFAULT_CONFIG.encode(xb, yb, 11).astype(np.int64), keys
        )

    def test_cover_contains_inner_points(self):
        cover = set(cells_covering_bbox(-10, -10, 10, 10, 8).tolist())
        px = RNG.uniform(-10, 10, 200)
        py = RNG.uniform(-10, 10, 200)
        _, pk = point_keys(px, py)
        anc = key_at_tier(pk, 31, 8)
        assert all(int(a) in cover for a in anc)

    def test_cover_dateline(self):
        cover = set(cells_covering_bbox(170, -5, 190, 5, 8).tolist())
        px = np.array([175.0, -175.0, 179.9, -179.9])
        py = np.array([0.0, 0.0, -4.0, 4.0])
        _, pk = point_keys(px, py)
        anc = key_at_tier(pk, 31, 8)
        assert all(int(a) in cover for a in anc)
        # a point outside the wrapped range is not covered
        _, pk2 = point_keys(np.array([0.0]), np.array([0.0]))
        assert int(key_at_tier(pk2, 31, 8)[0]) not in cover

    def test_decompose_ranges_cover_exactly(self):
        # ranges must cover precisely the cells intersecting the box
        bits = 8
        box = (-10.3, -4.7, 25.9, 33.3)
        ranges = decompose_query_ranges(*box, bits=bits, max_ranges=5000)
        cover = set(cells_covering_bbox(*box, bits=bits).tolist())
        in_ranges = set()
        for lo, hi in ranges:
            in_ranges.update(range(lo, hi + 1))
        assert in_ranges == cover

    def test_decompose_respects_budget(self):
        ranges = decompose_query_ranges(-10, -10, 10, 10, bits=18, max_ranges=64)
        assert len(ranges) <= 64
        # over-inclusive: still covers everything
        cover = set(cells_covering_bbox(-10, -10, 10, 10, bits=10).tolist())
        # project ranges down to tier 10 cells
        proj = set()
        for lo, hi in ranges:
            proj.update(range(lo >> (2 * 8), (hi >> (2 * 8)) + 1))
        assert cover <= proj


class TestReferenceHilbertVectors:
    """The reference's own HilbertSFCTest ID vectors, bit-for-bit
    (/root/reference/core/geotime/src/test/java/mil/nga/giat/geowave/core/
    geotime/index/sfc/hilbert/HilbertSFCTest.java:24-119): 31 bits/dim,
    full-range [-90,90]x[-180,180] normalization as in that test."""

    def test_reference_id_vectors(self):
        import numpy as np
        from geowave_spark.sfc import hilbert_encode

        bits = 31
        maxb = (1 << 31) - 1
        mid = (1 << 30) - 1
        cases = [
            ((maxb, maxb), 3074457345618258602),  # (lat=90, lon=180)
            ((0, 0), 0),                           # (lat=-90, lon=-180)
            ((mid, mid), 768614336404564650),      # (lat=0, lon=0)
        ]
        for (a, b), want in cases:
            h = int(
                hilbert_encode(
                    [np.array([a], dtype=np.uint64), np.array([b], dtype=np.uint64)], bits
                )[0]
            )
            assert h == want

    def test_asymmetric_convention_pins(self):
        """The reference publishes only diagonal vectors (HilbertSFCTest),
        which cannot distinguish dimension order / reflection.  These
        OFF-diagonal values are the engine's own convention pins (computed
        once from this implementation): they freeze dimension order
        (dim 0 = lon = most significant per SpatialDimensionalityTypeProvider
        ordering) and reflection, so any convention drift fails loudly."""
        import numpy as np
        from geowave_spark.sfc import hilbert_decode, hilbert_encode

        def enc(a, b, bits):
            return int(
                hilbert_encode(
                    [np.array([a], dtype=np.uint64), np.array([b], dtype=np.uint64)], bits
                )[0]
            )

        # dimension order matters: (x, y) != (y, x) off the diagonal
        assert enc(5, 2, 4) != enc(2, 5, 4)
        pins = {(5, 2, 4): None, (2, 5, 4): None, (100, 7, 8): None, (7, 100, 8): None}
        got = {k: enc(*k) for k in pins}
        # frozen values from the current implementation (regression pins)
        assert got == {(5, 2, 4): 29, (2, 5, 4): 55, (100, 7, 8): 5167, (7, 100, 8): 15397}
        # bijectivity + prefix property at the asymmetric points
        for (a, b, bits), h in got.items():
            xs = hilbert_decode(np.array([h], dtype=np.uint64), 2, bits)
            assert (int(xs[0][0]), int(xs[1][0])) == (a, b)
            coarse = enc(a >> 2, b >> 2, bits - 2)
            assert h >> 4 == coarse

    def test_lexicographic_ordering(self):
        """testGetId_2DSpatialLexicographicOrdering: id(min) < id(max)."""
        import numpy as np
        from geowave_spark.sfc import hilbert_encode

        bits = 31
        maxb = (1 << 31) - 1
        lo = int(hilbert_encode([np.array([0], dtype=np.uint64)] * 2, bits)[0])
        hi = int(hilbert_encode([np.array([maxb], dtype=np.uint64)] * 2, bits)[0])
        assert lo < hi


class TestReferenceTieredVectors:
    """Port of TieredSFCIndexStrategyTest.testPredefinedSpatialEntries
    (/root/reference/core/geotime/src/test/java/.../tiered/
    TieredSFCIndexStrategyTest.java:126-216): for each defined tier t, a
    bbox of exactly that tier's cell size anchored at (0,-p)..(p,0) either
    fits tier t as ONE id, or (when t+1 is also defined) spills to tier t+1
    as 2 ids (rectangular split, 90<p<=180) / 4 ids (square split)."""

    def test_predefined_spatial_entries(self):
        import numpy as np
        from geowave_spark.sfc import DEFAULT_CONFIG, bbox_insertion_cells

        tiers = DEFAULT_CONFIG.tiers
        for si, t in enumerate(tiers):
            p = 360.0 / (2.0**t)
            if p > 180.0:
                box = (-180.0, -90.0, 180.0, 90.0)
            else:
                box = (0.0, -p, p, 0.0)
            rows, out_tiers, keys, dups = bbox_insertion_cells(
                np.array([box[0]]), np.array([box[1]]), np.array([box[2]]), np.array([box[3]])
            )
            n = len(rows)
            first_tier = int(out_tiers[0])
            contiguous_next = si + 1 < len(tiers) and tiers[si + 1] == t + 1
            if first_tier == 0 or not contiguous_next:
                assert (n, first_tier) == (1, t), f"tier {t}: got {n} ids at {first_tier}"
            else:
                expected = 2 if (90.0 < p <= 180.0) else 4
                assert first_tier == t + 1, f"tier {t}: spill tier {first_tier}"
                assert n == expected, f"tier {t}: got {n} ids, want {expected}"

    def test_one_estimated_duplicate_insertion(self):
        """testOneEstimatedDuplicateInsertion: with the duplicate budget
        forced to 1, every exact-fit bbox lands at its own tier as one id."""
        import numpy as np
        from geowave_spark.sfc import SpatialConfig, bbox_insertion_cells

        cfg = SpatialConfig(max_duplicate_ids=1)
        for t in cfg.tiers:
            p = 360.0 / (2.0**t)
            if p > 180.0:
                box = (-180.0, -90.0, 180.0, 90.0)
            else:
                box = (0.0, -p, p, 0.0)
            rows, out_tiers, keys, dups = bbox_insertion_cells(
                np.array([box[0]]), np.array([box[1]]), np.array([box[2]]), np.array([box[3]]),
                cfg,
            )
            assert (len(rows), int(out_tiers[0])) == (1, t), f"tier {t}"


class TestS2Cube:
    """S2-style cube-face Hilbert cells (the numpy oracle `s2_oracle.py`):
    the H3/S2-family backend — round-trips, prefix property, area-skew
    bound vs lat/lon."""

    def _sphere_sample(self, n=20000):
        import numpy as np

        rng = np.random.RandomState(0)
        lon = rng.uniform(-180, 180, n)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))  # uniform on sphere
        return lon, lat

    def test_roundtrip_and_prefix(self):
        import numpy as np

        from s2_oracle import s2_cell_center, s2_cell_ids, s2_parent

        lon, lat = self._sphere_sample()
        bits = 12
        c = s2_cell_ids(lon, lat, bits)
        clon, clat = s2_cell_center(c, bits)
        # center re-encodes to the same cell (projection chain is consistent)
        assert (s2_cell_ids(clon, clat, bits) == c).all()
        # prefix property incl. the face prefix: ancestor = shift
        assert (s2_parent(c, bits, bits - 3) == (c >> 6)).all()
        # centers lie inside the cell's angular footprint
        d = np.hypot(
            (np.minimum(np.abs(clon - lon), 360 - np.abs(clon - lon)))
            * np.cos(np.radians(lat)),
            clat - lat,
        )
        assert d.max() < 90.0 / 2**bits * 2.0

    def test_occupancy_more_uniform_than_latlon(self):
        """The whole point of the cube backend: polar skew bounded.  Compare
        max-cell occupancy of s2 cells vs an equirect grid with MORE cells
        on a polar-heavy sample."""
        import numpy as np

        from s2_oracle import s2_cell_ids

        rng = np.random.RandomState(1)
        lon = rng.uniform(-180, 180, 30000)
        lat = np.degrees(np.arcsin(rng.uniform(0.8, 1.0, 30000)))  # polar cap
        c = s2_cell_ids(lon, lat, 6)
        from collections import Counter

        s2_max = max(Counter(c.tolist()).values())
        xb = np.floor((lon + 180) / 360 * 128).astype(int)
        yb = np.floor((lat + 90) / 180 * 128).astype(int)
        eq_max = max(Counter((xb * 1000 + yb).tolist()).values())
        # near the pole, lat/lon cells collapse to slivers -> one lat row
        # hoards the mass; cube cells stay comparable in area
        assert s2_max < eq_max

    def test_jvm_bins_match_numpy_key_decode(self, spark, geo001):
        """The Catalyst bin expressions and the numpy Hilbert-key path are
        the same cell system: (face, i, j) from with_s2_bins equals the
        decode of s2_cell_ids."""
        import numpy as np

        from geowave_spark.operators.indexing import with_s2_bins
        from geowave_spark.sfc.hilbert import hilbert_decode
        from s2_oracle import s2_cell_ids

        pts = spark.read.parquet(str(geo001 / "points.parquet")).limit(2000)
        rows = with_s2_bins(pts, bits=8).select("fid", "lon", "lat", "s2_face", "s2_ib", "s2_jb").collect()
        lon = np.array([r.lon for r in rows])
        lat = np.array([r.lat for r in rows])
        keys = s2_cell_ids(lon, lat, 8).astype(np.uint64)
        face = (keys >> np.uint64(16)).astype(int)
        h = keys & np.uint64((1 << 16) - 1)
        i, j = hilbert_decode(h, 2, 8)
        for idx, r in enumerate(rows):
            assert (r.s2_face, r.s2_ib, r.s2_jb) == (face[idx], int(i[idx]), int(j[idx]))


class TestCompactHilbert:
    """Compact Hilbert indices for unequal per-dim bits (Hamilton CS-2006-07,
    the algorithm inside uzaygezen's CompactHilbertCurve that the reference's
    bias allocations feed — SpatialTemporalDimensionalityTypeProvider.java:
    149-190).  The DEFINING property is the oracle: the compact index of a
    box cell equals the rank of its full-cube Hilbert index among all box
    cells."""

    @staticmethod
    def _grid(dims_bits):
        axes = [np.arange(1 << m) for m in dims_bits]
        mesh = np.meshgrid(*axes, indexing="ij")
        return [m.ravel().astype(np.uint64) for m in mesh]

    @pytest.mark.parametrize("db", [(2, 2), (3, 3), (2, 2, 2), (4, 4)])
    def test_equal_bits_is_a_hilbert_curve(self, db):
        """Equal allocations degenerate to the standard curve: bijective,
        starts at the origin, and every consecutive pair of indices is a
        unit step (THE Hilbert adjacency property — no other ordering of
        the grid passes this plus bijectivity except curve symmetries)."""
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        cs = self._grid(db)
        h = compact_hilbert_encode(cs, db)
        assert sorted(h.tolist()) == list(range(len(h)))
        assert h[0] == 0  # origin is the curve entry
        order = np.argsort(h)
        pts = np.stack(cs, axis=1)[order].astype(np.int64)
        steps = np.abs(np.diff(pts, axis=0)).sum(axis=1)
        assert (steps == 1).all()

    @pytest.mark.parametrize(
        "db",
        [(3, 2), (2, 3), (2, 1), (1, 2), (4, 2), (2, 1, 1), (3, 1, 2), (5, 2), (1, 3, 2), (4, 1)],
    )
    def test_rank_oracle_against_full_cube(self, db):
        """Hamilton's theorem, brute-forced: CHI(p) == |{q in box :
        H(q) < H(p)}| where H is the full-cube curve at max(m_j) bits.
        This pins the whole compact machinery (extract masks, gray-code
        rank, pi patterns) against the published spec."""
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        cs = self._grid(db)
        h = compact_hilbert_encode(cs, db)
        assert sorted(h.tolist()) == list(range(len(h)))  # bijection
        full = compact_hilbert_encode(cs, (max(db),) * len(db))
        rank = np.argsort(np.argsort(full))
        assert (h == rank).all()

    @pytest.mark.parametrize("db", [(3, 2), (2, 1, 1), (25, 25, 10), (10, 10, 40), (20, 20, 20)])
    def test_roundtrip_bit_exact(self, db):
        from geowave_spark.sfc.compact_hilbert import (
            compact_hilbert_decode,
            compact_hilbert_encode,
        )

        rng = np.random.RandomState(3)
        cs = [rng.randint(0, 1 << m, 5000).astype(np.uint64) for m in db]
        h = compact_hilbert_encode(cs, db)
        assert int(h.min()) >= 0 and int(h.max()) < (1 << sum(db))
        dec = compact_hilbert_decode(h, db)
        for a, b in zip(cs, dec):
            assert (a.astype(np.int64) == b).all()

    def test_hand_table_2x1_bits(self):
        """Exhaustive 4x2 box: visit order restricted from the 4x4 curve
        (derived independently by the rank construction, frozen here so a
        convention change breaks loudly)."""
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        expect = {
            (0, 0): 0, (1, 0): 1, (1, 1): 2, (0, 1): 3,
            (3, 1): 4, (2, 1): 5, (2, 0): 6, (3, 0): 7,
        }
        xs = np.array([k[0] for k in expect], dtype=np.uint64)
        ys = np.array([k[1] for k in expect], dtype=np.uint64)
        h = compact_hilbert_encode([xs, ys], (2, 1))
        assert h.tolist() == list(expect.values())

    def test_frozen_bias_vectors(self):
        """Regression pins at the reference's SPATIAL and TEMPORAL
        allocations (25,25,10)/(10,10,40) — any convention drift in the
        transform changes these loudly."""
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        sx = np.array([0, 1, 33554431, 16777216, 12345678], dtype=np.uint64)
        sy = np.array([0, 2, 33554431, 16777215, 8765432], dtype=np.uint64)
        st = np.array([0, 3, 1023, 512, 777], dtype=np.uint64)
        assert compact_hilbert_encode([sx, sy, st], (25, 25, 10)).tolist() == [
            0,
            36,
            625590130159956683,
            943312209933866585,
            168759434597678943,
        ]
        tx = np.array([0, 5, 1023, 512, 321], dtype=np.uint64)
        ty = np.array([0, 7, 1023, 511, 654], dtype=np.uint64)
        tt = np.array([0, 11, (1 << 40) - 1, 1 << 39, 987654321], dtype=np.uint64)
        assert compact_hilbert_encode([tx, ty, tt], (10, 10, 40)).tolist() == [
            0,
            1813,
            640511947131630283,
            1088870309966118911,
            929094804357114,
        ]

    def test_locality_beats_concatenation(self):
        """Sanity on WHY this exists: median key-distance of spatially-
        adjacent cells is far smaller under the compact curve than under
        plain bit-concatenation of the same unequal bins (median, not mean:
        every SFC has a heavy tail of rare boundary jumps)."""
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        db = (6, 6, 3)
        rng = np.random.RandomState(1)
        x = rng.randint(0, (1 << 6) - 1, 4000).astype(np.uint64)
        y = rng.randint(0, (1 << 6) - 1, 4000).astype(np.uint64)
        t = rng.randint(0, 1 << 3, 4000).astype(np.uint64)
        h0 = compact_hilbert_encode([x, y, t], db).astype(np.float64)
        h1 = compact_hilbert_encode([x + 1, y, t], db).astype(np.float64)
        concat0 = ((x << np.uint64(9)) | (y << np.uint64(3)) | t).astype(np.float64)
        concat1 = (((x + 1) << np.uint64(9)) | (y << np.uint64(3)) | t).astype(np.float64)
        assert np.median(np.abs(h1 - h0)) < 0.05 * np.median(np.abs(concat1 - concat0))

    def test_errors(self):
        from geowave_spark.sfc.compact_hilbert import compact_hilbert_encode

        with pytest.raises(ValueError, match="63"):
            compact_hilbert_encode(
                [np.zeros(1, np.uint64)] * 2, (32, 32)
            )
        with pytest.raises(ValueError, match="outside"):
            compact_hilbert_encode(
                [np.array([4], np.uint64), np.array([0], np.uint64)], (2, 2)
            )

    @pytest.mark.parametrize("db", [(3, 2), (2, 3), (4, 2, 1), (2, 1, 3), (5, 3)])
    def test_range_decomposition_exact(self, db):
        """Unbudgeted descent is EXACT: a key falls in the decomposed ranges
        iff its cell lies in the query box (exhaustive over the grid, 25
        random boxes per shape)."""
        from geowave_spark.sfc.compact_hilbert import (
            compact_hilbert_encode,
            compact_hilbert_ranges,
        )

        rng = np.random.RandomState(0)
        cs = self._grid(db)
        h = compact_hilbert_encode(cs, db)
        for _ in range(25):
            lo = [rng.randint(0, 1 << m) for m in db]
            hi = [rng.randint(l, 1 << m) for l, m in zip(lo, db)]
            rs = compact_hilbert_ranges(tuple(lo), tuple(hi), db, max_ranges=10**9)
            in_ranges = np.zeros(len(h), dtype=bool)
            for a, b in rs:
                in_ranges |= (h >= a) & (h <= b)
            in_box = np.ones(len(h), dtype=bool)
            for j, c in enumerate(cs):
                in_box &= (c >= lo[j]) & (c <= hi[j])
            assert (in_ranges == in_box).all()

    @pytest.mark.parametrize("db", [(5, 3), (4, 2, 1)])
    def test_range_decomposition_budget_over_inclusive(self, db):
        """When the range budget binds, boundary regions emit whole — the
        result may over-include but NEVER drops a box cell."""
        from geowave_spark.sfc.compact_hilbert import (
            compact_hilbert_encode,
            compact_hilbert_ranges,
        )

        rng = np.random.RandomState(1)
        cs = self._grid(db)
        h = compact_hilbert_encode(cs, db)
        for _ in range(15):
            lo = [rng.randint(0, 1 << m) for m in db]
            hi = [rng.randint(l, 1 << m) for l, m in zip(lo, db)]
            rs = compact_hilbert_ranges(tuple(lo), tuple(hi), db, max_ranges=8)
            in_ranges = np.zeros(len(h), dtype=bool)
            for a, b in rs:
                in_ranges |= (h >= a) & (h <= b)
            in_box = np.ones(len(h), dtype=bool)
            for j, c in enumerate(cs):
                in_box &= (c >= lo[j]) & (c <= hi[j])
            assert (in_ranges | ~in_box).all()

    def test_range_decomposition_bias_scale(self):
        """A realistic (25,25,10) box decomposes to a bounded range set
        fast (driver-side planning cost)."""
        import time

        from geowave_spark.sfc.compact_hilbert import compact_hilbert_ranges

        t0 = time.time()
        rs = compact_hilbert_ranges(
            (9_000_000, 9_500_000, 100), (9_200_000, 9_700_000, 200), (25, 25, 10), 5000
        )
        assert 0 < len(rs) <= 5000 and time.time() - t0 < 2.0
        assert all(a <= b for a, b in rs)
        assert all(rs[i][1] < rs[i + 1][0] for i in range(len(rs) - 1))  # merged, sorted


class TestGeohash:
    """K5 geohash backend: public-convention pins + round trips."""

    KNOWN = [
        # (lon, lat, precision-5 geohash) — standard published values
        (-0.1278, 51.5074, "gcpvj"),   # London
        (139.6917, 35.6895, "xn774"),  # Tokyo
        (-74.0060, 40.7128, "dr5re"),  # New York
        (0.0, 0.0, "s0000"),           # origin
    ]

    def test_known_values(self):
        import numpy as np

        from geowave_spark.sfc.geohash import geohash_encode

        lon = np.array([c[0] for c in self.KNOWN])
        lat = np.array([c[1] for c in self.KNOWN])
        assert list(geohash_encode(lon, lat, 5)) == [c[2] for c in self.KNOWN]

    def test_decode_box_contains_point(self):
        import numpy as np

        from geowave_spark.sfc.geohash import geohash_decode_box, geohash_encode

        rng = np.random.RandomState(3)
        lon = rng.uniform(-180, 180, 200)
        lat = rng.uniform(-90, 90, 200)
        for p in (1, 3, 5, 7):
            for x, y, h in zip(lon, lat, geohash_encode(lon, lat, p)):
                x0, y0, x1, y1 = geohash_decode_box(h)
                assert x0 <= x < x1 + 1e-12 and y0 <= y < y1 + 1e-12

    def test_prefix_is_parent(self):
        import numpy as np

        from geowave_spark.sfc.geohash import geohash_encode

        rng = np.random.RandomState(4)
        lon = rng.uniform(-180, 180, 500)
        lat = rng.uniform(-90, 90, 500)
        h7 = geohash_encode(lon, lat, 7)
        h4 = geohash_encode(lon, lat, 4)
        assert all(a[:4] == b for a, b in zip(h7, h4))

    def test_spark_expr_equals_numpy(self, spark, geo001):
        import numpy as np
        from pyspark.sql import functions as F

        from geowave_spark.operators.indexing import with_geohash
        from geowave_spark.sfc.geohash import geohash_encode

        pts = spark.read.parquet(str(geo001 / "points.parquet"))
        rows = (
            with_geohash(pts, precision=6)
            .select("fid", "lon", "lat", "geohash")
            .collect()
        )
        lon = np.array([r.lon for r in rows])
        lat = np.array([r.lat for r in rows])
        expect = geohash_encode(lon, lat, 6)
        assert all(r.geohash == e for r, e in zip(rows, expect))
