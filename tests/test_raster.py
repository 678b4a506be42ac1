"""Raster coverage tiling (R5) + no-data mosaic merge (R6).

Mirrors the RasterDataAdapter contract: tier selection from resolution,
cell-aligned chop, nearest-neighbor resample, latest-wins merge with
hole-filling from earlier tiles (`RasterDataAdapter.java:391-516`,
`NoDataMergeStrategy.java:36-100`)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geowave_spark.operators.raster import (
    NODATA,
    TILE_SIZE,
    mosaic_summary,
    mosaic_tiles,
    pyramid_tiers,
    raster_tiles,
    select_raster_tier,
)


def _cov_row(cid, k, gx0, gy0, nx, ny, fill):
    """Aligned coverage at tier k: one tile per cell by construction."""
    cell = 360.0 / 2**k
    minx = -180.0 + gx0 * cell
    miny = -180.0 + gy0 * cell
    w, h = nx * TILE_SIZE, ny * TILE_SIZE
    pix = fill(np.arange(w * h)).astype(np.int32).tolist()
    return (cid, minx, miny, minx + nx * cell, miny + ny * cell, w, h, pix)


_SCHEMA = (
    "coverage_id string, minx double, miny double, maxx double, maxy double,"
    " width int, height int, pixels array<int>"
)


class TestRasterTiling:
    def test_tier_selection_matches_resolution(self):
        # aligned coverage at tier 6: tile world size == cell size at 6
        cell6 = 360.0 / 2**6
        assert select_raster_tier(0, 0, 2 * cell6, cell6, 64, 32) == 6
        # slightly coarser pixels -> tile world bigger than cell7, <= cell6
        assert select_raster_tier(0, 0, 1.5 * cell6, 1.5 * cell6, 32, 32) == 6
        # pyramid: full res + coarser levels while a tile can hold the span
        tiers = pyramid_tiers(0, 0, 2 * cell6, 2 * cell6, 64, 64)
        assert tiers[0] == 6 and all(t < 6 for t in tiers[1:]) and 5 in tiers

    def test_aligned_chop_is_exact_slicing(self, spark):
        k, gx0, gy0 = 6, 40, 33
        df = spark.createDataFrame(
            [_cov_row("c0", k, gx0, gy0, 2, 1, lambda i: i % 251)], _SCHEMA
        )
        tiles = raster_tiles(df).collect()
        assert len(tiles) == 2 and all(t.tier == k for t in tiles)
        src = (np.arange(2 * TILE_SIZE * TILE_SIZE) % 251).reshape(TILE_SIZE, 2 * TILE_SIZE)
        by_x = {t.xb - gx0: np.array(t.pixels).reshape(TILE_SIZE, TILE_SIZE) for t in tiles}
        assert np.array_equal(by_x[0], src[:, :TILE_SIZE])
        assert np.array_equal(by_x[1], src[:, TILE_SIZE:])

    def test_misaligned_chop_pads_nodata(self, spark):
        k = 6
        cell = 360.0 / 2**k
        minx = -180.0 + 40 * cell + 0.25 * cell  # shifted east by 1/4 cell
        miny = -180.0 + 33 * cell
        row = ("c0", minx, miny, minx + cell, miny + cell, TILE_SIZE, TILE_SIZE,
               list(range(1, TILE_SIZE * TILE_SIZE + 1)))
        tiles = raster_tiles(spark.createDataFrame([row], _SCHEMA)).collect()
        # envelope straddles two cells in x
        assert sorted(t.xb for t in tiles) == [40, 41]
        west = next(t for t in tiles if t.xb == 40)
        arr = np.array(west.pixels).reshape(TILE_SIZE, TILE_SIZE)
        q = TILE_SIZE // 4
        assert (arr[:, :q] == NODATA).all()  # west quarter uncovered
        assert (arr[:, q:] != NODATA).all()  # rest sampled from source

    def test_bilinear_constant_equals_nearest(self, spark):
        """On a constant image, bilinear and nearest are identical — same
        tiles, same nodata mask."""
        k, gx0, gy0 = 6, 40, 33
        df = spark.createDataFrame(
            [_cov_row("c0", k, gx0, gy0, 1, 1, lambda i: np.full_like(i, 77))], _SCHEMA
        )
        near = {t.cell: t.pixels for t in raster_tiles(df).collect()}
        bil = {
            t.cell: t.pixels
            for t in raster_tiles(df, interpolation="bilinear").collect()
        }
        assert near.keys() == bil.keys()
        for c in near:
            assert near[c] == bil[c]

    def test_bilinear_reproduces_linear_ramp(self, spark):
        """Bilinear interpolation of a linear ramp is the ramp itself: an
        aligned 2x-downsample (cell spans 2x2 source pixels) must return the
        exact average of each 2x2 block, where nearest returns one corner."""
        k = 6
        cell = 360.0 / 2**k
        minx = -180.0 + 40 * cell
        miny = -180.0 + 33 * cell
        w = h = 2 * TILE_SIZE  # 2x oversampled source -> one tile out
        # ramp along x: value = 10 * column index
        pix = (np.tile(np.arange(w), h) * 10).astype(np.int32).tolist()
        row = ("c0", minx, miny, minx + cell, miny + cell, w, h, pix)
        df = spark.createDataFrame([row], _SCHEMA)
        bil = next(
            t
            for t in raster_tiles(
                df, build_pyramid=True, interpolation="bilinear"
            ).collect()
            if t.tier == k  # the 2x-downsampled pyramid level
        )
        arr = np.array(bil.pixels).reshape(TILE_SIZE, TILE_SIZE)
        # target pixel j centers on source columns (2j, 2j+1) -> mean 20j+5
        want = 20 * np.arange(TILE_SIZE) + 5
        assert np.array_equal(arr, np.tile(want, (TILE_SIZE, 1)))
        near = next(
            t
            for t in raster_tiles(df, build_pyramid=True).collect()
            if t.tier == k
        )
        narr = np.array(near.pixels).reshape(TILE_SIZE, TILE_SIZE)
        assert not np.array_equal(arr, narr)  # genuinely different resample

    def test_bilinear_nodata_mask_matches_nearest(self, spark):
        """Outside-the-grid pixels are nodata under BOTH modes (the footprint
        rule is interpolation-independent)."""
        k = 6
        cell = 360.0 / 2**k
        minx = -180.0 + 40 * cell + 0.25 * cell
        miny = -180.0 + 33 * cell
        row = ("c0", minx, miny, minx + cell, miny + cell, TILE_SIZE, TILE_SIZE,
               list(range(1, TILE_SIZE * TILE_SIZE + 1)))
        df = spark.createDataFrame([row], _SCHEMA)
        for t_near, t_bil in zip(
            sorted(raster_tiles(df).collect(), key=lambda t: t.cell),
            sorted(
                raster_tiles(df, interpolation="bilinear").collect(),
                key=lambda t: t.cell,
            ),
        ):
            a = np.array(t_near.pixels) == NODATA
            b = np.array(t_bil.pixels) == NODATA
            assert np.array_equal(a, b)

    def test_bilinear_nodata_fallback_uses_floor_convention(self):
        """When the 4-neighborhood touches NODATA, the fallback must sample
        floor(f + 0.5) — the same convention as nearest mode — not banker's
        rint: at a boundary-aligned center (f = k.5, k even) rint picks row
        k, which here is the NODATA row that triggered the fallback."""
        from types import SimpleNamespace

        from geowave_spark.operators.raster import _resample_bilinear

        src = np.arange(16, dtype=np.int32).reshape(4, 4) * 10 + np.arange(4)
        src[2, :] = NODATA  # the row rint would (wrongly) fall back to
        r = SimpleNamespace(minx=0.0, miny=0.0)
        # fy = 3.0/1.0 - 0.5 = 2.5 (boundary-aligned); fx = 1.0 (tx = 0)
        out = _resample_bilinear(
            src, wx=np.array([1.5]), wy=np.array([3.0]), r=r,
            pxw=1.0, pxh=1.0, nodata=NODATA,
        )
        assert out[0, 0] == src[3, 1]  # real value, not NODATA

    def test_mosaic_latest_wins_earlier_fills_holes(self, spark):
        k, gx0, gy0 = 6, 40, 33
        n = TILE_SIZE * TILE_SIZE
        old = _cov_row("cov_000", k, gx0, gy0, 1, 1, lambda i: np.full(len(i), 7))
        # newer tile: nodata on even pixels, 9 elsewhere
        new = _cov_row(
            "cov_001", k, gx0, gy0, 1, 1, lambda i: np.where(i % 2 == 0, NODATA, 9)
        )
        df = spark.createDataFrame([old, new], _SCHEMA)
        out = mosaic_tiles(raster_tiles(df)).collect()
        assert len(out) == 1 and out[0].n_sources == 2
        merged = np.array(out[0].merged)
        assert (merged[1::2] == 9).all()  # latest wins where it has data
        assert (merged[0::2] == 7).all()  # earlier fills the holes
        summ = mosaic_summary(mosaic_tiles(raster_tiles(df))).collect()[0]
        assert summ.checksum == 9 * (n // 2) + 7 * (n // 2)
        assert summ.n_nodata == 0

    def test_fixture_pipeline_no_python_in_merge_plan(self, spark):
        from geowave_spark.datagen import ensure_coverages

        d = ensure_coverages("sf0.001")
        covs = spark.read.parquet(str(d / "coverages.parquet"))
        merged = mosaic_summary(mosaic_tiles(raster_tiles(covs)))
        rows = merged.collect()
        assert len(rows) > 0
        assert all(r.n_sources >= 1 and r.n_nodata <= TILE_SIZE * TILE_SIZE for r in rows)
        # some cell must actually exercise the multi-source merge
        assert any(r.n_sources >= 2 for r in rows)
        # the merge stage itself is JVM higher-order functions: the only
        # Arrow/Python evaluation in the plan is the chop (mapInPandas)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "MapInPandas" in plan  # the chop stage, nothing else


class TestBicubic:
    """The two JAI cubic kernels (a=-0.5 INTERP_BICUBIC, a=-1.0
    INTERP_BICUBIC_2) share bilinear's border/nodata rules."""

    def test_constant_equals_nearest(self, spark):
        # the cubic-convolution kernel is a partition of unity
        k, gx0, gy0 = 6, 40, 33
        df = spark.createDataFrame(
            [_cov_row("c0", k, gx0, gy0, 1, 1, lambda i: np.full_like(i, 77))], _SCHEMA
        )
        near = {t.cell: t.pixels for t in raster_tiles(df).collect()}
        for mode in ("bicubic", "bicubic2"):
            cub = {
                t.cell: t.pixels
                for t in raster_tiles(df, interpolation=mode).collect()
            }
            assert near.keys() == cub.keys()
            for c in near:
                assert near[c] == cub[c], mode

    def test_reproduces_linear_ramp_interior(self, spark):
        """Cubic convolution has linear precision for every `a`: on an
        aligned 2x downsample of an x-ramp the interior columns equal the
        ramp at the target centers (20j+5, same as bilinear); the first and
        last columns may differ because edge replication flattens the ramp
        under the 4-wide support."""
        k = 6
        cell = 360.0 / 2**k
        minx = -180.0 + 40 * cell
        miny = -180.0 + 33 * cell
        w = h = 2 * TILE_SIZE
        pix = (np.tile(np.arange(w), h) * 10).astype(np.int32).tolist()
        row = ("c0", minx, miny, minx + cell, miny + cell, w, h, pix)
        df = spark.createDataFrame([row], _SCHEMA)
        for mode in ("bicubic", "bicubic2"):
            out = next(
                t
                for t in raster_tiles(
                    df, build_pyramid=True, interpolation=mode
                ).collect()
                if t.tier == k
            )
            arr = np.array(out.pixels).reshape(TILE_SIZE, TILE_SIZE)
            want = 20 * np.arange(TILE_SIZE) + 5
            assert np.array_equal(arr[:, 1:-1], np.tile(want[1:-1], (TILE_SIZE, 1))), mode

    def test_nodata_mask_matches_nearest(self, spark):
        k = 6
        cell = 360.0 / 2**k
        minx = -180.0 + 40 * cell + 0.25 * cell
        miny = -180.0 + 33 * cell
        row = ("c0", minx, miny, minx + cell, miny + cell, TILE_SIZE, TILE_SIZE,
               list(range(1, TILE_SIZE * TILE_SIZE + 1)))
        df = spark.createDataFrame([row], _SCHEMA)
        for t_near, t_cub in zip(
            sorted(raster_tiles(df).collect(), key=lambda t: t.cell),
            sorted(
                raster_tiles(df, interpolation="bicubic").collect(),
                key=lambda t: t.cell,
            ),
        ):
            assert np.array_equal(
                np.array(t_near.pixels) == NODATA,
                np.array(t_cub.pixels) == NODATA,
            )

    def test_sharpness_parameter_is_wired(self):
        """On a quadratic signal at a half-sample offset the two kernels
        must disagree (linear signals cannot distinguish them), and an
        exactly-aligned sample point must return the source value for both
        (the kernel is interpolating)."""
        from types import SimpleNamespace

        from geowave_spark.operators.raster import _resample_bicubic

        src = (np.arange(8, dtype=np.int64)[None, :] ** 2 * 10).repeat(8, 0).astype(np.int32)
        r = SimpleNamespace(minx=0.0, miny=0.0)
        kw = dict(wy=np.array([3.5]), r=r, pxw=1.0, pxh=1.0, nodata=NODATA)
        half = dict(kw, wx=np.array([4.0]))  # fx = 3.5 -> t = 0.5
        v1 = _resample_bicubic(src, a=-0.5, **half)[0, 0]
        v2 = _resample_bicubic(src, a=-1.0, **half)[0, 0]
        assert v1 != v2
        aligned = dict(kw, wx=np.array([3.5]))  # fx = 3.0 -> t = 0
        for a in (-0.5, -1.0):
            assert _resample_bicubic(src, a=a, **aligned)[0, 0] == src[3, 3]

    def test_unknown_mode_rejected(self, spark):
        df = spark.createDataFrame(
            [_cov_row("c0", 6, 40, 33, 1, 1, lambda i: i % 7)], _SCHEMA
        )
        with pytest.raises(ValueError):
            raster_tiles(df, interpolation="lanczos")


class TestHornTerrain:
    """Horn slope/aspect/hillshade (operators/terrain.py) on hand grids."""

    def _grid(self, spark, zfun, n=5):
        rows = [(x, y, zfun(x, y)) for x in range(n) for y in range(n)]
        return spark.createDataFrame(rows, "xb long, yb long, x long")

    def test_unit_ramp_interior(self, spark):
        import math

        from geowave_spark.operators.terrain import horn_terrain

        out = {
            (r.xb, r.yb): r
            for r in horn_terrain(self._grid(spark, lambda x, y: x)).collect()
        }
        c = out[(2, 2)]  # interior cell: full 3x3 stencil
        # dz/dx = 1, dz/dy = 0 -> slope atan(1) = pi/4, aspect atan2(0, -1) = pi
        assert c.slope_ppm == math.floor(math.atan(1.0) * 1e6)
        assert c.aspect_ppm == math.floor(math.pi * 1e6)
        zen = math.radians(45.0)
        az = math.radians(315.0)
        shade = math.cos(zen) * math.cos(math.pi / 4) + math.sin(zen) * math.sin(
            math.pi / 4
        ) * math.cos(az - math.pi)
        assert c.hillshade_ppm == math.floor(max(shade, 0.0) * 1e6)

    def test_flat_grid(self, spark):
        import math

        from geowave_spark.operators.terrain import horn_terrain

        out = {
            (r.xb, r.yb): r
            for r in horn_terrain(self._grid(spark, lambda x, y: 7)).collect()
        }
        c = out[(2, 2)]
        assert c.slope_ppm == 0
        assert c.aspect_ppm is None
        assert c.hillshade_ppm == math.floor(math.cos(math.radians(45.0)) * 1e6)

    def test_rejects_bad_cell(self, spark):
        import pytest as _pt

        from geowave_spark.operators.terrain import horn_terrain

        with _pt.raises(ValueError):
            horn_terrain(self._grid(spark, lambda x, y: x), cell=0.0)
