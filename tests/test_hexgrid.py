"""Hex (H3-family) cell backend: kernel laws, Catalyst/numpy/SQL twin
equality, and the hex-kRing kNN against the brute-force answer.

The coverage bound test is the load-bearing one: the hex kNN's
correctness rests on `rings_for_distance` never under-covering the
distance ball (module docstring of sfc/hexgrid.py derives the bound)."""

from __future__ import annotations

import duckdb
import numpy as np
import pyspark.sql.functions as F
import pytest

from geowave_spark.sfc.hexgrid import (
    MAX_HEX_RES,
    cube_round,
    hex_axial,
    hex_cell_ids,
    hex_center,
    hex_distance,
    hex_pack,
    hex_parent,
    hex_size,
    hex_unpack,
    kring_offsets,
    rings_for_distance,
)

RNG = np.random.default_rng(20260817)


def _rand_lonlat(n: int):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = RNG.uniform(-90.0, 90.0, n)
    return lon, lat


def test_pack_unpack_roundtrip():
    q = RNG.integers(-(1 << 20), 1 << 20, 500)
    r = RNG.integers(-(1 << 20), 1 << 20, 500)
    for res in (0, 7, MAX_HEX_RES):
        res2, q2, r2 = hex_unpack(hex_pack(q, r, res))
        assert (res2 == res).all() and (q2 == q).all() and (r2 == r).all()


def test_ids_distinct_across_resolutions():
    lon, lat = _rand_lonlat(1000)
    ids = {res: set(hex_cell_ids(lon, lat, res).tolist()) for res in (3, 4, 5)}
    assert not (ids[3] & ids[4]) and not (ids[4] & ids[5])


def test_cube_round_is_nearest_center():
    """Cube rounding must agree with brute-force nearest hex center in the
    cartesian plane (away from measure-zero ties)."""
    res = 4
    R = hex_size(res)
    lon, lat = _rand_lonlat(400)
    q, r = hex_axial(lon, lat, res)
    clon, clat = hex_center(hex_pack(q, r, res))
    # the chosen cell's center must be within circumradius R of the point
    d = np.hypot(lon - clon, lat - clat)
    assert (d <= R * (1 + 1e-9)).all()
    # and no neighbor center is strictly closer (nearest-center property)
    for dq, dr in kring_offsets(1)[1:]:
        nlon, nlat = hex_center(hex_pack(q + dq, r + dr, res))
        dn = np.hypot(lon - nlon, lat - nlat)
        assert (d <= dn * (1 + 1e-9)).all()


def test_center_rebins_to_same_cell():
    lon, lat = _rand_lonlat(500)
    for res in (2, 6, 10):
        c = hex_cell_ids(lon, lat, res)
        clon, clat = hex_center(c)
        assert (hex_cell_ids(clon, clat, res) == c).all()


def test_hex_parent_is_coarser_bin_of_center():
    lon, lat = _rand_lonlat(300)
    child = hex_cell_ids(lon, lat, 8)
    parent = hex_parent(child, 5)
    res, _, _ = hex_unpack(parent)
    assert (res == 5).all()
    clon, clat = hex_center(child)
    assert (parent == hex_cell_ids(clon, clat, 5)).all()


def test_kring_size_and_distance():
    for radius in (0, 1, 2, 5):
        offs = kring_offsets(radius)
        assert len(offs) == 3 * radius * (radius + 1) + 1
        dq = np.array([o[0] for o in offs])
        dr = np.array([o[1] for o in offs])
        assert hex_distance(dq, dr, 0, 0).max() == (radius if radius else 0)
        # nothing at hex-distance <= radius is missing
        grid = [
            (a, b)
            for a in range(-radius - 1, radius + 2)
            for b in range(-radius - 1, radius + 2)
            if hex_distance(np.array([a]), np.array([b]), 0, 0)[0] <= radius
        ]
        assert set(offs) == set(grid)


def test_rings_for_distance_covers_ball():
    """Property: any two points within D land in cells whose hex-distance
    is <= rings_for_distance(D, res) — the kRing equi-join misses no pair."""
    for res in (2, 3, 4):
        R = hex_size(res)
        for frac in (0.3, 1.0, 2.7, 6.0):
            D = R * frac
            rings = rings_for_distance(D, res)
            lon1, lat1 = _rand_lonlat(600)
            theta = RNG.uniform(0, 2 * np.pi, 600)
            rad = RNG.uniform(0, D, 600)
            lon2 = lon1 + rad * np.cos(theta)
            lat2 = lat1 + rad * np.sin(theta)
            q1, r1 = hex_axial(lon1, lat1, res)
            q2, r2 = hex_axial(lon2, lat2, res)
            assert hex_distance(q1, r1, q2, r2).max() <= rings


def test_catalyst_twin_matches_numpy(spark):
    from geowave_spark.operators.indexing import with_hex_bins

    lon, lat = _rand_lonlat(2000)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(lon, lat)], "lon: double, lat: double"
    )
    for res in (3, 6):
        rows = with_hex_bins(df, res=res).orderBy("lon", "lat").collect()
        order = np.lexsort((lat, lon))
        q, r = hex_axial(lon[order], lat[order], res)
        assert [(row.hex_q, row.hex_r) for row in rows] == list(zip(q.tolist(), r.tolist()))


def test_duckdb_twin_matches_numpy(tmp_path):
    from geowave_spark.operators.indexing import hex_bins_sql

    lon, lat = _rand_lonlat(2000)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES " +
                ",".join(f"({x!r}, {y!r})" for x, y in zip(lon, lat)) +
                ") t(lon, lat)")
    res = 6
    got = con.execute(
        f"SELECT hex_q, hex_r FROM pts p, {hex_bins_sql('p.lon', 'p.lat', res)} ORDER BY lon, lat"
    ).fetchall()
    order = np.lexsort((lat, lon))
    q, r = hex_axial(lon[order], lat[order], res)
    assert got == list(zip(q.tolist(), r.tolist()))


@pytest.mark.usefixtures("geo001")
def test_knn_hexring_equals_brute(spark, geo001):
    """Ring-expansion hex kNN == brute-force kNN on the sf0.001 fixture.
    Retirement at a shrunken radius may only fire when the true top-k is
    already in hand (rings_for_distance covers the full r-ball, so >= k
    in-radius rows at radius r IS the answer); k=5 at d=1.5 runs two
    rounds."""
    from knn_oracle import knn_join_brute

    from geowave_spark.operators.knn import knn_join_hexring_adaptive

    pts = spark.read.parquet(f"{geo001}/points.parquet")
    queries = pts.filter(F.col("fid").endswith("0")).select(
        F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    k, dist = 5, 1.5
    adaptive = knn_join_hexring_adaptive(queries, pts, k=k, max_distance_deg=dist)
    brute = knn_join_brute(queries, pts, k=k, max_distance_deg=dist)
    a = {tuple(r) for r in adaptive.collect()}
    b = {tuple(r) for r in brute.collect()}
    assert a == b and len(a) > 0


@pytest.mark.usefixtures("geo001")
def test_knn_hexring_adaptive_equals_fixed(spark, geo001, monkeypatch):
    """Ring-expansion hex kNN == fixed-radius hex kNN.  With
    START_FRACTION = 1 the round schedule collapses to one round at the
    full search radius, which is the fixed full-ball hex join; the default
    schedule (2 rounds at these parameters) must return the same rows."""
    from geowave_spark.operators import knn

    pts = spark.read.parquet(f"{geo001}/points.parquet")
    queries = pts.filter(F.col("fid").endswith("0")).select(
        F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    k, dist = 5, 1.5
    adaptive = {
        tuple(r)
        for r in knn.knn_join_hexring_adaptive(queries, pts, k=k, max_distance_deg=dist).collect()
    }
    monkeypatch.setattr(knn, "START_FRACTION", 1.0)
    fixed = {
        tuple(r)
        for r in knn.knn_join_hexring_adaptive(queries, pts, k=k, max_distance_deg=dist).collect()
    }
    assert adaptive == fixed and len(adaptive) > 0


def test_hex_cover_is_superset_of_point_cells(spark):
    """The conservative axial-rectangle cover must contain every cell a
    point of the covered bbox can bin to — otherwise the hex PIP join
    would silently lose candidate pairs."""
    res = 4
    minx, miny, maxx, maxy = -7.3, 12.1, 22.8, 31.4
    wkt = f"POLYGON(({minx} {miny},{maxx} {miny},{maxx} {maxy},{minx} {maxy},{minx} {miny}))"
    from geowave_spark.operators.spatial_join import hex_cover_cells_udf

    df = spark.createDataFrame([(wkt,)], "w: string")
    cover = set(df.select(F.explode(hex_cover_cells_udf(res)("w"))).toPandas().iloc[:, 0])
    lon = RNG.uniform(minx, maxx, 5000)
    lat = RNG.uniform(miny, maxy, 5000)
    assert set(hex_cell_ids(lon, lat, res).tolist()) <= cover


def test_pip_join_hex_equals_fixed(spark, geo001):
    """mode='hex' must produce byte-identical join rows to mode='fixed'
    (same refine, different bucket geometry)."""
    from geowave_spark.operators.spatial_join import pip_join

    pts = spark.read.parquet(f"{geo001}/points.parquet")
    zones = spark.read.parquet(f"{geo001}/zones.parquet").filter(
        F.col("zclass") == "convex"
    )
    cols = ["fid", "zone_id", "lon", "lat"]
    hexed = {tuple(r) for r in pip_join(pts, zones, mode="hex").select(*cols).collect()}
    fixed = {tuple(r) for r in pip_join(pts, zones).select(*cols).collect()}
    assert hexed == fixed and len(hexed) > 0


def test_res20_valid_over_full_lonlat_domain():
    """The packed-key bias must admit MAX_HEX_RES over the whole domain:
    at res 20 the axial q coordinate reaches ~3.1e6 near lon=±180, which
    overflowed the original 2^21 bias (review regression pin)."""
    from geowave_spark.sfc.hexgrid import MAX_HEX_RES, hex_cell_ids, hex_unpack

    lon = np.array([-180.0, 180.0, 175.0, -175.0, 0.0])
    lat = np.array([-90.0, 90.0, 0.0, -89.9, 89.9])
    cells = hex_cell_ids(lon, lat, MAX_HEX_RES)
    res, q, r = hex_unpack(cells)
    assert (res == MAX_HEX_RES).all()
    # round-trips through pack/unpack (no field bleed at the extremes)
    q2, r2 = hex_axial(lon, lat, MAX_HEX_RES)
    assert (q == q2).all() and (r == r2).all()
