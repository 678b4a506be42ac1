"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark, no engine code.  The engine
only ever sees the parquet tables written below, and the oracles read the
same files, so both sides agree on every input byte.

Point layer (``points.parquet``):
  fid (long, 0..n-1), lon, lat (double), event_ts (timestamp[us], naive,
  2012-01-01 .. 2014-01-01), magnitude (integer-valued double 1..100),
  category (string, ``cat0`` .. ``cat7``).

Clustering: ``CLUSTER_SHARE`` of the points fall in ``len(CLUSTERS)``
Gaussian blobs (sigma ``CLUSTER_SIGMA`` degrees); the rest are uniform
over lon [-170, 170] x lat [-60, 60].  With a hot cell (``hot_share`` > 0)
that share of the points is moved into one ``hot_side`` x ``hot_side``
degree square, which puts them in one colocation cell.

Zone layer (``zones.parquet``): zone_id (int), geom_wkt (POLYGON WKT),
zclass (``convex`` | ``concave``).  Convex zones are ellipses sampled at
ordered angles; concave zones are stars (alternating radii) around their
centre.  ``zone_halfplanes.parquet`` holds (zone_id, part, a, b, c) rows
with interior ``a*x + b*y <= c``: one part per convex zone, and one part
per fan triangle (centre, v_i, v_i+1) of a star, so the oracle can test
membership without any polygon code; ``zone_parts.parquet`` holds each
part's bounding box (zone_id, part, minx, miny, maxx, maxy) for the
oracle's candidate step.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CLUSTERS = [(-73.98, 40.75), (2.35, 48.86), (139.69, 35.68), (-0.13, 51.51),
            (77.21, 28.61), (-46.63, -23.55), (151.21, -33.87), (31.24, 30.04)]
CLUSTER_SHARE = 0.6
CLUSTER_SIGMA = 0.5
TS_LO = np.datetime64("2012-01-01T00:00:00", "us")
TS_HI = np.datetime64("2014-01-01T00:00:00", "us")
N_CATEGORIES = 8


def points_table(rng: np.random.Generator, n: int, hot_share: float = 0.0,
                 hot_side: float = 0.0, hot_origin=(10.0, 10.0)) -> pa.Table:
    lon = rng.uniform(-170.0, 170.0, n)
    lat = rng.uniform(-60.0, 60.0, n)
    kind = rng.uniform(size=n)
    cl = kind < CLUSTER_SHARE
    centers = np.array(CLUSTERS)[rng.integers(0, len(CLUSTERS), int(cl.sum()))]
    lon[cl] = centers[:, 0] + rng.normal(0.0, CLUSTER_SIGMA, len(centers))
    lat[cl] = centers[:, 1] + rng.normal(0.0, CLUSTER_SIGMA, len(centers))
    if hot_share > 0:
        hot = kind > 1.0 - hot_share
        # strictly inside one hot_side-aligned square (never on its edges)
        lon[hot] = hot_origin[0] + hot_side * rng.uniform(0.02, 0.98, int(hot.sum()))
        lat[hot] = hot_origin[1] + hot_side * rng.uniform(0.02, 0.98, int(hot.sum()))
    span_us = int((TS_HI - TS_LO) / np.timedelta64(1, "us"))
    ts = TS_LO + rng.integers(0, span_us, n).astype("timedelta64[us]")
    return pa.table({
        "fid": np.arange(n, dtype=np.int64),
        "lon": lon,
        "lat": lat,
        "event_ts": pa.array(ts, pa.timestamp("us")),
        "magnitude": rng.integers(1, 101, n).astype(np.float64),
        "category": np.array([f"cat{c}" for c in range(N_CATEGORIES)])[
            rng.integers(0, N_CATEGORIES, n)],
    })


def _halfplanes(ring: np.ndarray) -> list[tuple[float, float, float]]:
    """CCW ring (closed) -> [(a, b, c)] with interior a*x + b*y <= c."""
    out = []
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        a, b = y2 - y1, -(x2 - x1)
        out.append((a, b, a * x1 + b * y1))
    return out


def _ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist()) + "))"


def zones_tables(rng: np.random.Generator, n: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    ids, wkts, classes = [], [], []
    hp = {"zone_id": [], "part": [], "a": [], "b": [], "c": []}
    boxes = {"zone_id": [], "part": [], "minx": [], "miny": [], "maxx": [], "maxy": []}
    n_convex = (2 * n) // 3
    for zid in range(n):
        if rng.uniform() < 0.6:
            cx, cy = CLUSTERS[rng.integers(0, len(CLUSTERS))]
            cx, cy = cx + rng.uniform(-1.5, 1.5), cy + rng.uniform(-1.5, 1.5)
        else:
            cx, cy = rng.uniform(-160.0, 160.0), rng.uniform(-55.0, 55.0)
        r = rng.uniform(0.3, 4.0)
        nv = int(rng.integers(6, 13)) if zid < n_convex else 2 * int(rng.integers(4, 8))
        # ordered angles with bounded gaps (< pi), so every fan triangle
        # around the centre is counter-clockwise and non-degenerate
        ang = 2 * np.pi * (np.arange(nv) + rng.uniform(0.1, 0.9, nv)) / nv
        if zid < n_convex:
            rad = np.full(nv, r)
            ry = r * rng.uniform(0.5, 1.0)
            xs, ys = cx + rad * np.cos(ang), cy + ry * np.sin(ang)
        else:
            rad = np.where(np.arange(nv) % 2 == 0, r, r * rng.uniform(0.35, 0.6, nv))
            xs, ys = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
        ring = np.column_stack([xs, ys])
        ring = np.vstack([ring, ring[:1]])
        if zid < n_convex:
            parts = [ring]
            classes.append("convex")
        else:
            c = np.array([cx, cy])
            parts = [np.vstack([c, ring[i], ring[i + 1], c]) for i in range(nv)]
            classes.append("concave")
        for p, part in enumerate(parts):
            for k, v in zip(("zone_id", "part", "minx", "miny", "maxx", "maxy"),
                            (zid, p, *part.min(axis=0), *part.max(axis=0))):
                boxes[k].append(v)
            for a, b, cc in _halfplanes(part):
                hp["zone_id"].append(zid)
                hp["part"].append(p)
                hp["a"].append(a)
                hp["b"].append(b)
                hp["c"].append(cc)
        ids.append(zid)
        wkts.append(_ring_wkt(ring))
    zones = pa.table({"zone_id": np.array(ids, dtype=np.int32), "geom_wkt": wkts,
                      "zclass": classes})
    halfplanes = pa.table({
        "zone_id": np.array(hp["zone_id"], dtype=np.int32),
        "part": np.array(hp["part"], dtype=np.int32),
        "a": np.array(hp["a"]), "b": np.array(hp["b"]), "c": np.array(hp["c"]),
    })
    return zones, halfplanes, pa.table(boxes)


def write(table: pa.Table, path: Path, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet files under directory ``path``
    (one row group each, so Spark can scan them in parallel); returns the
    glob both Spark and DuckDB read."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:02d}.parquet")
    return str(path / "*.parquet")
