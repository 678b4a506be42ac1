"""The benchmark workloads.

Each workload is one client in a closed loop on ``local[N]``: the next
engine call starts only when the previous one has returned, and every
engine call is one operation whose latency is recorded.  A workload

- ``generate``s its inputs from the seed (numpy only, outside all timing);
- ``setup``s: reads its inputs, builds what the timed phase needs (the
  index, for ``indexed_queries``) and warms every timed call on a small
  input, independent calls concurrently;
- runs ``iteration``s in the timed phase;
- answers ``expected(key)`` from the oracle, after the timed phase, for
  every result key the iterations recorded.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np

import gen
from oracle import fingerprint_of, kde_fingerprint_cols

KDE_LEVELS, KDE_TILE = (4, 6), 4
REGION_CELL_DEG = 0.5
KNN_K, KNN_DIST, KNN_QUERY_MOD = 10, 1.0, 100
COLOC_D = 0.05  # colocation radius; the hot cell is one COLOC_D square


def _sizes(spec: dict, scale: float) -> dict:
    return {k: max(int(v * scale), lo) for k, (v, lo) in spec.items()}


class BatchAnalytics:
    """One pass = the write-then-read pipeline (with_point_cells ->
    write_indexed -> read_indexed, pip_join on the indexed probe,
    zonal_stats on the un-indexed probe, kde_pyramid) over clustered points and
    convex + concave zones, then the round-bound operators (region_label,
    knn_join_adaptive) and colocation_pi over a smaller clustered table with
    one hot cell."""

    name = "batch_analytics"
    SIZES = {"points": (100_000, 2_000), "zones": (48, 6), "small_points": (24_000, 1_000),
             "warm_points": (300, 300), "warm_small": (30, 30)}
    HOT_SHARE = 0.05  # of small_points, inside one COLOC_D x COLOC_D cell

    def __init__(self, scale: float):
        self.sizes = _sizes(self.SIZES, scale)
        self.rows_per_iteration = self.sizes["points"] + self.sizes["small_points"]

    def generate(self, rng, d: Path) -> dict:
        pts = gen.points_table(rng, self.sizes["points"])
        zones, hp, parts = gen.zones_tables(rng, self.sizes["zones"])
        small = gen.points_table(rng, self.sizes["small_points"], hot_share=self.HOT_SHARE,
                                 hot_side=COLOC_D)
        warm = self.sizes["warm_points"]
        return {
            "points": gen.write(pts, d / "points", files=8),
            "zones": gen.write(zones, d / "zones"),
            "halfplanes": gen.write(hp, d / "halfplanes"),
            "parts": gen.write(parts, d / "parts"),
            "small": gen.write(small, d / "small", files=8),
            "warm": gen.write(pts.slice(0, warm), d / "warm", files=4),
            "warm_small": gen.write(small.slice(0, self.sizes["warm_small"]), d / "warm_small",
                                    files=2),
        }

    def setup(self, run, out: Path) -> None:
        read = run.spark.read.parquet
        self.pts, self.zones = read(run.inputs["points"]), read(run.inputs["zones"])
        self.small = read(run.inputs["small"])
        run.concurrently(*self._chains(run, read(run.inputs["warm"]),
                                       read(run.inputs["warm_small"]), out))

    def iteration(self, run, out: Path) -> None:
        for chain in self._chains(run, self.pts, self.small, out):
            for call in chain:
                call()

    def _chains(self, run, pts, small, out: Path) -> list[list]:
        """The pass as independent chains of calls, in pass order."""
        from pyspark.sql import functions as F

        from geowave_spark.operators.hotspot import cell_counts, colocation_pi
        from geowave_spark.operators.indexing import with_point_cells
        from geowave_spark.operators.kde import kde_pyramid
        from geowave_spark.operators.knn import knn_join_adaptive
        from geowave_spark.operators.regionize import region_label
        from geowave_spark.operators.spatial_join import pip_join, zonal_stats
        from geowave_spark.sources.tables import read_indexed, write_indexed

        path, got = str(out / "indexed"), {}

        def encode_write_read():
            cells = run.call("indexing.with_point_cells", lambda: with_point_cells(pts),
                             op=False, encode=lambda df: df.agg(F.max("cell")).collect())
            run.call("tables.write_indexed", lambda: write_indexed(cells, path))
            got["idx"] = run.call("tables.read_indexed", lambda: read_indexed(run.spark, path))

        # the indexed probe joins on its stored cell; the un-indexed probe
        # (zonal_stats = pip_join + per-zone aggregation) encodes on the fly
        def pip_indexed():
            def join():
                return pip_join(got["idx"], self.zones, point_cell_col="cell")

            run.call("spatial_join.pip_join",
                     lambda: fingerprint_of(run.corrupt("pip", join()),
                                            [F.col("fid"), F.col("zone_id")]),
                     check=("pip",), probe="indexed", output_rows=lambda fp: fp[0],
                     candidates=join)

        def zonal_raw():
            def zonal():
                aggs = [F.count(F.lit(1)).alias("n"), F.sum("magnitude").alias("mag")]
                return zonal_stats(pts, self.zones, aggs)

            run.call("spatial_join.zonal_stats", lambda: _rows(run.corrupt("zonal", zonal())),
                     check=("zonal",), probe="raw",
                     output_rows=lambda rows: sum(r[1] for r in rows), candidates=zonal)

        def kde():
            run.call("kde.kde_pyramid",
                     lambda: fingerprint_of(run.corrupt("kde", kde_pyramid(
                         pts, KDE_LEVELS[0], KDE_LEVELS[1], KDE_TILE)), kde_fingerprint_cols()),
                     check=("kde",))

        def region():
            run.call("regionize.region_label",
                     lambda: _rows(run.corrupt("region", region_label(
                         cell_counts(small, REGION_CELL_DEG)))),
                     check=("region",))

        def knn():
            queries = small.filter(F.col("fid") % KNN_QUERY_MOD == 0).select(
                F.col("fid").alias("qid"), F.col("lon").alias("qlon"),
                F.col("lat").alias("qlat"))
            run.call("knn.knn_join_adaptive",
                     lambda: _rows(run.corrupt("knn", knn_join_adaptive(
                         queries, small, k=KNN_K, max_distance_deg=KNN_DIST))),
                     check=("knn",))

        def coloc():
            run.call("hotspot.colocation_pi",
                     lambda: _rows(run.corrupt("coloc", colocation_pi(small, d=COLOC_D))),
                     check=("coloc",), candidates=lambda: colocation_pi(small, d=COLOC_D))

        return [[encode_write_read, pip_indexed], [zonal_raw, kde], [region], [knn, coloc]]

    def expected(self, run, key):
        o, i = run.oracle, run.inputs
        return {
            "pip": lambda: o.pip_fingerprint(i["points"], i["halfplanes"], i["parts"]),
            "zonal": lambda: o.zonal(i["points"], i["halfplanes"], i["parts"]),
            "kde": lambda: o.kde_fingerprint(i["points"], KDE_LEVELS, KDE_TILE),
            "region": lambda: o.region_label(i["small"], REGION_CELL_DEG),
            "knn": lambda: o.knn(i["small"], KNN_QUERY_MOD, KNN_K, KNN_DIST),
            "coloc": lambda: o.colocation(i["small"], COLOC_D),
        }[key[0]]()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class IndexedQueries:
    """prepare_layouts in set-up, then a fixed stratified mix of box
    (cql_routed_query with BBOX only), box+time (routed_points_query) and CQL
    (cql_routed_query with BBOX, attribute predicates and half the time a
    DURING window) over the seeded points."""

    name = "indexed_queries"
    SIZES = {"points": (30_000, 2_000)}
    KINDS = ("box", "box_time", "cql")
    # stratified mix: query i cycles through the kinds, then the box classes,
    # then the window classes, then (for CQL) with and without a window; one
    # iteration is one PERIOD of this cycle, so every run holds the same
    # shapes in the same proportions.  Box and window sizes are fixed per
    # class.  A query's latency is set almost wholly by its shape and place
    # (two runs of one seed: correlation 0.98 over their 96 latencies), so
    # with queries drawn from --seed the p90 followed the draw; the timed
    # queries are drawn once from QUERY_SEED instead, and --seed draws the
    # points (with them the index and every result) and the warm-up queries
    QUERY_SEED = 2012
    BOXES = (("blob", 0.015), ("blob", 0.045), ("blob", 0.15),
             ("anywhere", 0.5))  # (centre, half-width in degrees)
    WINDOWS_DAYS = (1 / 6, 3.0, 30.0, 180.0)
    OUT_COLS = ("fid", "lon", "lat", "event_ts", "magnitude", "category")
    # 3 kinds x 4 boxes x 4 windows x 2 CQL time modes; p90 interpolated
    # between order statistics leaves n - 1 - floor(0.9 (n - 1)) latencies
    # beyond it, ten for n = 96
    PERIOD = 96
    # set-up runs WARM_QUERIES queries of the three small-box classes, drawn
    # apart from the timed queries, one after another as in the timed phase,
    # so that every run starts timing at the same point of the JVM's warm-up:
    # after 48 queries of the whole mix its JIT still compiled for 7 s during
    # the next 24 queries, and for 1-2 s per 24 queries 200 queries later
    # (4 vCPUs).  Small boxes plan fastest, so they warm the shared code
    # paths the most per second of set-up; more of them would take the runs
    # of a full benchmark past its time limit.
    WARM_QUERIES = 48

    def __init__(self, scale: float):
        self.sizes = _sizes(self.SIZES, scale)
        # each query is served from the index
        self.rows_per_iteration = self.sizes["points"] * self.PERIOD
        self.next_query = 0

    def generate(self, rng, d: Path) -> dict:
        pts = gen.points_table(rng, self.sizes["points"])
        qrng = np.random.default_rng(self.QUERY_SEED)
        self.queries = [self._query(qrng, i) for i in range(32 * self.PERIOD)]
        small = [i for i in range(2 * self.PERIOD) if self.BOXES[(i // 3) % 4][0] == "blob"]
        self.warm_queries = [self._query(rng, i) for i in small[:self.WARM_QUERIES]]
        return {"points": gen.write(pts, d / "points", files=8)}

    @classmethod
    def _query(cls, rng, i: int) -> dict:
        kind = cls.KINDS[i % 3]
        centre, half = cls.BOXES[(i // 3) % 4]
        days = cls.WINDOWS_DAYS[(i // 12) % 4]
        if centre == "blob":
            cx, cy = gen.CLUSTERS[int(rng.integers(0, len(gen.CLUSTERS)))]
            cx, cy = cx + rng.normal(0, 0.7), cy + rng.normal(0, 0.7)
        else:
            cx, cy = rng.uniform(-165, 165), rng.uniform(-55, 55)
        box = (round(cx - half, 4), round(cy - half, 4), round(cx + half, 4), round(cy + half, 4))
        # windows stay inside the start's calendar year (the router pads a
        # CQL window by 1 ms, so they stop an hour short of New Year)
        span = dt.timedelta(days=days)
        year0 = dt.datetime(int(rng.integers(2012, 2014)), 1, 1)
        room = (dt.datetime(year0.year, 12, 31, 23) - year0 - span).total_seconds()
        t0 = year0 + dt.timedelta(seconds=int(rng.uniform(0, room)))
        t1 = t0 + span
        q = {"kind": kind, "box": box, "t0": t0, "t1": t1}
        if kind == "cql":
            q["min_mag"] = int(rng.integers(1, 60))
            q["cats"] = sorted({f"cat{int(c)}" for c in rng.integers(0, gen.N_CATEGORIES, 3)})
            q["timed"] = (i // 48) % 2 == 0  # the time mode, last factor of PERIOD
        return q

    def setup(self, run, out: Path) -> None:
        from geowave_spark.plans.index_select import prepare_layouts

        self.pts = run.spark.read.parquet(run.inputs["points"])
        self.layouts = run.call("index_select.prepare_layouts", lambda: prepare_layouts(self.pts))
        # warm every query path, and the per-year histograms the router
        # builds lazily (timed windows never cross a year boundary)
        box = (-74.2, 40.6, -73.9, 40.9)
        y12, y13 = ((dt.datetime(*a), dt.datetime(*b)) for a, b in (
            ((2012, 3, 1), (2012, 3, 9)), ((2013, 3, 1), (2013, 3, 9))))
        run.concurrently(*[[lambda kind=kind, t=t, timed=timed: self._run_query(
            run, {"kind": kind, "box": box, "t0": t[0], "t1": t[1], "min_mag": 10,
                  "cats": ["cat1"], "timed": timed})]
            for kind, t, timed in (("box", y12, False), ("box_time", y12, True),
                                   ("cql", y13, True))])
        for q in self.warm_queries:
            self._run_query(run, q)

    def iteration(self, run, out: Path) -> None:
        for _ in range(self.PERIOD):
            q = self.queries[self.next_query % len(self.queries)]
            self.next_query += 1
            self._run_query(run, q)

    def _run_query(self, run, q: dict) -> None:
        from geowave_spark.plans.cql_route import cql_routed_query
        from geowave_spark.plans.index_select import routed_points_query

        def plan():
            if q["kind"] == "box_time":
                return routed_points_query(self.pts, q["box"], q["t0"], q["t1"],
                                           layouts=self.layouts)[0]
            return cql_routed_query(self.pts, _cql(q), layouts=self.layouts)[0]

        def query():
            df = run.call("index_select.plan", plan, op=False, kind=q["kind"])
            if df is None:
                raise RuntimeError("query planning failed")
            return run.call("index_select.exec", lambda: sorted(
                r[0] for r in run.corrupt("query", df.select(*self.OUT_COLS)).collect()),
                op=False)

        run.call("index_select.query", query, check=("query", _sql_where(q)),
                 output_rows=len, kind=q["kind"])

    def expected(self, run, key):
        return run.oracle.query_fids(run.inputs["points"], key[1])


def _cql(q: dict) -> str:
    minx, miny, maxx, maxy = q["box"]
    parts = [f"BBOX(geom, {minx}, {miny}, {maxx}, {maxy})"]
    if q["kind"] == "cql":
        if q["timed"]:
            parts.append(f"event_ts DURING {q['t0'].isoformat()}/{q['t1'].isoformat()}")
        cats = ", ".join(f"'{c}'" for c in q["cats"])
        parts.append(f"magnitude >= {q['min_mag']} AND category IN ({cats})")
    return " AND ".join(parts)


def _sql_where(q: dict) -> str:
    """The oracle's plain SQL filter for query ``q`` (CQL BBOX is closed,
    DURING is open at both ends, routed box+time is [t0, t1))."""
    minx, miny, maxx, maxy = q["box"]
    w = [f"lon >= {minx} AND lon <= {maxx} AND lat >= {miny} AND lat <= {maxy}"]
    t0, t1 = (f"TIMESTAMP '{q[k].isoformat(sep=' ')}'" for k in ("t0", "t1"))
    if q["kind"] == "box_time":
        w.append(f"event_ts >= {t0} AND event_ts < {t1}")
    elif q["kind"] == "cql":
        if q["timed"]:
            w.append(f"event_ts > {t0} AND event_ts < {t1}")
        cats = ", ".join(f"'{c}'" for c in q["cats"])
        w.append(f"magnitude >= {q['min_mag']} AND category IN ({cats})")
    return " AND ".join(w)


WORKLOADS = {w.name: w for w in (BatchAnalytics, IndexedQueries)}
