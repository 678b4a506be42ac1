"""Independent oracles (DuckDB) and the result comparisons.

Every oracle runs on the generated parquet, outside the timed phase and
outside set-up.  Where the repo ships a DuckDB twin of an operator
(``kde_oracle_sql``, ``region_label_sql``) it is used as is; point-in-zone
is the half-plane test over ``zone_halfplanes``; colocation keeps
``colocation_pi_sql``'s arithmetic but finds pairs with a 1-D strip join
(an all-pairs join is quadratic in the hot cell's neighbours' neighbours);
kNN ranks every in-range pair with ROW_NUMBER; queries are plain SQL
filters.

Large results (PIP pairs, KDE cells) are compared by a fingerprint that
Spark computes inside the timed operation (so every output column is
evaluated) and Python recomputes exactly from the oracle rows.
"""

from __future__ import annotations

import duckdb

# per-column weights of the row hash h = sum(c_j * W_j); odd, < 2^21
_WEIGHTS = (1, 1_048_583, 524_309, 262_147, 131_101, 65_537, 32_771, 16_411, 8_209)
_MOD1, _MOD2 = 1_000_003, 999_983


def fingerprint_expr(cols):
    """Spark aggregate columns giving (rows, sum h, sum (h mod p)(h mod q))
    over integer-valued columns ``cols`` (Column objects)."""
    from pyspark.sql import functions as F

    h = None
    for c, w in zip(cols, _WEIGHTS):
        term = c.cast("decimal(38,0)") * F.lit(w).cast("decimal(38,0)")
        h = term if h is None else h + term
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h).alias("s1"),
        F.sum(F.pmod(h, F.lit(_MOD1)) * F.pmod(h, F.lit(_MOD2))).alias("s2"),
    ]


def fingerprint_of(df, cols) -> tuple[int, int, int]:
    row = df.agg(*fingerprint_expr(cols)).collect()[0]
    return (int(row["n"]), int(row["s1"] or 0), int(row["s2"] or 0))


def fingerprint_rows(rows) -> tuple[int, int, int]:
    n = s1 = s2 = 0
    for r in rows:
        h = sum(int(c) * w for c, w in zip(r, _WEIGHTS))
        n += 1
        s1 += h
        s2 += (h % _MOD1) * (h % _MOD2)
    return (n, s1, s2)


# KDE rows as integers: normalized / percentile are exact ratios, so their
# 2^30-scaled floors agree bit for bit across engines
KDE_INT_COLS = ("level", "cell_id", "weight_scaled", "floor(normalized * 1073741824)",
                "floor(percentile * 1073741824)", "tile_x", "tile_y", "px", "py")


def kde_fingerprint_cols():
    from pyspark.sql import functions as F

    return [F.expr(c) for c in KDE_INT_COLS]


class Oracle:
    def __init__(self, tmp_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute(f"SET threads={int(threads)}")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def pip_pairs_sql(self, points: str, halfplanes: str, parts: str) -> str:
        return f"""
            WITH cand AS (
              SELECT p.fid, p.lon, p.lat, b.zone_id, b.part
              FROM '{points}' p JOIN '{parts}' b
                ON p.lon BETWEEN b.minx AND b.maxx AND p.lat BETWEEN b.miny AND b.maxy),
            inside AS (
              SELECT c.fid, c.zone_id
              FROM cand c JOIN '{halfplanes}' h ON h.zone_id = c.zone_id AND h.part = c.part
              GROUP BY c.fid, c.zone_id, c.part
              HAVING bool_and(h.a * c.lon + h.b * c.lat <= h.c))
            SELECT DISTINCT fid, zone_id FROM inside"""

    def pip_fingerprint(self, points: str, halfplanes: str, parts: str):
        return fingerprint_rows(self.rows(self.pip_pairs_sql(points, halfplanes, parts)))

    def zonal(self, points: str, halfplanes: str, parts: str) -> list[tuple]:
        pairs = self.pip_pairs_sql(points, halfplanes, parts)
        return sorted(self.rows(f"""
            SELECT j.zone_id, count(*), CAST(sum(p.magnitude) AS DOUBLE)
            FROM ({pairs}) j JOIN '{points}' p USING (fid) GROUP BY j.zone_id"""))

    def kde_fingerprint(self, points: str, levels: tuple[int, int], tile: int):
        from geowave_spark.operators.kde import kde_oracle_sql

        sql = kde_oracle_sql(points, levels[0], levels[1], tile)
        cols = ", ".join(KDE_INT_COLS)
        return fingerprint_rows(self.rows(f"SELECT {cols} FROM ({sql})"))

    def region_label(self, points: str, cell_deg: float) -> list[tuple]:
        from geowave_spark.operators.regionize import region_label_sql

        return sorted(self.rows(region_label_sql(f"'{points}'", cell_deg)))

    def knn(self, points: str, query_mod: int, k: int, dist: float) -> list[tuple]:
        return sorted(self.rows(f"""
            SELECT qid, fid, dist_sq, rank FROM (
              SELECT q.fid AS qid, p.fid AS fid,
                     (p.lon - q.lon) * (p.lon - q.lon) + (p.lat - q.lat) * (p.lat - q.lat) AS dist_sq,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.fid
                       ORDER BY (p.lon - q.lon) * (p.lon - q.lon)
                                + (p.lat - q.lat) * (p.lat - q.lat), p.fid) AS rank
              FROM (SELECT * FROM '{points}' WHERE fid % {int(query_mod)} = 0) q
              JOIN '{points}' p
                ON p.lon BETWEEN q.lon - {2 * dist!r} AND q.lon + {2 * dist!r}
               AND p.lat BETWEEN q.lat - {2 * dist!r} AND q.lat + {2 * dist!r}
              WHERE (p.lon - q.lon) * (p.lon - q.lon) + (p.lat - q.lat) * (p.lat - q.lat)
                    <= {dist * dist!r})
            WHERE rank <= {int(k)}"""))

    def colocation(self, points: str, d: float) -> list[tuple]:
        c = float(d)
        strips = " UNION ALL ".join(
            f"SELECT a.pid AS pa, a.x AS ax, a.y AS ay, a.cat AS ca, "
            f"b.pid AS pb, b.x AS bx, b.y AS by, b.cat AS cb "
            f"FROM p a JOIN p b ON b.gx = a.gx + ({o})"
            for o in (-1, 0, 1)
        )
        return sorted(self.rows(f"""
            WITH p AS (SELECT fid AS pid, lon AS x, lat AS y, category AS cat,
                              CAST(floor(lon / {c!r}) AS BIGINT) AS gx
                       FROM '{points}'),
            tot AS (SELECT cat, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY cat),
            cand AS ({strips}),
            pr AS (SELECT least(ca, cb) AS cat_a, greatest(ca, cb) AS cat_b,
                          CASE WHEN ca < cb THEN pa ELSE pb END AS lo_pid,
                          CASE WHEN ca < cb THEN pb ELSE pa END AS hi_pid
                   FROM cand
                   WHERE pa < pb AND ca <> cb
                     AND (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= {c!r} * {c!r}),
            g AS (SELECT cat_a, cat_b, CAST(count(*) AS BIGINT) AS pairs,
                         CAST(count(DISTINCT lo_pid) AS BIGINT) AS part_a,
                         CAST(count(DISTINCT hi_pid) AS BIGINT) AS part_b
                  FROM pr GROUP BY cat_a, cat_b)
            SELECT g.cat_a, g.cat_b, g.pairs, ta.n, tb.n, g.part_a, g.part_b,
                   CAST(least((g.part_a * 1000000) // ta.n,
                              (g.part_b * 1000000) // tb.n) AS BIGINT)
            FROM g JOIN tot ta ON ta.cat = g.cat_a JOIN tot tb ON tb.cat = g.cat_b"""))

    def query_fids(self, points: str, where: str) -> list[int]:
        return sorted(r[0] for r in self.rows(f"SELECT fid FROM '{points}' WHERE {where}"))
