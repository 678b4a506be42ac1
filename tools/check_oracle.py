"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] at sf0.01 on Spark AND the matching
oracle_sql()[name] in DuckDB, comparing row count, sorted column names, and an
order-insensitive value hash.  A match prints ``ok    name: N rows, hash H
in Ts``, so the hash of a query's rows can be compared across commits.  Usage:

    python tools/check_oracle.py [query ...]      # default: all
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"


def value_hash(rows: list[tuple], col_order: list[int]) -> str:
    def norm(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    lines = sorted("\x1f".join(norm(r[i]) for i in col_order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    import duckdb

    import __spark_entry__ as e
    from geowave_spark.session import get_spark

    wanted = [a for a in sys.argv[1:] if a != "--driver-surface"]
    if "--driver-surface" in sys.argv[1:]:
        qs = e.queries()  # exactly what the driver gate sees (<= 50 entries)
        oracles = e.oracle_sql()
    else:
        # default: the FULL library surface, including the redundant variants
        # kept out of the driver's 50-row gate (queries.DRIVER_EXCLUDED)
        from geowave_spark.datagen import ensure_geo_tables
        from geowave_spark.queries import ALL_QUERIES, build_oracles

        ensure_geo_tables("sf0.01")
        qs = ALL_QUERIES
        oracles = build_oracles()
    spark = get_spark("check-oracle", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle, rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        dt = time.time() - t0
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: schema {sorted(scols)} != {sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rows {len(srows)} != {len(orows)}")
            ok = False
        else:
            s_order = [scols.index(c) for c in sorted(scols)]
            o_order = [ocols.index(c) for c in sorted(ocols)]
            h1 = value_hash(srows, s_order)
            h2 = value_hash(orows, o_order)
            if h1 != h2:
                print(f"FAIL  {name}: value hash {h1} != {h2} ({len(srows)} rows)")
                # print first few diffs
                sset = {tuple(str(r[i]) for i in s_order) for r in srows}
                oset = {tuple(str(r[i]) for i in o_order) for r in orows}
                for d in list(sset - oset)[:3]:
                    print("   spark-only:", d)
                for d in list(oset - sset)[:3]:
                    print("   oracle-only:", d)
                ok = False
        if ok:
            print(f"ok    {name}: {len(srows)} rows, hash {h1} in {dt:.1f}s")
        else:
            failures += 1
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
