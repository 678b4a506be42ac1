"""Oracle parity for the queries kept OUT of the driver's 50-row gate, and
for the driver-surface queries built on cell-neighborhood joins.

The driver's correctness file records at most 50 rows per round, so the
redundant variants in ``geowave_spark.queries.DRIVER_EXCLUDED`` don't ship in
``__spark_entry__.queries()``.  They remain first-class library surface: this
module runs every one of them against its DuckDB oracle at sf0.01 with the
same comparison the driver applies (row count + sorted column names +
order-insensitive value hash), so deregistering never weakens coverage.

``NEIGHBORHOOD_QUERIES`` adds the driver-surface queries whose operators
probe a cell neighborhood (``operators/neighborhood.py``, plus the weighted
scatter of ``terrain_slope``), so a change to that shared candidate stage is
hash-checked here for every caller, not only by the driver.  ``KNN_QUERIES``
are the driver-surface kNN joins, which use the same stage; their siblings
``distance_join`` and ``dbscan_*`` are in ``DRIVER_EXCLUDED``.
"""

from __future__ import annotations

import hashlib

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _value_hash(rows, col_order):
    def norm(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    lines = sorted("\x1f".join(norm(r[i]) for i in col_order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    from geowave_spark.datagen import ensure_geo_tables

    ensure_geo_tables("sf0.01")  # oracle SQL reads these absolute paths
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _excluded_names():
    from geowave_spark.queries import DRIVER_EXCLUDED

    return sorted(DRIVER_EXCLUDED)


NEIGHBORHOOD_QUERIES = [
    "colocation_pi",
    "colocation_cross_k",
    "convoy_pairs",
    "cotravel_pairs",
    "emerging_hotspots",
    "hotspot_gi_star",
    "moving_clusters",
    "region_label",
    "ripley_k",
    "st_dbscan_clusters",
    "terrain_slope",
]

KNN_QUERIES = ["knn_geodesic", "knn_hexring", "knn_join"]


@pytest.mark.parametrize("name", _excluded_names())
def test_excluded_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("name", NEIGHBORHOOD_QUERIES + KNN_QUERIES)
def test_neighborhood_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


def _assert_matches_oracle(spark, duck, name):
    from geowave_spark.queries import ALL_QUERIES, build_oracles

    sdf = ALL_QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    cur = duck.execute(build_oracles()[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    s_order = sorted(range(len(scols)), key=lambda i: scols[i])
    o_order = sorted(range(len(ocols)), key=lambda i: ocols[i])
    assert _value_hash(srows, s_order) == _value_hash(orows, o_order)


def test_driver_surface_contract():
    """The driver dict stays within the 50-row gate, every entry has an
    oracle, and exclusions never hide a query lacking a registered twin."""
    from geowave_spark.queries import ALL_QUERIES, DRIVER_EXCLUDED, QUERIES, build_oracles

    assert len(QUERIES) <= 50
    oracles = build_oracles()
    assert set(QUERIES) <= set(oracles)
    assert set(DRIVER_EXCLUDED) <= set(ALL_QUERIES)
    assert set(DRIVER_EXCLUDED).isdisjoint(QUERIES)
    assert set(QUERIES) | set(DRIVER_EXCLUDED) == set(ALL_QUERIES)
