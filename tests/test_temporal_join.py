"""As-of and interval joins (the brief's custom-operator family)."""

import datetime as dt

from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    def test_semantics(self, spark):
        from geowave_spark.operators.temporal_join import asof_join

        builds = spark.createDataFrame(
            [
                (1, _ts("2024-01-01T10:00"), 100.0),
                (1, _ts("2024-01-01T12:00"), 120.0),
                (2, _ts("2024-01-01T11:00"), 200.0),
            ],
            "user_id long, ts timestamp, value double",
        )
        probes = spark.createDataFrame(
            [
                (10, 1, _ts("2024-01-01T11:30")),  # -> 100.0 (latest prior)
                (11, 1, _ts("2024-01-01T12:00")),  # -> 120.0 (equal ts matches)
                (12, 1, _ts("2024-01-01T09:00")),  # -> NULL (no prior)
                (13, 2, _ts("2024-01-02T00:00")),  # -> 200.0
                (14, 3, _ts("2024-01-01T12:00")),  # -> NULL (key unseen)
            ],
            "event_id long, user_id long, ts timestamp",
        )
        got = {
            r.event_id: r.asof_value
            for r in asof_join(probes, builds, key_col="user_id", value_cols=["value"]).collect()
        }
        assert got == {10: 100.0, 11: 120.0, 12: None, 13: 200.0, 14: None}

    def test_duplicate_build_ts_tie_breaks_deterministically(self, spark):
        from geowave_spark.operators.temporal_join import asof_join

        # three build rows with IDENTICAL (key, ts): the greatest value
        # struct must win, on every run, regardless of input partitioning
        rows = [(1, _ts("2024-01-01T10:00"), v) for v in (7.0, 3.0, 9.0)]
        probes = spark.createDataFrame(
            [(10, 1, _ts("2024-01-01T11:00"))],
            "event_id long, user_id long, ts timestamp",
        )
        for parts in (1, 3):
            builds = spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            ).repartition(parts)
            got = asof_join(
                probes, builds, key_col="user_id", value_cols=["value"]
            ).collect()
            assert [r.asof_value for r in got] == [9.0]

    def test_no_inequality_join_in_plan(self, spark):
        from geowave_spark.operators.temporal_join import asof_join

        b = spark.createDataFrame([(1, _ts("2024-01-01"), 1.0)], "user_id long, ts timestamp, value double")
        p = spark.createDataFrame([(9, 1, _ts("2024-01-02"))], "event_id long, user_id long, ts timestamp")
        plan = (
            asof_join(p, b, key_col="user_id", value_cols=["value"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


class TestIntervalJoin:
    def test_boundaries_inclusive_and_multiweek(self, spark):
        from geowave_spark.operators.temporal_join import interval_join

        ivals = spark.createDataFrame(
            [("t1", _ts("2024-01-03T00:00"), _ts("2024-01-20T00:00"))],
            "track_fid string, start_ts timestamp, end_ts timestamp",
        )
        probes = spark.createDataFrame(
            [
                ("p_start", _ts("2024-01-03T00:00")),   # inclusive start
                ("p_mid", _ts("2024-01-10T12:00")),     # middle week
                ("p_end", _ts("2024-01-20T00:00")),     # inclusive end
                ("p_before", _ts("2024-01-02T23:59")),
                ("p_after", _ts("2024-01-20T00:01")),
            ],
            "point_fid string, event_ts timestamp",
        )
        got = {
            r.point_fid
            for r in interval_join(probes, ivals, probe_ts_col="event_ts").collect()
        }
        assert got == {"p_start", "p_mid", "p_end"}

    def test_no_inequality_join_in_plan(self, spark):
        from geowave_spark.operators.temporal_join import interval_join

        ivals = spark.createDataFrame(
            [("t1", _ts("2024-01-03"), _ts("2024-01-20"))],
            "track_fid string, start_ts timestamp, end_ts timestamp",
        )
        probes = spark.createDataFrame(
            [("p", _ts("2024-01-10"))], "point_fid string, event_ts timestamp"
        )
        plan = (
            interval_join(probes, ivals, probe_ts_col="event_ts")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


class TestStaypoints:
    def test_hand_track(self, spark):
        """One track with a known dwell cluster then jumps: only the vertex
        whose next two stay inside the radius anchors a stay."""
        from geowave_spark.operators.trajectory import staypoints

        wkt = "LINESTRING (0 0, 0.05 0.05, 0.01 0.01, 5 5, 5.01 5.01, 9 9)"
        df = spark.createDataFrame([("t1", wkt)], "fid string, geom_wkt string")
        out = staypoints(df, radius_deg=0.15, min_run=3).collect()
        assert [(r.fid, r.anchor_idx) for r in out] == [("t1", 0)]
        assert out[0].anchor_lon == 0.0 and out[0].anchor_lat == 0.0

    def test_min_run_guard(self, spark):
        import pytest as _pytest

        from geowave_spark.operators.trajectory import staypoints

        df = spark.createDataFrame(
            [("t1", "LINESTRING (0 0, 1 1)")], "fid string, geom_wkt string"
        )
        with _pytest.raises(ValueError):
            staypoints(df, min_run=1)

    def test_radius_monotone(self, spark, geo001):
        """Anchors grow monotonically with the radius (set inclusion)."""
        from geowave_spark.operators.trajectory import staypoints

        tracks = spark.read.parquet(str(geo001 / "tracks.parquet"))
        small = {
            (r.fid, r.anchor_idx)
            for r in staypoints(tracks, radius_deg=0.05).collect()
        }
        large = {
            (r.fid, r.anchor_idx)
            for r in staypoints(tracks, radius_deg=0.3).collect()
        }
        assert small <= large and len(large) > len(small)


class TestOdFlows:
    def test_hand_flow(self, spark):
        from geowave_spark.operators.trajectory import od_flows

        tracks = spark.createDataFrame(
            [
                ("t1", "LINESTRING (0.5 0.5, 2 2, 5.5 5.5)"),
                ("t2", "LINESTRING (0.2 0.2, 0.8 0.8)"),  # intra-zone flow
                ("t3", "LINESTRING (9 9, 9.5 9.5)"),  # outside every zone
            ],
            "fid string, geom_wkt string",
        )
        zones = spark.createDataFrame(
            [
                ("A", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
                ("B", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"),
            ],
            "zone_id string, geom_wkt string",
        )
        out = {
            (r.origin_zone, r.dest_zone): r.n_tracks
            for r in od_flows(tracks, zones).collect()
        }
        assert out == {("A", "B"): 1, ("A", "A"): 1}


class TestHourlyPeriodicity:
    def test_hand_profiles(self, spark):
        from datetime import datetime

        from geowave_spark.operators.periodicity import hourly_periodicity

        rows = []
        # user 1: all 24 events at hour 9 -> chi2 = 24*576-576 / 24 = 552
        rows += [(1, datetime(2021, 1, d + 1, 9, 0)) for d in range(24)]
        # user 2: one event every hour -> perfectly uniform, chi2 = 0
        rows += [(2, datetime(2021, 1, 1, h, 0)) for h in range(24)]
        df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
        out = {r.entity: r for r in hourly_periodicity(df, min_events=24).collect()}
        assert out[1].n_hours_active == 1
        assert out[1].chi2_micro == (24 * 24 * 24 - 24 * 24) * 1_000_000 // 24
        assert out[2].n_hours_active == 24 and out[2].chi2_micro == 0

    def test_min_events_filter(self, spark):
        from datetime import datetime

        from geowave_spark.operators.periodicity import hourly_periodicity

        df = spark.createDataFrame(
            [(1, datetime(2021, 1, 1, 9, 0))], "user_id bigint, ts timestamp"
        )
        assert hourly_periodicity(df, min_events=24).count() == 0
        assert hourly_periodicity(df, min_events=1).count() == 1

    def test_validation(self, spark):
        import pytest as _pt

        from geowave_spark.operators.periodicity import hourly_periodicity

        df = spark.createDataFrame([], "user_id bigint, ts timestamp")
        with _pt.raises(ValueError):
            hourly_periodicity(df, min_events=0)

    def test_rows_independent_of_session_timezone(self, spark):
        """q_hourly_periodicity, and the operator over a TIMESTAMP column
        whose instants straddle a daylight-saving change, return the same
        rows under a UTC and an America/Los_Angeles session.  (The fixture's
        naive timestamps load as TIMESTAMP_NTZ; the DST frame is what a
        session-tz ``hour()`` gets wrong: 12:00 UTC is 04:00 PST before
        2021-03-14 and 05:00 PDT after it.)"""
        from test_oracle_parity import SF_DIR

        from geowave_spark.operators.periodicity import hourly_periodicity
        from geowave_spark.queries import q_hourly_periodicity

        noon_utc = [
            (1, dt.datetime(2021, 3, d, 12, 0, tzinfo=dt.timezone.utc))
            for d in range(1, 32)
        ]
        dst = spark.createDataFrame(noon_utc, "user_id bigint, ts timestamp")

        def rows():
            q = q_hourly_periodicity(spark, SF_DIR).collect()
            return sorted(map(tuple, q)), sorted(map(tuple, hourly_periodicity(dst).collect()))

        key = "spark.sql.session.timeZone"
        before = spark.conf.get(key)
        try:
            spark.conf.set(key, "UTC")
            utc = rows()
            spark.conf.set(key, "America/Los_Angeles")
            la = rows()
        finally:
            spark.conf.set(key, before)
        assert utc[0] and utc[1] == [(1, 31, 1, 713_000_000)]
        assert la == utc
