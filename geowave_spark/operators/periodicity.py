"""Per-entity temporal periodicity: chi-square uniformity of the
hour-of-day activity profile.

The movement/behavior diagnostic next to the sessionization and co-travel
operators: an entity whose events bunch into a few hours of the day
(commuters, cron jobs, bots) scores high; a uniformly active one scores
near zero.  Pearson's chi-square against the uniform 24-bin profile
reduces algebraically to exact integer arithmetic:

    chi2 = sum_i (o_i - n/24)^2 / (n/24)  =  (24 * sum_i o_i^2 - n^2) / n

so the statistic is one integer expression over per-entity integer sums
(zero-count hours are handled by the algebra — no 24-row densify pass is
needed).  ``chi2_micro = (24*so2 - n*n) * 1e6 DIV n`` is engine-exact
(all values non-negative, so truncating and flooring division agree).

Hour of day is tz-free epoch arithmetic on both engines: with ``us`` the
microseconds since 1970-01-01 00:00 (the instant of a TIMESTAMP, the wall
clock read as UTC for a TIMESTAMP_NTZ), ``hh = pmod(us, 86400e6) DIV
3600e6``, which is the non-negative remainder of ``floor(us / 3600e6)``
modulo 24.  The session timezone never enters, so a TIMESTAMP column whose
events straddle a daylight-saving change bins the same in every session.

100 TB shape: one groupBy to (entity, hour) counts, one re-agg to
entities — both uniform keys; the hour dimension bounds the first agg's
output at 24x the entity count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

__all__ = ["hourly_periodicity", "hourly_periodicity_sql"]

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 24 * _US_PER_HOUR


def _utc_hour(events: DataFrame, ts_col: str) -> Column:
    """Hour of day (0-23) from epoch microseconds, never the session tz.
    The dividend is an integer below 2^37, so the double quotient floors
    exactly (no integer DIV exists on a Column)."""
    ts = F.col(ts_col)
    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        us = F.timestamp_diff("MICROSECOND", F.lit("1970-01-01").cast("timestamp_ntz"), ts)
    else:
        us = F.unix_micros(ts)
    return F.floor(F.pmod(us, F.lit(_US_PER_DAY)) / _US_PER_HOUR)


def hourly_periodicity(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    min_events: int = 24,
) -> DataFrame:
    """Per-entity hour-of-day chi-square: (entity, n_events,
    n_hours_active, chi2_micro), entities with >= ``min_events`` events
    (below that the 24-bin statistic is noise)."""
    if min_events < 1:
        raise ValueError("min_events must be >= 1")
    per_hour = (
        events.select(
            F.col(entity_col).alias("entity"), _utc_hour(events, ts_col).alias("hh")
        )
        .groupBy("entity", "hh")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    return (
        per_hour.groupBy("entity")
        .agg(
            F.sum("o").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours_active"),
            F.sum(F.col("o") * F.col("o")).alias("_so2"),
        )
        .filter(F.col("n_events") >= min_events)
        .select(
            "entity",
            "n_events",
            "n_hours_active",
            F.expr(
                "(24L * _so2 - n_events * n_events) * 1000000L DIV n_events"
            ).alias("chi2_micro"),
        )
    )


def hourly_periodicity_sql(
    events_table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    min_events: int = 24,
) -> str:
    """DuckDB twin: identical integer algebra (``//`` floor division
    agrees with Spark's DIV on these non-negative values); ``epoch_us``
    reads a naive TIMESTAMP as UTC, like the engine side."""
    return f"""
        WITH per_hour AS (
          SELECT {entity_col} AS entity,
                 (epoch_us({ts_col}) % {_US_PER_DAY} + {_US_PER_DAY})
                   % {_US_PER_DAY} // {_US_PER_HOUR} AS hh,
                 COUNT(*) AS o
          FROM {events_table} GROUP BY 1, 2),
        agg AS (
          SELECT entity, SUM(o) AS n_events, COUNT(*) AS n_hours_active,
                 SUM(o * o) AS so2
          FROM per_hour GROUP BY 1)
        SELECT entity, n_events, n_hours_active,
               (24 * so2 - n_events * n_events) * 1000000 // n_events
                 AS chi2_micro
        FROM agg WHERE n_events >= {int(min_events)}
    """
