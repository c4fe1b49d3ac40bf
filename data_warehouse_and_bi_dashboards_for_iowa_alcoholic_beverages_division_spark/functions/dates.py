"""Date dimension generation as native SQL expressions.

The reference builds its calendar driver-side in pandas
(``/root/reference/dags/main_pipeline.py:296-389``): ``pd.date_range``
plus ``Series.map`` over Python season functions. Here the whole table
is generated distributed — ``sequence`` + ``explode`` for the calendar
spine and a ``CASE`` ladder for the astronomical seasons — so it works
for any range without a driver funnel and every derived attribute
stays inside whole-stage codegen.

The attributes are SQL text, not nested ``Column`` builders: every
``F.*`` call, operator and ``alias`` on a ``Column`` is one py4j round
trip to the JVM, and building the calendar that way took about a
thousand of them. One ``selectExpr`` sends the whole projection in a
single call and Spark's parser builds the same expressions.

Season boundaries (reference ``main_pipeline.py:315-331``):
spring Mar 21, summer Jun 22, autumn Sep 23, winter Dec 22.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

# 1=spring 2=summer 3=autumn 4=winter (reference ``:336-354``) over a
# ``FullDate`` column; a season starts on (month, day) or after it
_SEASON_NUMBER_SQL = """CASE
  WHEN month(FullDate) = 12 AND dayofmonth(FullDate) >= 22
    OR month(FullDate) < 3 OR (month(FullDate) = 3 AND dayofmonth(FullDate) < 21) THEN 4
  WHEN month(FullDate) > 9 OR (month(FullDate) = 9 AND dayofmonth(FullDate) >= 23) THEN 3
  WHEN month(FullDate) > 6 OR (month(FullDate) = 6 AND dayofmonth(FullDate) >= 22) THEN 2
  ELSE 1
END"""
_SEASON_NAME_SQL = f"element_at(array('spring', 'summer', 'autumn', 'winter'), {_SEASON_NUMBER_SQL})"

_CALENDAR_SQL = (
    "datediff(FullDate, lo) + 1 AS DateId",
    "FullDate",
    "dayofyear(FullDate) AS DayOfYearNumber",
    "dayofmonth(FullDate) AS DayOfMonthNumber",
    "weekday(FullDate) + 1 AS DayOfWeekNumber",  # 1=Mon .. 7=Sun
    "date_format(FullDate, 'EEEE') AS DayOfWeekName",
    "weekday(FullDate) + 1 >= 6 AS IsWeekend",
    f"{_SEASON_NUMBER_SQL} AS AstronomicalSeasonNumber",
    f"{_SEASON_NAME_SQL} AS AstronomicalSeasonName",
    "month(FullDate) AS MonthNumber",
    "date_format(FullDate, 'MMMM') AS MonthLongName",
    "date_format(FullDate, 'MMM') AS MonthShortName",
    "year(FullDate) AS Year",
    "date_format(FullDate, 'yyyy/MM') AS YearMonth",
)


def season_number_expr() -> Column:
    """1=spring 2=summer 3=autumn 4=winter of column ``FullDate``."""
    return F.expr(_SEASON_NUMBER_SQL)


def season_name_expr() -> Column:
    return F.expr(_SEASON_NAME_SQL)


def build_date_dim(spark: SparkSession, min_date: Column | str, max_date: Column | str) -> DataFrame:
    """Continuous calendar [min_date, max_date] with the reference's 13
    derived attributes (``main_pipeline.py:307-366``; DDL
    ``CreateModel.sql:3-45``).

    ``DateId`` is day-offset from ``min_date`` + 1: deterministic,
    computed without any shuffle or window (the reference relied on SQL
    Server IDENTITY).

    ``DayOfWeekNumber`` is ISO 1=Monday..7=Sunday (pandas
    ``day_of_week + 1``, reference ``:311``); weekend = Sat/Sun.
    """
    lo = F.to_date(F.lit(min_date) if isinstance(min_date, str) else min_date)
    hi = F.to_date(F.lit(max_date) if isinstance(max_date, str) else max_date)
    # One partition on purpose: a calendar is domain-bounded (a full
    # century is ~36.5k rows) and the 14 derived attributes are scalar
    # expressions — sub-millisecond work at any realistic range. Every
    # consumer either broadcasts the dim onto a fact (q23/q24, the
    # warehouse pipeline) or materializes the tiny table itself (q20;
    # the pipeline write gets ONE output file instead of 32 near-empty
    # ones). The repartition this replaces added a round-robin
    # Exchange + a 32-task stage to every consumer for zero gain —
    # the r15 profile measured it as one of q23's 7 driver-gap jobs.
    spine = spark.range(1).select(F.explode(F.sequence(lo, hi)).alias("FullDate"), lo.alias("lo"))
    return spine.selectExpr(*_CALENDAR_SQL)
