"""Date dimension generation as native SQL expressions.

The reference builds its calendar driver-side in pandas
(``/root/reference/dags/main_pipeline.py:296-389``): ``pd.date_range``
plus ``Series.map`` over Python season functions. Here the whole table
is generated distributed — ``sequence`` + ``explode`` for the calendar
spine and a ``CASE`` ladder for the astronomical seasons — so it works
for any range without a driver funnel and every derived attribute
stays inside whole-stage codegen.

The calendar is SQL text, not nested ``Column`` builders: every
``F.*`` call, operator and ``alias`` on a ``Column`` is one py4j round
trip to the JVM, and building the calendar that way took about a
thousand of them. One ``spark.sql`` sends the whole query in a single
call and Spark's parser builds the same expressions; the dashboard
visuals embed the same text (``calendar_sql``) and season ladder.

Season boundaries (reference ``main_pipeline.py:315-331``):
spring Mar 21, summer Jun 22, autumn Sep 23, winter Dec 22.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# 1=spring 2=summer 3=autumn 4=winter (reference ``:336-354``) over a
# ``FullDate`` column; a season starts on (month, day) or after it
SEASON_NUMBER_SQL = """CASE
  WHEN month(FullDate) = 12 AND dayofmonth(FullDate) >= 22
    OR month(FullDate) < 3 OR (month(FullDate) = 3 AND dayofmonth(FullDate) < 21) THEN 4
  WHEN month(FullDate) > 9 OR (month(FullDate) = 9 AND dayofmonth(FullDate) >= 23) THEN 3
  WHEN month(FullDate) > 6 OR (month(FullDate) = 6 AND dayofmonth(FullDate) >= 22) THEN 2
  ELSE 1
END"""
SEASON_NAME_SQL = f"element_at(array('spring', 'summer', 'autumn', 'winter'), {SEASON_NUMBER_SQL})"

_CALENDAR_SQL = (
    "datediff(FullDate, lo) + 1 AS DateId",
    "FullDate",
    "dayofyear(FullDate) AS DayOfYearNumber",
    "dayofmonth(FullDate) AS DayOfMonthNumber",
    "weekday(FullDate) + 1 AS DayOfWeekNumber",  # 1=Mon .. 7=Sun
    "date_format(FullDate, 'EEEE') AS DayOfWeekName",
    "weekday(FullDate) + 1 >= 6 AS IsWeekend",
    f"{SEASON_NUMBER_SQL} AS AstronomicalSeasonNumber",
    f"{SEASON_NAME_SQL} AS AstronomicalSeasonName",
    "month(FullDate) AS MonthNumber",
    "date_format(FullDate, 'MMMM') AS MonthLongName",
    "date_format(FullDate, 'MMM') AS MonthShortName",
    "year(FullDate) AS Year",
    "date_format(FullDate, 'yyyy/MM') AS YearMonth",
)


def calendar_sql(min_date: str, max_date: str) -> str:
    """The calendar [min_date, max_date] (ISO dates) as one SQL query.

    One partition on purpose: the spine is one ``explode`` over
    ``range(1)``. A calendar is domain-bounded (a full century is ~36.5k
    rows) and the 14 derived attributes are scalar expressions —
    sub-millisecond work at any realistic range. Every consumer either
    broadcasts the dim onto a fact (q23/q24, the warehouse pipeline) or
    materializes the tiny table itself (q20; the pipeline write gets ONE
    output file instead of 32 near-empty ones). A repartition here would
    add a round-robin Exchange + a 32-task stage to every consumer for
    zero gain — the r15 profile measured it as one of q23's 7
    driver-gap jobs."""
    lo, hi = f"to_date('{min_date}')", f"to_date('{max_date}')"
    return (
        f"SELECT {', '.join(_CALENDAR_SQL)}"
        f" FROM (SELECT explode(sequence({lo}, {hi})) AS FullDate, {lo} AS lo FROM range(1))"
    )


def build_date_dim(spark: SparkSession, min_date: str, max_date: str) -> DataFrame:
    """Continuous calendar [min_date, max_date] with the reference's 13
    derived attributes (``main_pipeline.py:307-366``; DDL
    ``CreateModel.sql:3-45``).

    ``DateId`` is day-offset from ``min_date`` + 1: deterministic,
    computed without any shuffle or window (the reference relied on SQL
    Server IDENTITY).

    ``DayOfWeekNumber`` is ISO 1=Monday..7=Sunday (pandas
    ``day_of_week + 1``, reference ``:311``); weekend = Sat/Sun.
    """
    return spark.sql(calendar_sql(min_date, max_date))
