"""Slowly Changing Dimension Type-2 operators, Spark-first.

Semantics reproduce the reference algorithms exactly (behavior pinned by
the golden tests in
``/root/reference/include/tests/test_scd_functions.py:110-214``), but the
implementation replaces the reference's offset self-joins + attribute
hashing (``/root/reference/include/scripts/modules/scd.py:11-65``,
``utils.py:8-31``) with window functions:

- version detection = ``min(date)`` per (natural key, attribute combo)
- interval closing   = ``lead(start_date) OVER (PARTITION BY nk ORDER BY
  start_date)`` — one shuffle on the natural key instead of the
  reference's ~4 shuffles (two aggregations + two self-joins)
- no 32-bit hash fingerprints: we group by the attribute columns
  directly, which both removes the Murmur3 collision hazard the
  reference accepts (``utils.py:12``) and lets Tungsten work on the
  native columns.

Scale notes (100 TB): every step here shuffles on the natural key only.
Dimension change-logs partition cleanly by natural key; skewed keys are
handled by AQE skew-join. The point-in-time fact lookup broadcasts the
dimension (dims are millions of rows at most while facts are billions).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import BooleanType, StructField, StructType

SCD_META_COLS = ("start_date", "end_date", "is_current")


def _attrs_without_nk(attribute_cols: Sequence[str], natural_key: str) -> list[str]:
    return [c for c in attribute_cols if c != natural_key]


def create_scd_from_input(
    input_df: DataFrame,
    attribute_cols: Sequence[str],
    date_col: str,
    natural_key: str,
) -> DataFrame:
    """Collapse a raw change log into SCD2 rows
    ``(nk, *attrs, start_date, end_date, is_current)``.

    Reference parity: ``scd.py:11-65`` (`create_scd_from_input`). A
    version's ``start_date`` is the MIN observation date of its exact
    attribute combination — so a value that flips A→B→A collapses to two
    versions (min-date per distinct combo), matching the reference's
    (nk, attr-hash) grouping, not three chronological segments.
    ``end_date`` is the next version's start; the latest version has
    ``end_date`` NULL and ``is_current`` true.
    """
    attrs = _attrs_without_nk(attribute_cols, natural_key)

    versions = input_df.groupBy(natural_key, *attrs).agg(F.min(date_col).alias("start_date"))

    # Tiebreak on the attribute columns: when two attribute combos share
    # the same min date the reference's ordering (start_date only,
    # scd.py:40) is nondeterministic; pinning the order keeps results
    # reproducible without changing any uniquely-dated case.
    w = Window.partitionBy(natural_key).orderBy(
        F.col("start_date").asc(), *[F.col(c).asc() for c in attrs]
    )
    return versions.select(
        natural_key,
        *attrs,
        "start_date",
        F.lead("start_date").over(w).alias("end_date"),
    ).withColumn("is_current", F.col("end_date").isNull())


def scd_schema(
    input_schema: StructType,
    attribute_cols: Sequence[str],
    date_col: str,
    natural_key: str,
) -> StructType:
    """The schema :func:`create_scd_from_input` gives an input of
    ``input_schema``, derived without a Spark round trip: the natural
    key and attributes keep their types, both interval bounds take the
    type of ``date_col``. Every field is nullable, as a parquet read
    makes them."""
    attrs = _attrs_without_nk(attribute_cols, natural_key)
    date_type = input_schema[date_col].dataType
    return StructType(
        [
            *(StructField(c, input_schema[c].dataType) for c in (natural_key, *attrs)),
            StructField("start_date", date_type),
            StructField("end_date", date_type),
            StructField("is_current", BooleanType()),
        ]
    )


def remove_one_day_changes(
    df: DataFrame,
    column_name: str,
    natural_key: str,
    date_col: str,
) -> DataFrame:
    """Same-day conflict repair (reference ``ingest_utils.py:79-118``).

    When a natural key shows >1 distinct value of ``column_name`` on the
    same day, every row of that day takes the value observed on the
    key's next later day (any later date, not just day+1); if the key
    has no later day the original value stays.

    Rewrite: the reference finds the "next later day" with a
    theta-join (``ts.date > ds.date``) + min-aggregate; we compute it as
    ``lead(date)`` over the key's distinct dates — one window over a
    day-level frame instead of a non-equi join.
    """
    conflicted_days = (
        df.groupBy(natural_key, date_col)
        .agg(F.count_distinct(column_name).alias("_n_distinct"))
        .where(F.col("_n_distinct") > 1)
        .drop("_n_distinct")
    )

    day_w = Window.partitionBy(natural_key).orderBy(F.col(date_col).asc())
    next_day = (
        df.select(natural_key, date_col)
        .distinct()
        .withColumn("_next_date", F.lead(date_col).over(day_w))
        .join(conflicted_days, on=[natural_key, date_col], how="inner")
        .where(F.col("_next_date").isNotNull())
    )

    # Value(s) observed at the next day: joining row-level df (as the
    # reference does, ingest_utils.py:99-104) — one replacement row per
    # source row at the next date.
    replacements = (
        df.select(
            F.col(natural_key).alias("_nk"),
            F.col(date_col).alias("_val_date"),
            F.col(column_name).alias("_new_value"),
        )
        .join(
            next_day,
            on=(F.col("_nk") == F.col(natural_key)) & (F.col("_val_date") == F.col("_next_date")),
            how="inner",
        )
        .select(natural_key, date_col, "_new_value")
    )

    out = df.join(replacements, on=[natural_key, date_col], how="left")
    return out.withColumn(
        column_name,
        F.coalesce(F.col("_new_value"), F.col(column_name)),
    ).drop("_new_value")


def merge_scd(
    old_scd: DataFrame,
    new_records: DataFrame,
    natural_key: str,
    date_col: str,
    attribute_cols: Sequence[str],
) -> DataFrame:
    """Fold raw change records into an SCD2 dimension: the whole merged
    dimension, not a patch to apply to the old one.

    Every old version is replayed as a pseudo-event at its
    ``start_date``, unioned with the new records, and the SCD is rebuilt.
    :func:`create_scd_from_input` depends only on each (nk, attrs)
    combination's MIN date, which the replay carries exactly, so
    ``merge_scd(create_scd_from_input(L1), L2) ==
    create_scd_from_input(L1 ∪ L2)`` for any split of a log — including
    records older than the dimension's newest version (a late file) —
    and re-folding records the dimension already holds changes nothing.

    The union is hash-partitioned on the natural key before the rebuild.
    That one exchange satisfies both the ``(nk, attrs)`` aggregate and
    the ``PARTITION BY nk`` window, so the merge shuffles once instead
    of twice. It gives up the aggregate's map-side partial, which saves
    little here: the old versions are already one row per
    ``(nk, attrs)``, and a change batch is small next to them. Over a raw
    log (:func:`create_scd_from_input` alone) the partial aggregate does
    shrink the shuffle, so only the merge repartitions.
    """
    attrs = _attrs_without_nk(attribute_cols, natural_key)
    pseudo_events = old_scd.select(natural_key, *attrs, F.col("start_date").alias(date_col))
    incoming = new_records.select(natural_key, *attrs, date_col)
    return create_scd_from_input(
        pseudo_events.unionByName(incoming).repartition(natural_key),
        [natural_key, *attrs],
        date_col,
        natural_key,
    )


def scd_update_and_insert(
    old_scd: DataFrame,
    new_records: DataFrame,
    natural_key: str,
    date_col: str,
    attribute_cols: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Incremental SCD2 merge as the reference's update/insert split
    (reference ``scd.py:230-265``,
    `get_scd_records_for_update_and_insert`): the :func:`merge_scd`
    rebuild, split into

    - ``to_update``: previously-current rows whose recomputed
      ``end_date`` is now set (their interval closed), and
    - ``to_insert``: recomputed rows not present in the old SCD.

    Version identity is ``(natural key, *attrs, start_date)`` — NOT just
    (natural key, start_date): two attribute combos first seen on the
    same day share a start_date (one interval is zero-length), and
    matching on the date alone conflates them (hypothesis-found case:
    A and B both on day 0, then A again later).
    """
    attrs = _attrs_without_nk(attribute_cols, natural_key)
    version_key = [natural_key, *attrs, "start_date"]

    rebuilt = merge_scd(old_scd, new_records, natural_key, date_col, attribute_cols)

    currently_open = old_scd.where(F.col("is_current")).select(*version_key)

    to_update = _join_on_version_key(rebuilt, currently_open, version_key, "left_semi").where(
        F.col("end_date").isNotNull()
    )

    to_insert = _join_on_version_key(
        rebuilt, old_scd.select(*version_key), version_key, "left_anti"
    )

    return to_update, to_insert


def _join_on_version_key(
    left: DataFrame, right: DataFrame, version_key: Sequence[str], how: str
) -> DataFrame:
    """Semi/anti join on the version identity with null-safe equality —
    attribute columns may legitimately hold NULLs (groupBy treats NULL
    as a value, so versions can carry them) and a plain equi-join would
    never match those rows.
    """
    l, r = left.alias("_l"), right.alias("_r")
    cond = None
    for c in version_key:
        step = F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        cond = step if cond is None else cond & step
    return l.join(r, on=cond, how=how)


def scd_point_in_time_join(
    fact_df: DataFrame,
    dim_df: DataFrame,
    natural_key: str,
    event_date_col: str,
) -> DataFrame:
    """As-of (point-in-time) lookup: each fact row joins the dimension
    version whose validity interval contains the event date
    (reference `join_scd_dim_df`,
    ``create_update_liqour_sales_fact_table.py:19-32``).

    Executed as an equi-join on the natural key plus a range
    post-filter with the dimension always broadcast: a single
    broadcast-hash join, no fact shuffle at all, which is the shape you
    want when the fact side is 100 TB and the dim is MBs.
    """
    dim = F.broadcast(dim_df)
    cond = (
        (fact_df[natural_key] == dim[natural_key])
        & (fact_df[event_date_col] >= dim["start_date"])
        & (dim["end_date"].isNull() | (fact_df[event_date_col] < dim["end_date"]))
    )
    return fact_df.join(dim, on=cond, how="inner").drop(dim[natural_key])
