"""Property-based SCD2 invariants (hypothesis): for ANY change log,
the built dimension must satisfy the structural laws the golden tests
pin only pointwise.

Invariants (for each natural key):
1. exactly one current row, with end_date NULL;
2. versions = number of distinct attribute combos observed;
3. intervals are disjoint and tile: sorted by start_date, each
   end_date equals the next start_date;
4. every version's start_date is the MIN observation date of its
   attribute combo (the reference's flip-collapse semantics);
5. incremental build (split the log any way, merge) == full rebuild.
"""

import datetime

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    create_scd_from_input,
    merge_scd,
)

BASE = datetime.date(2024, 1, 1)

# change log: up to 3 keys, up to 12 events each, small attr alphabet →
# plenty of same-day conflicts, flips, and repeats
event_st = st.tuples(
    st.integers(min_value=1, max_value=3),  # natural key
    st.integers(min_value=0, max_value=20),  # day offset
    st.sampled_from(["A", "B", "C"]),  # attribute value
)
log_st = st.lists(event_st, min_size=1, max_size=12)
# the same log with each event drawn into the old or the new part
split_log_st = st.lists(st.tuples(event_st, st.booleans()), min_size=2, max_size=12)


def _df(spark, events):
    return spark.createDataFrame(
        [Row(nk=k, val=v, d=BASE + datetime.timedelta(days=off)) for k, off, v in events]
    )


def _check_invariants(rows, events):
    by_nk = {}
    for r in rows:
        by_nk.setdefault(r["nk"], []).append(r)
    seen_keys = {k for k, _, _ in events}
    assert set(by_nk) == seen_keys
    for nk, vrows in by_nk.items():
        vrows.sort(key=lambda r: r["start_date"])
        # (1) exactly one current, open-ended
        currents = [r for r in vrows if r["is_current"]]
        assert len(currents) == 1 and currents[0]["end_date"] is None
        assert currents[0] is vrows[-1]
        # (2) one version per distinct combo
        combos = {v for k, _, v in events if k == nk}
        assert len(vrows) == len(combos)
        assert {r["val"] for r in vrows} == combos
        # (3) intervals tile
        for a, b in zip(vrows, vrows[1:]):
            assert a["end_date"] == b["start_date"]
        # (4) min-date semantics
        for r in vrows:
            min_d = min(BASE + datetime.timedelta(days=off) for k, off, v in events if k == nk and v == r["val"])
            assert r["start_date"] == min_d


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_st)
def test_scd_invariants(spark_session_holder, events):
    spark = spark_session_holder
    scd = create_scd_from_input(_df(spark, events), ["nk", "val"], "d", "nk")
    _check_invariants(scd.collect(), events)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(split_log_st)
def test_incremental_merge_equals_rebuild(spark_session_holder, split_log):
    """Splitting the log any way and merging must equal the full
    rebuild (idempotent convergence of the incremental path). The split
    is drawn per event, so new records may predate old ones — the late
    change-log file."""
    spark = spark_session_holder
    events = [e for e, _ in split_log]
    old_events = [e for e, is_new in split_log if not is_new]
    new_events = [e for e, is_new in split_log if is_new]
    assume(old_events and new_events)

    full = create_scd_from_input(_df(spark, events), ["nk", "val"], "d", "nk")

    old_scd = create_scd_from_input(_df(spark, old_events), ["nk", "val"], "d", "nk")
    merged = merge_scd(old_scd, _df(spark, new_events), "nk", "d", ["nk", "val"])

    key = lambda r: (r["nk"], r["start_date"], r["val"], r["end_date"], r["is_current"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))


# hypothesis needs a non-fixture way to reach the session-scoped fixture
import pytest  # noqa: E402


@pytest.fixture(name="spark_session_holder")
def _holder(spark):
    return spark


# ---------------------------------------------------------------------
# remove_one_day_changes invariants (§2.11#1)
# ---------------------------------------------------------------------

def _repair_reference(events):
    """Pure-python oracle of the reference semantics
    (ingest_utils.py:79-118): for every (key, day) with >1 distinct
    value, every row of that day takes each value observed on the
    key's next later day (row-multiplying join, as the reference's);
    keys without a later day keep their original rows."""
    from collections import defaultdict

    days = defaultdict(set)
    for k, d, v in events:
        days[k].add(d)
    out = []
    for k, d, v in events:
        values_today = {vv for kk, dd, vv in events if kk == k and dd == d}
        later = sorted(x for x in days[k] if x > d)
        if len(values_today) > 1 and later:
            nxt = later[0]
            for kk, dd, vv in events:
                if kk == k and dd == nxt:
                    out.append((k, d, vv))
        else:
            out.append((k, d, v))
    return sorted(out)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_st)
def test_remove_one_day_changes_matches_reference_semantics(spark_session_holder, events):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        remove_one_day_changes,
    )

    spark = spark_session_holder
    repaired = remove_one_day_changes(_df(spark, events), "val", "nk", "d")
    got = sorted((r["nk"], r["d"], r["val"]) for r in repaired.collect())
    want = _repair_reference(
        [(k, BASE + datetime.timedelta(days=off), v) for k, off, v in events]
    )
    assert got == want
