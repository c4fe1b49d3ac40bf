"""Exact distributed quantiles (operators/quantiles.py): thresholds
must equal the naive sort-based percentile_disc on any data; banding
must match the naive threshold comparison; the plan must stay
window-free (that is the module's reason to exist)."""

import random

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.quantiles import (
    exact_band,
    exact_rank_thresholds,
    rank_targets,
)


def _naive_thresholds(vals, n_bands):
    s = sorted(vals)
    n = len(s)
    out = {}
    for d in range(1, n_bands):
        rank = -(-n * d // n_bands)  # ceil
        out[d] = s[rank - 1]
    return out


def _spark_thresholds(spark, vals, n_bands, widths):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    th = exact_rank_thresholds(df, "v", rank_targets(df, n_bands), widths)
    return {r["d"]: r["t"] for r in th.collect()}


def test_thresholds_match_naive_on_random_data(spark):
    rng = random.Random(23)
    for trial in range(4):
        vals = [rng.randrange(-100_000, 1_000_000) for _ in range(500)]
        got = _spark_thresholds(spark, vals, 10, [10_000, 100, 1])
        assert got == _naive_thresholds(vals, 10), f"trial {trial}"


def test_thresholds_handle_heavy_ties_and_negatives(spark):
    rng = random.Random(7)
    # 80% of mass on 3 values, negatives included — degenerate bands
    pool = [-500, 0, 7]
    vals = [rng.choice(pool) for _ in range(400)] + [
        rng.randrange(-1000, 1000) for _ in range(100)
    ]
    for widths in ([100, 1], [1]):
        got = _spark_thresholds(spark, vals, 4, widths)
        assert got == _naive_thresholds(vals, 4), widths


def test_thresholds_exact_beyond_double_precision(spark):
    """The bucket arithmetic must be integer ``div``, not /-then-cast:
    doubles misplace bigints beyond 2^53 into the wrong bucket and the
    located-bucket recursion then returns a wrong threshold with no
    error. Values straddling 2^53..2^60 catch any double round-trip."""
    rng = random.Random(41)
    base = 2**60
    vals = [base + rng.randrange(-1_000_000, 1_000_000) for _ in range(300)]
    vals += [-base + rng.randrange(0, 1_000_000) for _ in range(100)]
    got = _spark_thresholds(spark, vals, 5, [100_000, 1_000, 1])
    assert got == _naive_thresholds(vals, 5)


def test_single_value_and_tiny_inputs(spark):
    assert _spark_thresholds(spark, [42] * 10, 4, [10, 1]) == {1: 42, 2: 42, 3: 42}
    assert _spark_thresholds(spark, [5], 2, [1]) == {1: 5}


def test_banding_matches_naive(spark):
    rng = random.Random(11)
    vals = [rng.randrange(0, 10_000) for _ in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    banded = {
        (r["v"], r["band"])
        for r in exact_band(df, "v", 5, [100, 1]).select("v", "band").collect()
    }
    th = sorted(_naive_thresholds(vals, 5).values())
    want = {(v, 1 + sum(1 for t in th if v > t)) for v in vals}
    assert banded == want
    # ties land in the LOWER band: every row equal to a threshold
    for v, band in banded:
        if v in th:
            assert band == 1 + sum(1 for t in th if v > t)


def test_band_plan_is_window_free(spark):
    import contextlib
    import io

    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    plan_df = exact_band(df, "v", 10, [10, 1])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_widths_validated(spark):
    import pytest

    df = spark.createDataFrame([(1,)], "v long")
    t = rank_targets(df, 2)
    with pytest.raises(ValueError, match="end at 1"):
        exact_rank_thresholds(df, "v", t, [100, 10])
    with pytest.raises(ValueError, match="divide"):
        exact_rank_thresholds(df, "v", t, [100, 30, 1])
