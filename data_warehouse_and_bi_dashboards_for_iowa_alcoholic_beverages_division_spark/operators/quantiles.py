"""Exact distributed quantiles without a global window.

A global ``ntile``/``percent_rank`` is a total order — Spark can only
plan it as a single-partition WindowExec, which funnels every row
through one task. ``percentile``
aggregates distribute, but their interpolation arithmetic is not
bit-portable across engines, and ``approx_percentile`` changes the
answer. This module computes EXACT rank thresholds (``percentile_disc``
semantics: the smallest value whose cumulative count reaches the
target rank) with a fixed, window-free DataFrame plan:

1. fold values into coarse buckets (one distributed hash aggregate);
2. cumulative bucket counts via a broadcast range self-join — the
   bucket table is bounded by ``domain/width``, never by row count;
3. each target rank ``ceil(N*p)`` locates exactly ONE bucket
   (``cum_below < rank <= cum_below + cnt``);
4. recurse INTO only the located buckets with a finer width — each
   level is another tiny aggregate + broadcast join, statically
   unrolled, so values with near-continuous domains (money in cents)
   refine in O(levels) passes instead of needing a domain-sized
   histogram;
5. the last level runs at value grain and yields the exact threshold.

Every intermediate is bounded by ``n_targets x (domain/width)`` per
level — data-size invariant. No window anywhere. Each level's tiny
``hist``/``located`` set feeds 2-3 downstream consumers (the next
level's semi-join restriction AND its cumulative join), so WITHOUT
materialization the level lineage compounds once per consumer,
multiplicatively across levels (~3^levels): q206's raw plan carried
246 parquet scans, and a cache-only fix (persist) caps re-EXECUTION
but leaves the analyzed logical plan compounding (~600k nodes;
Catalyst re-analysis dominated the wall clock). The ``persist`` hook
therefore takes a materialize-AND-TRUNCATE callback — the registry's
``_materialize_tiny`` (eager ``localCheckpoint``) — making execution
and plan size both O(levels), at the cost of O(levels) bounded jobs
at construction (the q188 eager-persist trade). With ``persist=None``
the operator stays a pure lazy plan (right for one-shot threshold
sets over small inputs). Banding rows against the resulting (tiny)
threshold set is one broadcast join + array fold.

Tie semantics: thresholds are actual data values; banding sends rows
EQUAL to a threshold into the lower band. This differs from ``ntile``
exactly on boundary ties (ntile splits them by tiebreak to equalize
band sizes) — the deterministic, value-stable semantics you want at
scale, and the documented exact<->ntile difference (q204's contract).

The reference has no quantile surface at all; this is part of the
beyond-reference layer (SURVEY.md §7), the distributed twin the
round-6 review required for the global-ntile family.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _floor_div(col: Column, m: int) -> Column:
    """Floor division on bigints, portable across engines that use a
    truncated ``%`` (Spark, DuckDB): subtract the positive mod, then
    integer-divide — the dividend is exactly divisible by ``m``, so
    truncating ``div`` IS floor division. Integer ``div`` (not ``/``
    then cast): ``/`` routes through double and silently misplaces
    values beyond 2^53, and this operator advertises arbitrary
    bigint inputs."""
    return F.call_function("div", col - ((col % m + m) % m), F.lit(m))


def rank_targets(df: DataFrame, n_bands: int) -> DataFrame:
    """(band d, target_rank) for d = 1..n_bands-1 with
    target_rank = ceil(N * d / n_bands) — the ranks whose values are
    the band thresholds. Pure integer arithmetic (portable)."""
    n = df.agg(F.count(F.lit(1)).alias("n"))
    return (
        df.sparkSession.range(1, n_bands)
        .select(F.col("id").cast("int").alias("d"))
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.expr(f"(n * d + {n_bands - 1}) div {n_bands}").alias("target_rank"),
        )
    )


def exact_rank_thresholds(
    values: DataFrame,
    value_col: str,
    targets: DataFrame,
    widths: list[int],
    persist: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """For each (d, target_rank) row in ``targets``, the exact
    threshold = MIN v with cnt_le(v) >= target_rank, computed by
    statically-unrolled histogram refinement over ``widths`` (coarse
    to fine; the last width MUST be 1 = value grain). Returns
    (d, target_rank, t).

    ``values[value_col]`` must be an integral column (scale decimals
    to cents first — exactness is the point). Each level's histogram
    is bounded by (#located buckets of the previous level) x
    (width ratio), independent of row count; all joins broadcast.

    ``persist``: materialize-and-truncate hook for each level's (tiny)
    ``hist`` and ``located`` sets — both feed multiple downstream
    consumers, so without it each level compounds once per consumer,
    multiplicatively across levels, in both execution and plan size
    (module docstring). Registered queries pass the registry's
    ``_materialize_tiny`` (eager localCheckpoint).
    """
    if widths[-1] != 1:
        raise ValueError("widths must end at 1 (value grain)")
    if any(widths[i] % widths[i + 1] for i in range(len(widths) - 1)):
        raise ValueError("each width must divide the previous one (nested buckets)")
    keep = persist if persist is not None else (lambda df: df)

    v = values.select(F.col(value_col).cast("bigint").alias("v"))
    # located: per target, the bucket PATH narrowed so far plus the
    # cumulative count strictly below that bucket. Level 0 starts with
    # one implicit all-enclosing bucket and cum_below = 0.
    # (targets' lineage holds the N-count scan — materialize it too.)
    located = keep(
        targets.select(
            "d",
            "target_rank",
            F.lit(None).cast("bigint").alias("pbkt"),
            F.lit(0).alias("cum_below"),
        )
    )
    prev_width: int | None = None
    for width in widths:
        bkt = _floor_div(F.col("v"), width)
        if prev_width is None:
            hist = v.select(bkt.alias("bkt"))
        else:
            # restrict the scan to rows inside ANY target's located
            # parent bucket — a broadcast semi-join on the (tiny)
            # parent set; at most n_targets buckets survive
            parents = located.select(F.col("pbkt")).distinct()
            hist = (
                v.select(bkt.alias("bkt"), _floor_div(F.col("v"), prev_width).alias("pbkt"))
                .join(F.broadcast(parents), "pbkt", "left_semi")
            )
        hist = keep(hist.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt")))
        below = hist.select(F.col("bkt").alias("b_bkt"), F.col("cnt").alias("b_cnt"))
        same_parent = (
            F.lit(True)
            if prev_width is None
            else (_floor_div(F.col("b_bkt") * width, prev_width) == F.col("pbkt"))
        )
        # per target: cumulative count below each bucket INSIDE the
        # target's parent, offset by the parent's own cum_below
        cum = (
            located.join(
                F.broadcast(hist),
                F.lit(True)
                if prev_width is None
                else (_floor_div(F.col("bkt") * width, prev_width) == F.col("pbkt")),
            )
            .join(
                F.broadcast(below),
                same_parent & (F.col("b_bkt") < F.col("bkt")),
                "left",
            )
            .groupBy("d", "target_rank", "pbkt", "cum_below", "bkt", "cnt")
            .agg(F.coalesce(F.sum("b_cnt"), F.lit(0)).alias("cum_in"))
        )
        located = keep(
            cum.where(
                (F.col("cum_below") + F.col("cum_in") < F.col("target_rank"))
                & (F.col("target_rank") <= F.col("cum_below") + F.col("cum_in") + F.col("cnt"))
            )
            .select(
                "d",
                "target_rank",
                F.col("bkt").alias("pbkt"),
                (F.col("cum_below") + F.col("cum_in")).alias("cum_below"),
            )
        )
        prev_width = width
    # width 1: the located "bucket" IS the value
    return located.select("d", "target_rank", F.col("pbkt").alias("t"))


def band_by_thresholds(
    df: DataFrame,
    value_col: str,
    thresholds: DataFrame,
    band_col: str = "band",
) -> DataFrame:
    """Attach ``band_col`` = 1 + #(thresholds strictly below the row's
    value): rows at or below the first threshold band 1, ties land in
    the LOWER band. One broadcast of the collected-to-array (tiny)
    threshold set; no shuffle of ``df``."""
    ts = thresholds.agg(F.sort_array(F.collect_list("t")).alias("_ts"))
    return (
        df.crossJoin(F.broadcast(ts))
        .withColumn(
            band_col,
            F.lit(1)
            + F.size(F.filter("_ts", lambda x: F.col(value_col).cast("bigint") > x)),
        )
        .drop("_ts")
    )


def exact_band(
    df: DataFrame,
    value_col: str,
    n_bands: int,
    widths: list[int],
    band_col: str = "band",
    persist: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """One-call banding: rank targets -> exact thresholds -> band
    column. ``widths`` per the value's domain, e.g. ``[1000, 1]`` for
    balances in cents (~1.1M-value domain), ``[10**6, 10**4, 100, 1]``
    for per-customer money sums (near-continuous cents). ``persist``
    threads to :func:`exact_rank_thresholds`."""
    targets = rank_targets(df, n_bands)
    th = exact_rank_thresholds(df, value_col, targets, widths, persist=persist)
    return band_by_thresholds(df, value_col, th, band_col)
