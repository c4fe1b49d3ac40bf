"""Load-time data-quality metrics via ``df.observe``.

The reference audits its loads with separate counting queries
(``ingest_utils.py:86`` ``count()`` materializations, and the DAG's
row-count checks) — every audit is an extra pass over the data. Spark's
``Observation`` API attaches accumulator-backed metrics to the SAME
action that writes the data: at 100 TB the quality numbers are free,
computed in the pass that was already running.

Usage::

    df, obs = observed_quality(raw, key_cols=["o_orderkey"],
                               not_null=["o_custkey", "o_totalprice"])
    df.write.parquet(dest)          # one pass: write + metrics
    report = quality_report(obs)    # {'n_rows': ..., 'null_o_custkey': ...}
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def observed_quality(
    df: DataFrame,
    *,
    key_cols: list[str] | None = None,
    not_null: list[str] | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach row-count, per-column null-count, and approximate
    key-cardinality metrics to ``df``'s next action."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null or []:
        metrics.append(F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"))
    for c in key_cols or []:
        metrics.append(F.approx_count_distinct(c).alias(f"approx_distinct_{c}"))
    obs = Observation("load_quality")
    return df.observe(obs, *metrics), obs


def quality_report(obs: Observation) -> dict:
    """Metrics dict; blocks until the observed action has run."""
    return dict(obs.get)

