"""Ingest typing/coercion pipeline (S6 of SURVEY.md §2.1).

The reference lands BigQuery rows through pandas with per-chunk Python
coercions (``/root/reference/include/scripts/modules/ingest_utils.py:50-70``):
float-string → Int64 splits, NaN→None, then string→DecimalType casts on
the Spark side. Here the whole pipeline is declarative Column
expressions applied to a distributed scan — no driver chunking, no
pandas hop, works on any source Spark can read.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def int_from_floatish_string(col: str) -> F.Column:
    """'52776.0' → 52776 (reference splits on '.' in pandas,
    ``ingest_utils.py:53-56``); NULL-safe, non-numeric → NULL
    (``try_cast`` so malformed input degrades instead of failing the
    job under ANSI mode)."""
    return F.split(F.col(col), r"\.").getItem(0).try_cast("int")


def money_from_string(col: str, precision: int = 9, scale: int = 2) -> F.Column:
    """Money enters as strings, cast to exact decimals
    (``ingest_utils.py:66-70``)."""
    return F.col(col).try_cast(f"decimal({precision},{scale})")
