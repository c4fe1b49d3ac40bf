"""Skew-mitigation join: salting for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. Salting is the
explicit fallback for the pathological case AQE can't fix — a single
join KEY too hot for one task (the 100 TB "null key / megacity /
boilerplate doc" problem):

- fact side: append a random-ish salt in [0, salt) derived
  deterministically from row content (no rand(): keeps the plan
  reproducible and retry-safe);
- dim side: explode each row into all `salt` copies;
- join on (key, salt) — the hot key now spreads over `salt` tasks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi-join on ``key`` with the dim side replicated ``salt``
    ways.

    ``salt_source``: column whose hash spreads the fact rows (defaults
    to the whole-row spread via ``monotonically_increasing_id`` being
    unavailable mid-plan, we hash the key plus a uniquifier column the
    caller names — pick a high-cardinality column like the fact's id).
    """
    src = F.col(salt_source) if salt_source else F.spark_partition_id()
    f = fact.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(salt)).cast("int"))
    d = dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = f.join(d, on=[key, "_salt"]).drop("_salt")
    return out
