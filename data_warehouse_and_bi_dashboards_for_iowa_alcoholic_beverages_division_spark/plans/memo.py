"""Plan memo: a built dashboard DataFrame is returned again while
nothing it depends on has changed, so a dashboard refresh re-collects
it: Spark reuses its executed plan, its broadcast relations and the
shuffle stages adaptive execution already materialized. The registry's
``QuerySpec.fn`` (``plans.queries``) and ``pipeline.revenue_by_weekday``
both build through :func:`memoized`.

- **Key:** the caller's key parts (a query name and ``abspath(sf_dir)``;
  the flagship visual's name and its tables' paths) and the text of
  every conf set in the session at lookup.
- **Hit:** the entry was built by this same ``SparkSession`` object (an
  entry of any other session is dropped), and every path the build read
  through ``sources.tables.read_parquet`` (``recorded_reads``) still
  has the size and mtime of each of its files. A ``commit.write`` to
  any table the plan reads, broadcast sides included, is a miss.
- **Never memoized:** a build that read nothing through
  ``read_parquet`` or a path it could not fingerprint, ran a Spark job
  (an eager persist or checkpoint, a side index) other than the schema
  inference ``read_parquet`` ran for a schema it remembered under the
  recorded fingerprints, grew :data:`_PERSISTED`, reads a checkpoint (a
  ``LogicalRDD`` leaf), is not deterministic (``rand()``,
  ``monotonically_increasing_id``), or scans a file outside the paths
  it recorded (``spark.read`` of an IVF or side index).
- **Bound:** an LRU of ``_PLAN_MEMO_SIZE`` entries.
  :func:`clear_plan_memo` empties it for callers that measure a build.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable, Hashable
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..session import jobs_submitted, jvm_class
from ..sources.tables import Recording, reads_unchanged, recorded_reads


@dataclass(frozen=True)
class _Memoized:
    spark: SparkSession
    reads: frozenset[tuple[str, tuple | None]]
    df: DataFrame


# Builds by (key parts..., session conf text), each with the session
# that built it and the reads it recorded. One BI page is about a dozen
# visuals; 32 keeps a few pages warm, while a sweep over the whole
# registry cannot pin every plan's broadcast relations and shuffle
# files at once.
_PLAN_MEMO_SIZE = 32
_PLAN_MEMO: OrderedDict[tuple, _Memoized] = OrderedDict()

# Caches the registry's queries track (``queries._persist``), so that
# long-lived sweep sessions can release them; a build that grows this
# list is never memoized.
_PERSISTED: list[DataFrame] = []


def clear_plan_memo() -> None:
    """Forget every memoized build, so the next call of each query
    builds and plans afresh (for callers that measure a build)."""
    _PLAN_MEMO.clear()


def _conf_text(spark: SparkSession) -> str:
    """Every conf set in ``spark``, sorted, as one string: four gateway
    round trips, where ``spark.conf.getAll`` makes two per entry."""
    conf = spark._jsparkSession.conf().getAllAsJava()
    return jvm_class(spark, "java.util.TreeMap")(conf).toString()


def _local_path(uri: str) -> str | None:
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme in ("", "file") else None


def _memoizable(df: DataFrame, recording: Recording, jobs_before: int, persisted_before: int) -> bool:
    """Whether a fresh build may be returned again: it read files only
    through ``read_parquet``, all of them locally fingerprinted, ran no
    job but the schema inference behind those reads, tracked no
    persist, reads no checkpoint and is deterministic."""
    reads = recording.reads
    if not reads or any(fp is None for _, fp in reads):
        return False
    if len(_PERSISTED) != persisted_before:
        return False
    if jobs_submitted(df.sparkSession) - jobs_before != recording.inference_jobs:
        return False
    analyzed = df._jdf.queryExecution().analyzed()
    if not analyzed.deterministic():
        return False
    leaves = analyzed.collectLeaves()
    if any(leaves.apply(i).nodeName() == "LogicalRDD" for i in range(leaves.size())):
        return False  # a checkpoint, or rows built on the driver
    roots = [path for path, _ in reads]
    for uri in df.inputFiles():
        local = _local_path(uri)
        if local is None or not any(local == r or local.startswith(r + os.sep) for r in roots):
            return False
    return True


def memoized(spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], DataFrame]) -> DataFrame:
    """The DataFrame an earlier call with ``key`` built in ``spark``
    while every file it read is unchanged; else ``build()``, kept for
    the next call when it is memoizable."""
    for stale in [k for k, m in _PLAN_MEMO.items() if m.spark is not spark]:
        del _PLAN_MEMO[stale]
    key = (*key, _conf_text(spark))
    memo = _PLAN_MEMO.pop(key, None)
    if memo is not None and reads_unchanged(spark, memo.reads):
        _PLAN_MEMO[key] = memo
        return memo.df
    jobs, persisted = jobs_submitted(spark), len(_PERSISTED)
    with recorded_reads() as recording:
        df = build()
    if _memoizable(df, recording, jobs, persisted):
        _PLAN_MEMO[key] = _Memoized(spark, frozenset(recording.reads), df)
        if len(_PLAN_MEMO) > _PLAN_MEMO_SIZE:
            _PLAN_MEMO.popitem(last=False)
    return df
