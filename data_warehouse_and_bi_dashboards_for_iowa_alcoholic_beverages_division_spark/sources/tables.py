"""Parquet lakehouse sources over the driver testdata.

Maps S1 (parquet scan), S10 (empty-from-schema), S11 (temp view) of
SURVEY.md §2.1. The reference reads HDFS parquet staging the same way
(``/root/reference/include/scripts/create_store_dim.py:15``); parquet is
our at-rest format everywhere, so the JDBC scan/sink operators (S3-S5)
become plain table reads/writes.

Table reads (``load_table``, the written warehouse) go through
``read_parquet``. A read without a schema is not lazy: Spark infers the
schema by reading a file footer inside a Spark job
(``ParquetFileFormat.mergeSchemasInParallel``), so each
``spark.read.parquet(path)`` costs one job at plan-build time, and a
dashboard visual that joins five tables ran five of them before its own
query started. ``read_parquet`` remembers schemas in two memos, and a
read that hits either passes the remembered ``StructType``, so Spark
plans it without touching the files' contents:

- by path: a path's schema is inferred once per process and reused
  while the size and mtime of every file under it, and the nanosAsLong
  conf, stay the same;
- by footer, for a single file the path memo has not seen (a daily
  staged file under a new path): its footer is read on the driver
  through Spark's own parquet-mr parser, with no job, and keyed by
  everything Spark's inference reads from it. That is the parquet
  schema text, the Spark schema Spark wrote into the footer
  (``org.apache.spark.sql.parquet.row.metadata``, which inference
  prefers when present), and the nanosAsLong conf. A file whose key
  matches an earlier file's takes the schema inferred for that file.

A directory keeps the path memo alone: its partition columns come from
directory names, and Spark infers its data columns from one file it
chooses. Any error while reading a footer takes the inference read.

Inside a ``recorded_reads()`` block, ``read_parquet`` also adds
``(abspath, fingerprint)`` of each path it reads to the
:class:`Recording` the innermost block yielded; the fingerprint is None
for a path that cannot be stat'ed locally. It counts there, too, the
jobs Spark ran to infer a schema that it then remembered under a
fingerprint. The plan memo (``plans.memo``) keys a built DataFrame by
those reads and reuses it while every fingerprint still matches; the
jobs counted are the only ones it lets a build run. Outside any block a
read records nothing.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import jobs_submitted, jvm_class

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The one session conf that changes what parquet schema inference
# returns for our tables: under it TIMESTAMP(NANOS) reads as bigint.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# abspath -> (fingerprint, schema): one entry per path ever read
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
# footer key (``_footer_key``) -> schema Spark inferred for a file with it
_FOOTERS: dict[tuple, StructType] = {}


@dataclass
class Recording:
    """What the ``read_parquet`` calls of one ``recorded_reads`` block
    read: ``(abspath, fingerprint)`` of each path, and the jobs Spark
    ran to infer the schemas remembered under those fingerprints."""

    reads: set[tuple[str, tuple | None]] = field(default_factory=set)
    inference_jobs: int = 0


# the recordings ``recorded_reads`` yielded, innermost last
_RECORDINGS: list[Recording] = []

# the footer entry Spark writes its own schema into, and reads it back from
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _file_stats(path: str) -> tuple | None:
    """``((relpath, st_size, st_mtime_ns), ...)`` of a file or of every
    file under a directory; None when the path cannot be stat'ed
    locally (a URI, a glob, a missing path)."""
    try:
        if os.path.isdir(path):
            files = []
            for root, _dirs, names in os.walk(path):
                for n in names:
                    f = os.path.join(root, n)
                    st = os.stat(f)
                    files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
            return tuple(sorted(files))
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    except OSError:
        return None


def _fingerprint(conf: str, path: str) -> tuple | None:
    """``(conf, _file_stats(path))``, ``conf`` being the session's
    nanosAsLong value; None when the path cannot be stat'ed locally."""
    stats = _file_stats(path)
    return None if stats is None else (conf, stats)


def reads_unchanged(spark: SparkSession, reads: Iterable[tuple[str, tuple | None]]) -> bool:
    """Whether every ``(abspath, fingerprint)`` of a :class:`Recording`
    still matches its path's fingerprint: the conf is read once for all
    of them (one gateway round trip), the files are stat'ed locally."""
    conf = spark.conf.get(NANOS_AS_LONG, "false")
    return all(fp == _fingerprint(conf, path) for path, fp in reads)


def _footer_key(spark: SparkSession, path: str, conf: str) -> tuple | None:
    """``(conf, parquet schema text, Spark row metadata)`` of the
    parquet file ``path``, read from its footer on the driver (row
    groups skipped); None when the footer cannot be read."""
    try:
        footer = jvm_class(spark, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(
            spark._jsc.hadoopConfiguration(),
            jvm_class(spark, "org.apache.hadoop.fs.Path")(path),
            jvm_class(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
        meta = footer.getFileMetaData()
        return conf, meta.getSchema().toString(), meta.getKeyValueMetaData().get(SPARK_ROW_METADATA)
    except Py4JError:  # an unreadable footer takes the inference read, which reports it
        return None


@contextmanager
def recorded_reads() -> Iterator[Recording]:
    """Yield a :class:`Recording` of every ``read_parquet`` made inside
    the block and outside any block nested in it."""
    recording = Recording()
    _RECORDINGS.append(recording)
    try:
        yield recording
    finally:
        _RECORDINGS.pop()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a schema once.

    The first read of a path infers its schema as Spark always does and
    remembers it with the path's fingerprint: size and mtime of every
    file, and the nanosAsLong conf. A later read whose fingerprint
    still matches passes the remembered schema, so Spark plans it
    without a job. A changed fingerprint, or a path that cannot be
    stat'ed locally, takes the inference path again. A single file the
    path memo misses is first looked up by its footer key, so a file
    whose footer matches one read before plans without a job too."""
    key = os.path.abspath(path)
    fp = _fingerprint(spark.conf.get(NANOS_AS_LONG, "false"), key)
    recording = _RECORDINGS[-1] if _RECORDINGS else None
    if recording is not None:
        recording.reads.add((key, fp))
    hit = _SCHEMAS.get(key)
    if fp is not None and hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    footer = _footer_key(spark, key, fp[0]) if fp is not None and os.path.isfile(key) else None
    if footer in _FOOTERS:
        df = spark.read.schema(_FOOTERS[footer]).parquet(path)
    else:
        counted = recording is not None and fp is not None
        jobs = jobs_submitted(spark) if counted else 0
        df = spark.read.parquet(path)
        if counted:
            recording.inference_jobs += jobs_submitted(spark) - jobs
        if footer is not None:
            _FOOTERS[footer] = df.schema
    if fp is not None:
        _SCHEMAS[key] = (fp, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` across every on-disk encoding the
    driver has shipped so far:

    * TIMESTAMP(NANOS) → read as ``bigint`` under ``nanosAsLong``;
      floor-divided to micros (integer DIV — double division loses
      precision at 1e18) and rebuilt as a timestamp;
    * plain ``timestamp[us]`` (no tz) → Spark infers TIMESTAMP_NTZ;
    * tz-adjusted micros → TIMESTAMP_LTZ.

    Canonical type is **TIMESTAMP_NTZ**: it matches DuckDB's naive read
    of the same parquet bit-for-bit and never routes values through the
    session timezone, so oracle comparisons are tz-independent.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    elif dt == "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan with pushdown: filters/projections applied by the
    caller reach the parquet reader via Catalyst (PushedFilters /
    ReadSchema) — never pre-collect or pre-filter driver-side.

    ``events`` has drifted between TIMESTAMP(NANOS) and timestamp[us]
    across driver data regenerations; ``normalize_events_ts`` pins one
    canonical type whatever is on disk.
    """
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df
