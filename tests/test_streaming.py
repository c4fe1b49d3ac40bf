"""Incremental-batch tests: the watermark-gated incremental loader must
be idempotent and append-only, the SCD2 inbox drain must equal a batch
rebuild, and the multimodal decoders must run unchanged on a stream."""

import datetime
import os
import shutil

import pyspark.sql.functions as F
import pytest
from conftest import jobs_of
from pyspark.errors import AnalysisException
from pyspark.sql import Row

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming import (
    high_watermark,
    incremental_delta,
    load_or_update,
)

SF_DIR = "/root/testdata/sf0.001"


def test_incremental_load_or_update(spark, tmp_path):
    target = str(tmp_path / "fact")
    src1 = spark.createDataFrame(
        [Row(k=1, d=datetime.date(2024, 1, 1)), Row(k=2, d=datetime.date(2024, 1, 2))]
    )
    mode, n = load_or_update(spark, src1, target, "d")
    assert (mode, n) == ("create", 2)

    # same source again: watermark blocks everything → idempotent
    mode, n = load_or_update(spark, src1, target, "d")
    assert (mode, n) == ("update", 0)
    assert spark.read.parquet(target).count() == 2

    # one newer row arrives → only it is appended
    src2 = src1.unionByName(spark.createDataFrame([Row(k=3, d=datetime.date(2024, 1, 5))]))
    mode, n = load_or_update(spark, src2, target, "d")
    assert (mode, n) == ("update", 1)
    got = sorted(r["k"] for r in spark.read.parquet(target).collect())
    assert got == [1, 2, 3]


def _corrupt_table(path: str) -> dict[str, bytes]:
    """A table directory whose only data file is not parquet; returns
    its contents."""
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    return _contents(path)


def _contents(path: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), path)] = f.read()
    return out


def test_load_or_update_raises_on_unreadable_target(spark, tmp_path):
    """Only a missing target means "create"; an unreadable one must not
    get the whole source appended onto it."""
    target = str(tmp_path / "fact")
    before = _corrupt_table(target)
    src = spark.createDataFrame([Row(k=1, d=datetime.date(2024, 1, 1))])
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        load_or_update(spark, src, target, "d")
    assert _contents(target) == before


def test_scd_upsert_raises_on_unreadable_dimension(spark, tmp_path):
    """Only a missing dimension is created from the batch; an unreadable
    one must not be overwritten by a one-batch rebuild."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_upsert_batch,
    )

    dim = str(tmp_path / "dim")
    before = _corrupt_table(dim)
    batch = spark.createDataFrame([Row(nk=1, val="a", d=datetime.date(2024, 1, 1))])
    with pytest.raises(Exception, match=r"FAILED_READ_FILE\.NO_HINT"):
        scd_upsert_batch(spark, batch, dim, "nk", "d", ["nk", "val"])
    assert _contents(dim) == before


def test_scd_upsert_raises_on_mistyped_dimension(spark, tmp_path):
    """A stored dimension whose ``start_date`` is not the type the batch
    implies raises instead of being coerced and rewritten."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_upsert_batch,
    )

    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [Row(nk=1, val="a", start_date="2024-01-01", end_date=None, is_current=True)],
        "nk long, val string, start_date string, end_date date, is_current boolean",
    ).write.parquet(dim)
    before = _contents(dim)
    batch = spark.createDataFrame([Row(nk=1, val="b", d=datetime.date(2024, 2, 1))])
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        scd_upsert_batch(spark, batch, dim, "nk", "d", ["nk", "val"])
    assert _contents(dim) == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["dim"]


def _rows(spark, path):
    return sorted((r["k"], r["d"]) for r in spark.read.parquet(path).collect())


def test_listing_watermark_matches_read_path_in_one_job(spark, tmp_path):
    """On a DATE-partitioned target past Spark's parallel-listing
    threshold (32 directories) the watermark comes from the directory
    names: each call runs only the append's job, and answers as the
    read-and-aggregate path would — hidden-only and NULL partitions
    included."""
    target = str(tmp_path / "fact")
    day0 = datetime.date(2024, 1, 1)
    history = [Row(k=i, d=day0 + datetime.timedelta(days=i)) for i in range(35)]
    spark.createDataFrame(history).write.partitionBy("d").parquet(target)
    last = history[-1]["d"]
    want = sorted((r["k"], r["d"]) for r in history)

    def call(case, rows):
        src = spark.createDataFrame(rows, "k long, d date")
        out, jobs = jobs_of(spark, f"load-{case}", lambda: load_or_update(spark, src, target, "d"))
        assert len(jobs) == 1, (case, jobs)
        return out

    new = Row(k=100, d=last + datetime.timedelta(days=3))
    assert call("one-row", history + [new]) == ("update", 1)
    want.append((100, new["d"]))
    assert _rows(spark, target) == want

    assert call("empty", history + [new]) == ("update", 0)
    assert _rows(spark, target) == want

    # a later partition directory with markers but no data file (some
    # committers write a non-empty _SUCCESS; the local filesystem hides
    # .crc files itself, so an in-flight dot file stands in for them)
    planted = tmp_path / "fact" / f"d={last + datetime.timedelta(days=30)}"
    planted.mkdir()
    (planted / "_SUCCESS").write_bytes(b"{}")
    (planted / ".part-00000.parquet.crc").write_bytes(b"crc")
    (planted / ".part-00001.parquet").write_bytes(b"in flight")
    later = Row(k=101, d=last + datetime.timedelta(days=5))
    assert call("planted", [later]) == ("update", 1)
    want.append((101, later["d"]))
    assert _rows(spark, target) == want

    # the NULL partition: MAX ignores it
    spark.createDataFrame([Row(k=102, d=None)], "k long, d date").write.mode("append").partitionBy("d").parquet(target)
    assert (tmp_path / "fact" / "d=__HIVE_DEFAULT_PARTITION__").is_dir()
    want.append((102, None))
    latest = Row(k=103, d=last + datetime.timedelta(days=6))
    assert call("null-partition", [later, latest]) == ("update", 1)
    want.append((103, latest["d"]))
    assert sorted(_rows(spark, target), key=str) == sorted(want, key=str)


def test_hidden_names_are_one_rule_for_sidecars_and_partitions(spark, tmp_path):
    """The absent-table check and the listed watermark skip the
    same names Spark's file index skips — markers, dot files, in-flight
    copies — and a visible subdirectory (``_col=v`` included) never
    reads as "no data"."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.commit import (
        absent,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.incremental import (
        _listed_watermark,
    )

    target = str(tmp_path / "fact")
    day = datetime.date(2024, 1, 1)
    spark.createDataFrame([Row(k=1, d=day)], "k long, d date").write.partitionBy("d").parquet(target)
    sidecar = tmp_path / "sidecar"
    partition = tmp_path / "fact" / "d=2024-02-01"
    for where in (sidecar, partition):
        where.mkdir()
        (where / "_SUCCESS").write_bytes(b"{}")
        (where / ".x.crc").write_bytes(b"crc")
        (where / "part-0._COPYING_").write_bytes(b"in flight")
    assert absent(spark, str(sidecar))
    assert absent(spark, str(tmp_path / "missing"))
    assert _listed_watermark(spark, target, "d") == (True, day)

    for sub in ("nested", "_col=v"):
        (sidecar / sub).mkdir()
        (partition / sub).mkdir()
        assert not absent(spark, str(sidecar)), sub
        assert _listed_watermark(spark, target, "d") is None, sub
        (sidecar / sub).rmdir()
        (partition / sub).rmdir()


def test_null_partition_only_target_is_update(spark, tmp_path):
    """A target whose only data is the NULL partition exists but has
    no watermark: the whole source is appended, as MAX(NULL) gates
    nothing."""
    target = str(tmp_path / "fact")
    spark.createDataFrame([Row(k=0, d=None)], "k long, d date").write.partitionBy("d").parquet(target)
    src = spark.createDataFrame([Row(k=1, d=datetime.date(2024, 1, 1)), Row(k=2, d=datetime.date(2024, 1, 2))])
    assert load_or_update(spark, src, target, "d") == ("update", 2)
    assert spark.read.parquet(target).count() == 3


def test_empty_create_leaves_no_target(spark, tmp_path):
    target = str(tmp_path / "fact")
    empty = spark.createDataFrame([], "k long, d date")
    assert load_or_update(spark, empty, target, "d") == ("create", 0)
    assert not os.path.exists(target)
    assert load_or_update(spark, empty, target, "d") == ("create", 0)
    assert not os.path.exists(target)


def test_timestamp_date_col_takes_read_path(spark, tmp_path, monkeypatch):
    """A non-DATE ``date_col`` (the demo pipeline's TIMESTAMP
    ``o_orderdate``) is watermarked by reading the target."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming import incremental

    calls = []

    def spy(df, date_col):
        calls.append(date_col)
        return high_watermark(df, date_col)

    monkeypatch.setattr(incremental, "high_watermark", spy)
    target = str(tmp_path / "fact")
    src = spark.createDataFrame(
        [Row(k=1, d=datetime.datetime(2024, 1, 1, 0, 0)), Row(k=2, d=datetime.datetime(2024, 1, 2, 0, 0))]
    )
    assert load_or_update(spark, src, target, "d") == ("create", 2)
    assert calls == []
    assert load_or_update(spark, src, target, "d") == ("update", 0)
    assert calls == ["d"]
    assert spark.read.parquet(target).count() == 2


def test_watermark_helpers(spark):
    df = spark.createDataFrame([Row(d=datetime.date(2024, 1, 1)), Row(d=datetime.date(2024, 2, 1))])
    wm = high_watermark(df, "d")
    assert wm == datetime.date(2024, 2, 1)
    assert incremental_delta(df, "d", wm).count() == 0
    assert incremental_delta(df, "d", datetime.date(2024, 1, 15)).count() == 1
    assert incremental_delta(df, "d", None).count() == 2


def test_scd_stream_upsert_matches_batch_rebuild(spark, tmp_path):
    """Two staged drops folded in by separate drains == one batch SCD
    build over the concatenated input (drain merge ≡ rebuild)."""
    from pyspark.sql.types import StructType, StructField, LongType, StringType, DateType

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_stream_upsert,
    )

    schema = StructType(
        [
            StructField("store", LongType()),
            StructField("city", StringType()),
            StructField("obs_date", DateType()),
        ]
    )
    d = datetime.date
    drop1 = [(1, "ames", d(2024, 1, 1)), (2, "adel", d(2024, 1, 1)), (1, "ames", d(2024, 2, 1))]
    drop2 = [(1, "boone", d(2024, 3, 1)), (2, "adel", d(2024, 3, 5)), (3, "clive", d(2024, 3, 9))]

    staging = str(tmp_path / "staging")
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, staging, dim, ckpt, "store", "obs_date", ["city"])

    spark.createDataFrame(drop1, schema).write.mode("append").parquet(staging)
    scd_stream_upsert(*args, schema=schema)
    first = spark.read.parquet(dim)
    assert first.count() == 2 and first.where("is_current").count() == 2

    spark.createDataFrame(drop2, schema).write.mode("append").parquet(staging)
    scd_stream_upsert(*args, schema=schema)  # same ledger: only drop2 is new

    got = {
        (r["store"], r["city"], str(r["start_date"]), str(r["end_date"]), r["is_current"])
        for r in spark.read.parquet(dim).collect()
    }
    batch = create_scd_from_input(
        spark.createDataFrame(drop1 + drop2, schema), ["city"], "obs_date", "store"
    )
    want = {
        (r["store"], r["city"], str(r["start_date"]), str(r["end_date"]), r["is_current"])
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == 4  # store1: ames→boone (2 rows), store2: adel, store3: clive


def _scd_tuples(df):
    return sorted(
        (r["store"], r["city"], str(r["start_date"]), str(r["end_date"]), r["is_current"]) for r in df.collect()
    )


def _scd_rows(spark, path):
    return _scd_tuples(spark.read.parquet(path))


_d = datetime.date


@pytest.mark.parametrize(
    "first, late",
    [
        # the late file repeats the current attributes at an earlier date
        ([(1, "ames", _d(2024, 1, 5)), (2, "adel", _d(2024, 1, 1))], [(1, "ames", _d(2024, 1, 2))]),
        # the late file's version falls between two already-merged ones
        (
            [(1, "ames", _d(2024, 1, 1)), (1, "clive", _d(2024, 1, 10)), (2, "adel", _d(2024, 1, 1))],
            [(1, "boone", _d(2024, 1, 5))],
        ),
    ],
    ids=["earlier-same-attrs", "between-versions"],
)
def test_scd_stream_late_file_equals_whole_log_rebuild(spark, tmp_path, first, late):
    """A change-log file whose records predate the dimension's newest
    versions, drained after them, leaves what one build over both files
    leaves: one current row per key and tiling intervals. Re-folding it
    changes nothing."""
    from pyspark.sql.types import DateType, LongType, StringType, StructField, StructType

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_stream_upsert,
        scd_upsert_batch,
    )

    schema = StructType(
        [StructField("store", LongType()), StructField("city", StringType()), StructField("obs_date", DateType())]
    )
    staging, dim = str(tmp_path / "staging"), str(tmp_path / "dim")
    for rows in (first, late):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(staging)
        scd_stream_upsert(spark, staging, dim, str(tmp_path / "ckpt"), "store", "obs_date", ["city"], schema=schema)

    got = _scd_rows(spark, dim)
    currents = [r[0] for r in got if r[4]]
    assert sorted(currents) == sorted(set(currents)) == [1, 2]
    whole_log = spark.createDataFrame(first + late, schema)
    assert got == _scd_tuples(create_scd_from_input(whole_log, ["city"], "obs_date", "store"))

    scd_upsert_batch(spark, spark.createDataFrame(late, schema), dim, "store", "obs_date", ["city"])
    assert _scd_rows(spark, dim) == got


def _store_schema():
    from pyspark.sql.types import DateType, LongType, StringType, StructField, StructType

    return StructType(
        [StructField("store", LongType()), StructField("city", StringType()), StructField("obs_date", DateType())]
    )


def test_scd_drain_onto_a_dimension_is_two_jobs(spark, tmp_path):
    """Folding a batch into an existing dimension runs the merge's one
    shuffle and the staging write: no emptiness probe, no schema
    inference over the dimension's footers."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_upsert_batch,
    )

    schema, dim = _store_schema(), str(tmp_path / "dim")
    first = spark.createDataFrame([(1, "ames", _d(2024, 1, 1)), (2, "adel", _d(2024, 1, 1))], schema)
    scd_upsert_batch(spark, first, dim, "store", "obs_date", ["city"])
    batch = spark.createDataFrame([(1, "boone", _d(2024, 3, 1)), (3, "clive", _d(2024, 3, 9))], schema)
    _, jobs = jobs_of(spark, "scd-drain", lambda: scd_upsert_batch(spark, batch, dim, "store", "obs_date", ["city"]))
    assert len(jobs) == 2, jobs
    assert len(_scd_rows(spark, dim)) == 4


def test_scd_stream_empty_file_leaves_the_dimension_as_it_was(spark, tmp_path):
    """An empty change-log file drained first leaves no dimension (as an
    empty create leaves no target); drained later it leaves the
    dimension's rows unchanged. Neither leaves a staging sibling or a
    stage."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_stream_upsert,
    )

    schema = _store_schema()
    staging, dim = str(tmp_path / "staging"), str(tmp_path / "dim")

    def drain(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(staging)
        scd_stream_upsert(spark, staging, dim, str(tmp_path / "ckpt"), "store", "obs_date", ["city"], schema=schema)
        assert not any(p.name.startswith("dim.") for p in tmp_path.iterdir())
        assert not os.path.exists(os.path.join(dim, ".maint-tmp"))

    drain([])
    assert not os.path.exists(dim)

    drain([(1, "ames", _d(2024, 1, 1)), (1, "boone", _d(2024, 2, 1)), (2, "adel", _d(2024, 1, 1))])
    got = _scd_rows(spark, dim)
    assert len(got) == 3
    drain([])
    assert _scd_rows(spark, dim) == got


def _drop_file(spark, staging, name, rows):
    """Stage ``rows`` as the one file ``<staging>/<name>``."""
    tmp = f"{staging}.tmp-{name}"
    spark.createDataFrame(rows, _store_schema()).coalesce(1).write.parquet(tmp)
    os.makedirs(staging, exist_ok=True)
    (part,) = [n for n in os.listdir(tmp) if n.endswith(".parquet")]
    shutil.move(os.path.join(tmp, part), os.path.join(staging, name))
    shutil.rmtree(tmp)
    return os.path.join(staging, name)


def _drainer(spark, tmp_path):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_stream_upsert,
    )

    staging, dim, ckpt = str(tmp_path / "staging"), str(tmp_path / "dim"), str(tmp_path / "ckpt")

    def drain():
        scd_stream_upsert(spark, staging, dim, ckpt, "store", "obs_date", ["city"], schema=_store_schema())

    return staging, dim, ckpt, drain


def test_scd_drain_never_reads_a_drained_file_name_again(spark, tmp_path):
    """A file name once drained is not read again, even re-delivered
    with new content."""
    staging, dim, _ckpt, drain = _drainer(spark, tmp_path)
    _drop_file(spark, staging, "day-1.parquet", [(1, "ames", _d(2024, 1, 1))])
    drain()
    before = _contents(dim)
    os.remove(os.path.join(staging, "day-1.parquet"))
    _drop_file(spark, staging, "day-1.parquet", [(1, "boone", _d(2024, 3, 1)), (2, "adel", _d(2024, 3, 1))])
    drain()
    assert _contents(dim) == before
    assert _scd_rows(spark, dim) == [(1, "ames", "2024-01-01", "None", True)]


def test_scd_drain_applies_a_late_file(spark, tmp_path):
    """A file that arrives after newer ones, with older change dates and
    an older mtime than any file drained before, is applied: the
    dimension equals a build over the whole log."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
    )

    staging, dim, _ckpt, drain = _drainer(spark, tmp_path)
    newer = [(1, "clive", _d(2024, 3, 1)), (2, "adel", _d(2024, 3, 1))]
    late = [(1, "ames", _d(2024, 1, 1)), (1, "boone", _d(2024, 2, 1))]
    _drop_file(spark, staging, "day-9.parquet", newer)
    drain()
    stale = _drop_file(spark, staging, "day-1.parquet", late)
    os.utime(stale, (946_684_800, 946_684_800))  # 2000-01-01: long before any file drained
    drain()
    whole_log = spark.createDataFrame(newer + late, _store_schema())
    want = _scd_tuples(create_scd_from_input(whole_log, ["city"], "obs_date", "store"))
    assert _scd_rows(spark, dim) == want
    assert len(want) == 4


def test_scd_drain_with_nothing_new_runs_no_job_and_writes_nothing(spark, tmp_path):
    """An inbox with no undrained file runs no Spark job and leaves the
    dimension and the ledger byte-identical."""
    staging, dim, ckpt, drain = _drainer(spark, tmp_path)
    _drop_file(spark, staging, "day-1.parquet", [(1, "ames", _d(2024, 1, 1)), (2, "adel", _d(2024, 1, 1))])
    drain()
    before = _contents(dim), _contents(ckpt)
    _, jobs = jobs_of(spark, "scd-drain-nothing-new", drain)
    assert jobs == []
    assert (_contents(dim), _contents(ckpt)) == before


def test_scd_drain_converges_from_a_structured_streaming_checkpoint(spark, tmp_path):
    """A checkpoint directory left by a Structured Streaming drain holds
    no ledger: the first drain folds every inbox file once more, which
    leaves the dimension a build over the whole inbox, and records them."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_upsert_batch,
    )

    staging, dim, ckpt, drain = _drainer(spark, tmp_path)
    first = [(1, "ames", _d(2024, 1, 1)), (2, "adel", _d(2024, 1, 1))]
    second = [(1, "boone", _d(2024, 3, 1)), (3, "clive", _d(2024, 3, 9))]
    _drop_file(spark, staging, "day-1.parquet", first)
    q = (
        spark.readStream.schema(_store_schema()).parquet(staging)
        .writeStream.foreachBatch(lambda b, _i: scd_upsert_batch(spark, b, dim, "store", "obs_date", ["city"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {"commits", "offsets", "sources"} <= set(os.listdir(ckpt))

    _drop_file(spark, staging, "day-2.parquet", second)
    drain()
    whole_log = spark.createDataFrame(first + second, _store_schema())
    want = _scd_tuples(create_scd_from_input(whole_log, ["city"], "obs_date", "store"))
    assert _scd_rows(spark, dim) == want
    before = _contents(dim)
    drain()
    assert _contents(dim) == before


def test_scd_drain_of_a_missing_inbox_raises(spark, tmp_path):
    """A missing inbox is an error, not an empty one: the drain raises
    Spark's PATH_NOT_FOUND and creates neither dimension nor ledger."""
    _staging, dim, ckpt, drain = _drainer(spark, tmp_path)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        drain()
    assert not os.path.exists(dim) and not os.path.exists(ckpt)


def test_an_incremental_day_runs_only_its_own_work(spark, tmp_path):
    """A day staged under a new path, with files whose footers are
    known, loads and drains with every Spark job inside a SQL execution
    (the append, the merge, the dimension write) and no streaming query:
    no schema-inference job and no query lifecycle. Jobs are grouped by
    execution root, since adaptive execution splits one action into a
    timing-dependent number of jobs."""
    from pyspark.sql.streaming import StreamingQueryListener

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.warehouse import (
        fact_sales,
    )

    fact = str(tmp_path / "fact")
    staging, dim, _ckpt, drain = _drainer(spark, tmp_path)
    day = tmp_path / "day_1"
    day.mkdir()
    for t in ("lineitem", "orders"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), day / f"{t}.parquet")
    fact_sales(spark, SF_DIR)  # the staged files' footers are known
    _drop_file(spark, staging, "day-0.parquet", [(1, "ames", _d(2024, 1, 1))])
    drain()
    _drop_file(spark, staging, "day-1.parquet", [(1, "boone", _d(2024, 3, 1)), (3, "clive", _d(2024, 3, 9))])

    class Started(StreamingQueryListener):
        def __init__(self):
            self.started = []

        def onQueryStarted(self, event):
            self.started.append(event.id)

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Started()
    spark.streams.addListener(listener)
    try:

        def day_1():
            # one week of the copied tables: each date is a partition to commit
            week = fact_sales(spark, str(day)).where("sale_date BETWEEN DATE'1995-06-01' AND DATE'1995-06-07'")
            n = load_or_update(spark, week, fact, "sale_date")[1]
            drain()
            return n

        n, jobs = jobs_of(spark, "incremental-day", day_1)
    finally:
        spark.streams.removeListener(listener)
    store = spark.sparkContext._jsc.sc().statusStore()
    outside = [j for j in jobs if "-execution-root-id-" not in str(store.job(j).jobTags().mkString(" "))]
    assert outside == []
    assert listener.started == []
    assert n > 0 and len(_scd_rows(spark, dim)) == 3


def test_chained_incremental_pipeline_with_restart(spark, tmp_path):
    """The reference's core lifecycle (SURVEY §3 entry point 2) as ONE
    composed assertion: watermark-gated staging append
    (load_or_update) → SCD2 stream merge over the staging dir
    (scd_stream_upsert, ledger-gated) → point-in-time fact
    enrichment → dashboard aggregate, across TWO batches with a
    session restart between them (spark.newSession(): temp views,
    session conf and cached plans are gone — every bit of pipeline
    state must live in the lakehouse + the drain's ledger, none in
    the driver). Batch-2 state must equal a from-scratch rebuild over
    the concatenated input."""
    import decimal

    from pyspark.sql.types import (
        DateType,
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
        scd_point_in_time_join,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
        scd_stream_upsert,
    )

    d = datetime.date
    dec = decimal.Decimal

    dim_schema = StructType(
        [
            StructField("store", LongType()),
            StructField("city", StringType()),
            StructField("obs_date", DateType()),
        ]
    )
    sales_schema = StructType(
        [
            StructField("sale_id", LongType()),
            StructField("store", LongType()),
            StructField("sale_date", DateType()),
            StructField("amount", DecimalType(12, 2)),
        ]
    )

    dim_drop1 = [(1, "ames", d(2024, 1, 1)), (2, "adel", d(2024, 1, 1))]
    dim_drop2 = [(1, "boone", d(2024, 2, 1)), (3, "clive", d(2024, 2, 1))]
    sales1 = [
        (10, 1, d(2024, 1, 5), dec("10.00")),
        (11, 2, d(2024, 1, 6), dec("20.00")),
        (12, 1, d(2024, 1, 20), dec("5.50")),
    ]
    # overlaps batch 1's dates (sale 13 is NOT newer than the
    # watermark and must be dropped by the gate) + genuinely new rows,
    # one of which (15) falls in store 1's post-change "boone" era
    sales2 = [
        (13, 1, d(2024, 1, 20), dec("99.99")),
        (14, 2, d(2024, 1, 25), dec("7.25")),
        (15, 1, d(2024, 2, 10), dec("40.00")),
        (16, 3, d(2024, 2, 11), dec("3.00")),
    ]

    staging_dim = str(tmp_path / "staging_dim")
    dim_path = str(tmp_path / "dim_store")
    ckpt = str(tmp_path / "ckpt_dim")
    fact_path = str(tmp_path / "fact_sales")

    def run_batch(sess, dim_rows, sales_rows):
        if dim_rows:
            sess.createDataFrame(dim_rows, dim_schema).write.mode("append").parquet(staging_dim)
        scd_stream_upsert(
            sess, staging_dim, dim_path, ckpt, "store", "obs_date", ["city"], schema=dim_schema
        )
        mode, n = load_or_update(
            sess, sess.createDataFrame(sales_rows, sales_schema), fact_path, "sale_date"
        )
        return mode, n

    def dashboard(sess):
        fact = sess.read.parquet(fact_path)
        dim = sess.read.parquet(dim_path)
        enriched = scd_point_in_time_join(fact, dim, "store", "sale_date")
        rows = (
            enriched.groupBy("city")
            .agg(F.sum("amount").alias("rev"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {(r["city"]): (str(r["rev"]), r["n"]) for r in rows}

    # ---- batch 1 (fresh targets: create path) ----
    mode, n = run_batch(spark, dim_drop1, sales1)
    assert (mode, n) == ("create", 3)
    assert dashboard(spark) == {"ames": ("15.50", 2), "adel": ("20.00", 1)}

    # ---- restart: new session; all state must come from disk ----
    sess2 = spark.newSession()

    # replaying batch 1's source through the restarted session is a
    # no-op on both legs (watermark gate + drained-file ledger)
    mode, n = run_batch(sess2, None, sales1)
    assert (mode, n) == ("update", 0)
    assert sess2.read.parquet(dim_path).count() == 2

    # ---- batch 2 ----
    mode, n = run_batch(sess2, dim_drop2, sales1 + sales2)
    assert mode == "update"
    assert n == 3  # sale 13 is behind the watermark and must not append

    got = dashboard(sess2)

    # ---- full rebuild over the concatenated input (ground truth) ----
    full_dim = create_scd_from_input(
        spark.createDataFrame(dim_drop1 + dim_drop2, dim_schema), ["city"], "obs_date", "store"
    )
    kept_sales = [s for s in sales1 + sales2 if s[0] != 13]
    full_fact = spark.createDataFrame(kept_sales, sales_schema)
    want_rows = (
        scd_point_in_time_join(full_fact, full_dim, "store", "sale_date")
        .groupBy("city")
        .agg(F.sum("amount").alias("rev"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r["city"]): (str(r["rev"]), r["n"]) for r in want_rows}
    assert got == want
    assert got == {
        "ames": ("15.50", 2),
        "adel": ("27.25", 2),
        "boone": ("40.00", 1),
        "clive": ("3.00", 1),
    }

    # the incremental SCD merge converged to the rebuild's row set
    got_dim = {
        (r["store"], r["city"], str(r["start_date"]), str(r["end_date"]), r["is_current"])
        for r in sess2.read.parquet(dim_path).collect()
    }
    want_dim = {
        (r["store"], r["city"], str(r["start_date"]), str(r["end_date"]), r["is_current"])
        for r in full_dim.collect()
    }
    assert got_dim == want_dim


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """The REAL multimodal decode stage (Arrow mapInPandas over binary
    payloads — q217's ppm_features) is a stateless per-batch transform,
    so it must run unchanged inside Structured Streaming: a parquet
    stream of rendered P6 payloads drained availableNow through the
    SAME decode function equals the batch decode of the same files —
    the arriving-media pattern (new image files land, features append)
    with exactly-once semantics and zero state store."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        ppm_features,
        render_ppm_from_text,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    media_dir = str(tmp_path / "media")
    render_ppm_from_text(docs).write.parquet(media_dir)

    media_stream = (
        spark.readStream.schema("media_id BIGINT, payload BINARY")
        .option("maxFilesPerTrigger", 1)  # several micro-batches, not one
        .parquet(media_dir)
    )
    ckpt = str(tmp_path / "ckpt")
    (
        ppm_features(media_stream).writeStream.outputMode("append")
        .format("memory")
        .queryName("media_feats_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["media_id"], r["width"], r["height"], r["pixel_sum"])
        for r in spark.sql("SELECT * FROM media_feats_out").collect()
    }
    want = {
        (r["media_id"], r["width"], r["height"], r["pixel_sum"])
        for r in ppm_features(spark.read.parquet(media_dir)).collect()
    }
    assert got == want
    assert len(got) == 50


def test_streaming_wav_decode_matches_batch(spark, tmp_path):
    """The q218 RIFF/WAV decode under the same streaming contract as
    the PPM twin above: drain a parquet stream of rendered WAV payloads
    availableNow through the UNCHANGED decode stage and require
    equality with the batch decode — the streaming contract covers
    every real codec, not just the first one (r11 verdict ask #6)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        render_wav_from_text,
        wav_features,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    media_dir = str(tmp_path / "wav_media")
    render_wav_from_text(docs).write.parquet(media_dir)

    media_stream = (
        spark.readStream.schema("media_id BIGINT, payload BINARY")
        .option("maxFilesPerTrigger", 1)
        .parquet(media_dir)
    )
    ckpt = str(tmp_path / "ckpt_wav")
    (
        wav_features(media_stream).writeStream.outputMode("append")
        .format("memory")
        .queryName("wav_feats_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["media_id"], r["sample_rate"], r["n_samples"], r["peak"], r["amp_sum"])
        for r in spark.sql("SELECT * FROM wav_feats_out").collect()
    }
    want = {
        (r["media_id"], r["sample_rate"], r["n_samples"], r["peak"], r["amp_sum"])
        for r in wav_features(spark.read.parquet(media_dir)).collect()
    }
    assert got == want
    assert len(got) == 50


def test_streaming_frame_sample_matches_batch(spark, tmp_path):
    """The q219 multi-frame container sampler streamed availableNow:
    the FLAT-MAP decode shape (output batch longer than input — one row
    per sampled frame) must also hold inside Structured Streaming, so
    arriving video containers can be frame-sampled with exactly-once
    semantics. Frame counts vary per doc (len(text) % 4 + 1, every 2nd
    kept), so row-set equality here also pins the per-header boundary
    discovery across the micro-batch slicing."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        render_ppm_stream_from_text,
        sample_ppm_frames,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    media_dir = str(tmp_path / "stream_media")
    render_ppm_stream_from_text(docs).write.parquet(media_dir)

    media_stream = (
        spark.readStream.schema("media_id BIGINT, payload BINARY")
        .option("maxFilesPerTrigger", 1)
        .parquet(media_dir)
    )
    ckpt = str(tmp_path / "ckpt_frames")
    (
        sample_ppm_frames(media_stream, every=2).writeStream.outputMode("append")
        .format("memory")
        .queryName("frame_sample_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["media_id"], r["frame_idx"], r["width"], r["height"], r["pixel_sum"])
        for r in spark.sql("SELECT * FROM frame_sample_out").collect()
    }
    want = {
        (r["media_id"], r["frame_idx"], r["width"], r["height"], r["pixel_sum"])
        for r in sample_ppm_frames(spark.read.parquet(media_dir), every=2).collect()
    }
    assert got == want
    assert len(got) >= 50  # flat-map: at least one kept frame per doc
