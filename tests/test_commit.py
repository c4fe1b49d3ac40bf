"""One commit protocol for every table write (``sources.commit``): a
crash at any point of any writer converges.

Each case runs one writer from the same starting state twice: once
cleanly, and once with a crash injected at one of three points:

- ``mid_stage_write``: the stage holds part of the new files and no
  intent;
- ``after_intent``: the intent is written, but no retired file is
  deleted and no staged file moved yet;
- ``between_moves``: the first staged file is moved in, the second is
  not.

Until the intent exists the table is untouched. Recovery then leaves
the table as it was (no intent) or as the clean run left it (intent):
readers and the listing watermark see all of the write or none of it.
Re-running the writer equals the clean run row for row and leaves no
stage.

Three writers record a versioned JSON document after their table's
commit (``commit.write_document``): the dimension drain its ledger of
drained files, and the IVF build and a tokened IVF append the index
manifest. They have three more crash points, all after the table is
complete:

- ``before_ledger``: the document is as it was;
- ``inside_ledger``: the next document version is written under its
  temporary name, not yet renamed into place;
- ``ledger_landed``: the next version is in place, the older one not
  yet deleted.

Re-running the writer then equals the clean run's table and document
(and, for an index, its query results).
"""

import contextlib
import datetime
import glob
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql.types import DateType, LongType, StringType, StructField, StructType

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
    append_to_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    query_ivf_index,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming import load_or_update
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.incremental import (
    _listed_watermark,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
    scd_stream_upsert,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.session import gateway_calls

_d = datetime.date
_STORE = StructType(
    [StructField("store", LongType()), StructField("city", StringType()), StructField("obs_date", DateType())]
)


def _dimension_drain(spark, root):
    """Two change-log files, the second not yet drained. They have the
    same names in every run, so two runs' ledgers compare."""
    staging, dim = str(root / "in"), str(root / "dim")
    os.makedirs(staging)

    def drop(rows):
        store, city, day = zip(*rows)
        table = pa.table({"store": store, "city": city, "obs_date": pa.array(day, pa.date32())})
        pq.write_table(table, os.path.join(staging, f"day-{len(os.listdir(staging))}.parquet"))

    def drain():
        scd_stream_upsert(spark, staging, dim, str(root / "ckpt"), "store", "obs_date", ["city"], schema=_STORE)

    drop([(1, "ames", _d(2024, 1, 1)), (2, "adel", _d(2024, 1, 1))])
    drain()
    drop([(1, "boone", _d(2024, 3, 1)), (3, "clive", _d(2024, 3, 9))])
    return dim, drain


def _fact_append(spark, root):
    """Three loaded days; the source spans two more, so the append
    stages at least two files."""
    target = str(root / "fact")
    day0 = _d(2024, 1, 1)
    rows = [Row(k=i, d=day0 + datetime.timedelta(days=i // 3)) for i in range(15)]
    source = spark.createDataFrame(rows, "k long, d date")
    load_or_update(spark, source.where("d < DATE'2024-01-04'"), target, "d")
    return target, lambda: load_or_update(spark, source, target, "d")


def _vectors(spark):
    rng = random.Random(7)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)], "vec_id long, embedding array<float>"
    )


def _ivf_append(spark, root):
    """A batch that lands in several cells, so the append stages several
    files. The update's second step is this append."""
    emb = _vectors(spark)
    path = str(root / "idx")
    build_ivf_index(emb.where("vec_id < 100"), path, n_cells=4, iters=1)
    return path, lambda: append_to_ivf_index(emb.where("vec_id >= 100"), path)


def _ivf_build(spark, root):
    """A rebuild over a smaller index: the build retires every list
    file of the old one and replaces its manifest."""
    emb = _vectors(spark)
    path = str(root / "idx")
    build_ivf_index(emb.where("vec_id < 100"), path, n_cells=4, iters=1)
    return path, lambda: build_ivf_index(emb, path, n_cells=4, iters=1)


def _ivf_token_append(spark, root):
    """A tokened append: its token is recorded in the next manifest
    version after the lists' commit."""
    emb = _vectors(spark)
    path = str(root / "idx")
    build_ivf_index(emb.where("vec_id < 100"), path, n_cells=4, iters=1)
    return path, lambda: append_to_ivf_index(emb.where("vec_id >= 100"), path, batch_token="t-1")


def _ivf_compaction(spark, root):
    """Tombstones in several cells, so the compaction rewrites several.
    The update's first step is a compaction."""
    emb = _vectors(spark)
    path = str(root / "idx")
    build_ivf_index(emb, path, n_cells=4, iters=1)
    delete_from_ivf_index(emb.where("vec_id % 5 = 0"), path)
    return path, lambda: compact_ivf_index(spark, path)


def _ivf_tombstone_sidecar(spark, root):
    """A micro-compaction whose list commit has landed and whose
    tombstone-sidecar commit is left: ids 200-209 are tombstoned but
    hold no row, so the run only rewrites the sidecar without them and
    keeps every other tombstone. A build rewrites its centroid sidecar
    the same way."""
    emb = _vectors(spark)
    path = str(root / "idx")
    build_ivf_index(emb, path, n_cells=4, iters=1)
    delete_from_ivf_index(emb.where("vec_id % 5 = 0"), path)
    gone = spark.range(200, 210).withColumnRenamed("id", "vec_id")
    delete_from_ivf_index(gone, path)
    only = gone.withColumnRenamed("vec_id", "neighbor_id")
    return path + "_tombstones", lambda: compact_ivf_index(spark, path, only_ids=only)


WRITERS = {
    "dimension_drain": _dimension_drain,
    "fact_append": _fact_append,
    "ivf_append": _ivf_append,
    "ivf_build": _ivf_build,
    "ivf_compaction": _ivf_compaction,
    "ivf_tombstone_sidecar": _ivf_tombstone_sidecar,
    "ivf_token_append": _ivf_token_append,
}


def _view(spark, path):
    """What a reader sees: the rows, and how many data files hold them."""
    rows = sorted((tuple(r) for r in spark.read.parquet(path).collect()), key=repr)
    return rows, len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class Crash(Exception):
    pass


CRASHES = ["mid_stage_write", "after_intent", "between_moves"]
LEDGER_CRASHES = ["before_ledger", "inside_ledger", "ledger_landed"]
# the writers that record a document, and its directory and stem
DOCUMENTS = {
    "dimension_drain": ("ckpt", "drained"),
    "ivf_build": ("idx_manifest", "manifest"),
    "ivf_token_append": ("idx_manifest", "manifest"),
}


def _inject(monkeypatch, crash):
    if crash in LEDGER_CRASHES:
        real_write = commit._fs_write_text_atomic

        def write_text(spark, path, text):
            if not re.search(r"/(drained|manifest)-\d+\.json$", path):
                return real_write(spark, path, text)
            if crash == "inside_ledger":  # leaves exactly the temporary file a rename was due to move
                real_write(spark, path + ".tmp", text)
            elif crash == "ledger_landed":
                real_write(spark, path, text)
            raise Crash("Crash")

        monkeypatch.setattr(commit, "_fs_write_text_atomic", write_text)
    elif crash == "mid_stage_write":

        def write_intent(_spark, stage, _retire):
            # a staging job killed part-way: a data file and the
            # success marker missing, no intent
            os.remove(sorted(glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True))[-1])
            os.remove(os.path.join(stage, "_SUCCESS"))
            raise Crash("Crash")

        monkeypatch.setattr(commit, "_write_intent", write_intent)
    elif crash == "after_intent":
        real_intent = commit._write_intent

        def write_intent(*args):
            real_intent(*args)
            raise Crash("Crash")

        monkeypatch.setattr(commit, "_write_intent", write_intent)
    else:
        real_move, moves = commit._move, []

        def move(*args):
            if moves:
                raise Crash("Crash")
            real_move(*args)
            moves.append(args)

        monkeypatch.setattr(commit, "_move", move)


@pytest.fixture
def uncoalesced_shuffles(spark):
    """Keep the dimension merge's shuffle partitions apart, so the
    rewritten dimension is more than one file and has two moves."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "writer, crash",
    [pytest.param(w, c, id=f"{w}-{c}") for w in WRITERS if w != "ivf_token_append" for c in CRASHES]
    + [pytest.param(w, c, id=f"{w}-{c}") for w in DOCUMENTS for c in LEDGER_CRASHES],
)
def test_crashed_write_converges(spark, tmp_path, monkeypatch, uncoalesced_shuffles, writer, crash):
    setup = WRITERS[writer]
    clean, clean_run = setup(spark, tmp_path / "clean")
    clean_run()
    want = _view(spark, clean)

    path, run = setup(spark, tmp_path / "crash")
    before = _view(spark, path)
    assert before != want
    _inject(monkeypatch, crash)
    with pytest.raises(Exception, match="Crash"):
        run()
    monkeypatch.undo()

    stage = commit.stage_path(path)
    committed = crash in LEDGER_CRASHES  # the table's commit completed
    assert os.path.exists(os.path.join(stage, commit.INTENT)) == (crash != "mid_stage_write" and not committed)
    if crash in ("mid_stage_write", "after_intent"):
        # nothing live is touched before the roll-forward starts
        assert _view(spark, path) == before
        if writer == "fact_append":
            assert _listed_watermark(spark, path, "d") == (True, _d(2024, 1, 3))

    # all or none: recovery (on a copy; the intent names relative
    # paths) yields the state before the write or the clean run's
    probe = str(tmp_path / "probe")
    shutil.copytree(path, probe)
    action = commit.recover(spark, probe)["action"]
    assert action == {"mid_stage_write": "rolled_back"}.get(crash, "none" if committed else "rolled_forward")
    assert _view(spark, probe) == (before if action == "rolled_back" else want)
    if writer == "fact_append":
        newest = _d(2024, 1, 3) if action == "rolled_back" else _d(2024, 1, 5)
        assert _listed_watermark(spark, probe, "d") == (True, newest)

    # the re-run (the dimension drain folds again the files its ledger
    # does not record) recovers first, then converges on the clean run
    run()
    assert _view(spark, path) == want
    assert not os.path.exists(stage)
    if writer in DOCUMENTS:
        directory, stem = DOCUMENTS[writer]
        docs = [commit.read_document(spark, str(tmp_path / side / directory), stem)[1] for side in ("clean", "crash")]
        assert docs[0] == docs[1]
    if writer == "dimension_drain":
        assert len(want[0]) == 4
        assert sorted(p.name for p in (tmp_path / "crash").iterdir()) == ["ckpt", "dim", "in"]
        assert set(docs[0]) == {"day-0.parquet", "day-1.parquet"}
    if writer.startswith("ivf_"):
        queries = _vectors(spark).where("vec_id < 5")
        hits = [
            sorted(tuple(r) for r in query_ivf_index(queries, str(tmp_path / side / "idx"), k=10, n_probe=4).collect())
            for side in ("clean", "crash")
        ]
        assert hits[0] == hits[1] and len(hits[0]) == 50
    if writer == "ivf_token_append":
        assert docs[0]["tokens"] == ["t-1"]


def test_recover_on_a_clean_table_gateway_calls_are_bounded(spark, tmp_path):
    """Every writer runs ``recover`` first; on a clean table it is one
    stage probe, 5 py4j round trips. Reaching ``Path`` one package at a
    time made it 10."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, p string").write.parquet(path)
    with gateway_calls(spark) as calls:
        assert commit.recover(spark, path) == {"action": "none"}
    assert calls[0] <= 5


def test_write_retiring_every_file_of_a_partition_drops_its_directory(spark, tmp_path):
    """Retired files go, staged files land at the same relative path,
    and a partition directory left without data is dropped."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string").write.partitionBy("p").parquet(path)
    retire = commit.live_files(spark, path, ["p=a", "p=b"])
    assert len(retire) == 2 and all(f.startswith(("p=a/", "p=b/")) for f in retire)
    n = commit.write(spark, path, spark.createDataFrame([(3, "b")], "k long, p string"), retire, ["p"])
    assert n == 1
    assert not os.path.exists(os.path.join(path, "p=a"))
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(3, "b")]
    assert not os.path.exists(commit.stage_path(path))


@contextlib.contextmanager
def _failing_parquet_writes(spark):
    """Every parquet write job fails in its tasks, after Spark planned
    it: the codec is valid to the planner but absent at run time."""
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key)
    spark.conf.set(key, "lzo")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_failed_sidecar_write_leaves_the_sidecar_as_it_was(spark, tmp_path):
    """A sidecar rewrite whose job fails leaves the live sidecar as it
    was; an in-place overwrite deletes it before the job runs. So a
    failed micro-compaction keeps every tombstone, and the next
    operation recovers the stage and converges."""
    tombstones, micro_compact = _ivf_tombstone_sidecar(spark, tmp_path)
    path = tombstones.removesuffix("_tombstones")
    tombs_before = _view(spark, tombstones)

    with _failing_parquet_writes(spark), pytest.raises(Exception):
        micro_compact()
    assert _view(spark, tombstones) == tombs_before
    # the tombstoned ids stay hidden from queries
    queries = spark.read.parquet(path).where("neighbor_id IN (1, 2)")
    queries = queries.selectExpr("neighbor_id AS vec_id", "c_vec AS embedding")
    hits = query_ivf_index(queries, path, k=119, n_probe=4)
    found = {int(r["neighbor_id"]) for r in hits.collect()}
    assert found and not found & {r[0] for r in tombs_before[0]}

    micro_compact()
    assert sorted(r[0] for r in _view(spark, tombstones)[0]) == list(range(0, 120, 5))
    assert not os.path.exists(commit.stage_path(tombstones))
