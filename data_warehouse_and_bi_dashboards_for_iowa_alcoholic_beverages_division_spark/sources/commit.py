"""One commit protocol for every table write that must not leave a
torn table behind: the SCD2 dimension rewrite (``streaming.scd_stream``),
the fact append (``streaming.incremental.load_or_update``), and the IVF
build, append, compaction and tombstone writes (``operators.similarity``).
All of them call :func:`write`:

1. the new files are written into the hidden stage ``<path>/.maint-tmp``.
   Spark's file index, :func:`_hidden` and the listing watermark skip
   it, so no reader sees a staged file;
2. the write commits by atomically writing ``_intent.json`` into the
   stage. The intent names the live data files the write retires;
3. roll-forward deletes each retired file (a missing one is fine),
   moves each staged data file to the same relative path in the table,
   drops any directory the removals left without data, and drops the
   stage last.

Spark names each write job's files with a per-job UUID, so a retired
file and a staged file never share a name, and re-running step 3 never
deletes a file an earlier run already moved in. The same three steps
therefore serve every writer with no mode flag: a whole-table replace
retires every live file, an IVF cell rewrite retires the files of its
cells, and an append retires nothing. A write that adds no row and
retires nothing has nothing to publish: its stage rolls back.
:func:`drop` is the same commit with nothing staged: it retires every
live file, and the table then reads as absent.

:func:`recover` converges any crash point:

- no stage: nothing to do;
- a stage without an intent: roll back. The stage is dropped, and so is
  a root that held nothing before the write;
- a stage with an intent: roll forward.

Every writer calls it before it reads its table. Readers do not: after
a crash in step 3 and before the next write (or ``recover`` call), a
reader can see a roll-forward half done.

**Single-writer contract.** All writes to one table are serialized by
the caller: one scheduler slot per table. Under it, a stage found by
``recover`` belongs to a crashed run, so rolling an uncommitted stage
back is safe. Without it, one writer could roll back another's
complete-but-uncommitted stage.

Everything goes through the Hadoop FS API, so the same code is right on
any filesystem Spark writes to. Hadoop's ``rename``/``delete`` report
failure by returning ``false`` rather than raising; every mutation here
checks that boolean (:func:`_fs_checked`). A move is a rename: on an
object store without atomic rename it becomes a copy, and a
transactional table format replaces this module there.

**Versioned documents.** State that is not a table (the SCD drain's
ledger, an IVF index's manifest) is a small JSON document,
``<stem>-<n>.json`` in a directory of its own, the highest ``n`` live.
:func:`write_document` writes version ``n+1`` under its fresh name
(tmp, then rename) and only then deletes the older versions, so a
crash leaves the old version or the new one, never neither.
:func:`read_document` reads the newest; a crashed write's ``.tmp`` is
not a version and is ignored.
"""

from __future__ import annotations

import json
import posixpath
import re
from collections.abc import Iterable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..session import jvm_class
from .metrics import observed_quality, quality_report

STAGE = ".maint-tmp"
INTENT = "_intent.json"


def _hadoop_fs(spark, path: str):
    """(fs, hpath) for ``path`` through the Hadoop FS API — the one
    place the Path/getFileSystem idiom lives, so existence probes,
    directory drops, and the empty-dir check cannot drift apart."""
    hpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _hidden(name: str) -> bool:
    """Names Spark's file index skips: ``_SUCCESS``, ``_temporary``,
    ``.crc`` and other dot files (the stage included), in-flight
    copies. ``_col=v`` is a partition directory, not hidden."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _holds_data(fs, hpath) -> bool | None:
    """Whether the directory ``hpath`` holds a non-empty data file;
    None when it holds a visible subdirectory (a partition layout, or
    one this caller does not expect), whose contents are not looked at."""
    found = False
    for st in fs.listStatus(hpath):
        if _hidden(st.getPath().getName()):
            continue
        if st.isDirectory():
            return None
        found = found or st.getLen() > 0
    return found


def absent(spark, path: str) -> bool:
    """True iff ``path`` is missing or holds no data file: only names
    Spark skips, or nothing. That is the state a crash before a first
    write's first committed file leaves. A visible subdirectory may
    hold committed data (a partitioned layout), so it never reads as
    absent."""
    fs, hpath = _hadoop_fs(spark, path)
    return not fs.exists(hpath) or _holds_data(fs, hpath) is False


def read_optional(spark, path: str, schema: StructType | str | None = None) -> DataFrame | None:
    """The parquet table at ``path``, or None when it is :func:`absent`
    — the one rule for "absent or unreadable". Absence is probed
    through the FS API first, so the common case raises nothing and
    py4j logs no stack trace; ``PATH_NOT_FOUND`` stays the backstop
    for a table dropped between probe and read. Every other error
    raises: reading an unreadable table as absent would rebuild a
    dimension from one batch, append a whole source again, bypass a
    recorded batch token or resurrect deleted rows.

    ``schema`` pins the read (no footer-inference job); an unreadable
    or mistyped file then raises when the result is first used."""
    if absent(spark, path):
        return None
    try:
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def _fs_checked(ok: bool, op: str, src: str, dst: str | None = None) -> None:
    """Hadoop ``FileSystem.delete``/``rename`` signal failure by
    returning ``false``, not by raising (RawLocalFileSystem, HDFS) —
    a step that ignores the boolean can drop the stage after a failed
    move and turn a recoverable state into silent loss. Every protocol
    FS mutation goes through this check and RAISES on false, leaving
    the staged data in place for :func:`recover` to converge once the
    cause (permissions, open handles) is fixed."""
    if not ok:
        target = f"{src} -> {dst}" if dst else src
        raise RuntimeError(
            f"filesystem {op} failed (returned false): {target}; the "
            "staged data is left in place — fix the cause and re-run "
            "the operation, which recovers from this state"
        )


def _fs_write_text_atomic(spark, path: str, text: str) -> None:
    """Write a new small text file with a tmp-then-rename commit: the
    file at ``path`` either does not exist or is complete. (``fs.rename``
    of a file is atomic on real filesystems; the intent commit point
    depends on exactly that.) No caller replaces a file: an intent lands
    in a fresh stage, a document version under a fresh name. A
    filesystem that refuses a rename onto an existing file (HDFS)
    therefore fails it through :func:`_fs_checked`."""
    fs, hpath = _hadoop_fs(spark, path)
    tmp_h = hpath.suffix(".tmp")
    out = fs.create(tmp_h, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    _fs_checked(fs.rename(tmp_h, hpath), "rename", path + ".tmp", path)


def _fs_read_text(spark, path: str) -> str:
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _document_path(directory: str, stem: str, version: int) -> str:
    return f"{directory.rstrip('/')}/{stem}-{version}.json"


def document_versions(spark, directory: str, stem: str) -> list[int]:
    """The versions of the document ``<stem>-<n>.json`` on disk under
    ``directory``, ascending; none for a missing directory."""
    fs, root = _hadoop_fs(spark, directory)
    names = [st.getPath().getName() for st in fs.listStatus(root)] if fs.exists(root) else []
    pattern = re.compile(re.escape(stem) + r"-(\d+)\.json")
    return sorted(int(m.group(1)) for n in names if (m := pattern.fullmatch(n)))


def read_document(spark, directory: str, stem: str) -> tuple[list[int], object]:
    """(:func:`document_versions`, the newest version's JSON value);
    ``([], None)`` when there is none. An unreadable version raises."""
    versions = document_versions(spark, directory, stem)
    if not versions:
        return [], None
    return versions, json.loads(_fs_read_text(spark, _document_path(directory, stem, versions[-1])))


def write_document(spark, directory: str, stem: str, versions: list[int], value) -> None:
    """Write ``value`` as the version after ``versions`` (what
    :func:`document_versions` returned) under a fresh name, then delete
    the older versions: the newest complete version is never deleted
    before its successor landed."""
    new = (versions[-1] if versions else 0) + 1
    _fs_write_text_atomic(spark, _document_path(directory, stem, new), json.dumps(value))
    for v in versions:
        fs, old = _hadoop_fs(spark, _document_path(directory, stem, v))
        _fs_checked(fs.delete(old, False), "delete", old.toString())


def _child(hpath, rel: str):
    """The Hadoop path ``rel`` below ``hpath``: one gateway call, where
    building a ``Path`` from a string costs a class lookup per package."""
    return hpath.suffix("/" + rel)


def stage_path(path: str) -> str:
    """The hidden directory a write to the table at ``path`` is staged in."""
    return f"{path.rstrip('/')}/{STAGE}"


def _data_files(fs, hpath, prefix: str = "") -> list[str]:
    """Relative paths (under ``prefix``) of every data file below the
    directory ``hpath``; names Spark skips are not descended into."""
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if _hidden(name):
            continue
        if st.isDirectory():
            out += _data_files(fs, st.getPath(), f"{prefix}{name}/")
        else:
            out.append(prefix + name)
    return out


def live_files(spark, path: str, dirs: Sequence[str] = ("",)) -> list[str]:
    """Relative paths of the live data files of the table at ``path``
    under its subdirectories ``dirs`` (default: the whole table). A
    missing table or subdirectory holds none."""
    fs, root = _hadoop_fs(spark, path)
    out = []
    for d in dirs:
        hpath = _child(root, d) if d else root
        if fs.exists(hpath):
            out += _data_files(fs, hpath, f"{d}/" if d else "")
    return out


def write(
    spark,
    path: str,
    df: DataFrame,
    retire: Iterable[str] = (),
    partition_by: Sequence[str] = (),
) -> int:
    """Publish ``df`` into the table at ``path`` and retire the live
    data files ``retire`` (relative paths, :func:`live_files`) in one
    commit. Returns the rows written, observed on the staging write.

    The caller has run :func:`recover` before reading the table, so no
    stage exists; one that does (a concurrent writer, against the
    single-writer contract) makes the staging write fail. The only
    Spark job is that write: the commit is FS metadata calls."""
    stage = stage_path(path)
    df, obs = observed_quality(df)
    writer = df.write.partitionBy(*partition_by) if partition_by else df.write
    writer.parquet(stage)  # save mode "error": an existing stage raises
    retire = sorted(retire)
    n = quality_report(obs)["n_rows"]
    fs, root = _hadoop_fs(spark, path)
    if n == 0 and not retire:
        _roll_back(fs, root)
    else:
        _write_intent(spark, stage, retire)
        _roll_forward(fs, root, retire)
    return n


def drop(spark, path: str) -> None:
    """Retire every live data file of the table at ``path`` in one
    commit: an intent naming them all over an empty stage, then the
    roll-forward. The table then reads as :func:`absent`. The caller
    has run :func:`recover`, as before :func:`write`."""
    retire = sorted(live_files(spark, path))
    if retire:
        _write_intent(spark, stage_path(path), retire)
        fs, root = _hadoop_fs(spark, path)
        _roll_forward(fs, root, retire)


def _write_intent(spark, stage: str, retire: list[str]) -> None:
    """The commit point: once this file exists the write rolls forward."""
    _fs_write_text_atomic(spark, f"{stage}/{INTENT}", json.dumps({"retired": retire}))


def _move(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        _fs_checked(False, "rename", src.toString(), dst.toString())


def _roll_forward(fs, root, retired: list[str]) -> dict:
    """Finish the write committed in the stage of the table at ``root``
    by an intent retiring ``retired``. Every step is idempotent, so a
    re-run from any crash point converges: a retired file already
    deleted is skipped, a staged file leaves the stage the moment its
    move lands."""
    stage_h = _child(root, STAGE)
    for rel in retired:
        hpath = _child(root, rel)
        if not fs.delete(hpath, False) and fs.exists(hpath):
            _fs_checked(False, "delete", hpath.toString())
    moved = _data_files(fs, stage_h)
    for d in sorted({posixpath.dirname(rel) for rel in moved} - {""}):
        _fs_checked(fs.mkdirs(_child(root, d)), "mkdirs", d)
    for rel in moved:
        _move(fs, _child(stage_h, rel), _child(root, rel))
    emptied = {d for rel in retired for d in _ancestors(rel)}
    for d in sorted(emptied, key=lambda d: d.count("/"), reverse=True):
        hpath = _child(root, d)
        if fs.exists(hpath) and not _data_files(fs, hpath):
            _fs_checked(fs.delete(hpath, True), "delete", hpath.toString())
    _fs_checked(fs.delete(stage_h, True), "delete", stage_h.toString())
    return {"moved": moved, "retired": retired}


def _ancestors(rel: str) -> list[str]:
    """The directories of the relative file path ``rel`` below the root."""
    parts = rel.split("/")[:-1]
    return ["/".join(parts[: i + 1]) for i in range(len(parts))]


def _roll_back(fs, root) -> None:
    """Drop an uncommitted stage, and the root with it when nothing
    but the stage was there (an empty first write leaves no table)."""
    stage_h = _child(root, STAGE)
    _fs_checked(fs.delete(stage_h, True), "delete", stage_h.toString())
    if _holds_data(fs, root) is False:
        _fs_checked(fs.delete(root, True), "delete", root.toString())


def recover(spark, path: str) -> dict:
    """Converge whatever a crashed :func:`write` left in the table at
    ``path``; ``{"action": "none"}`` after a clean run (one
    ``fs.exists``). ``rolled_back`` or ``rolled_forward`` otherwise, the
    latter with the relative paths it ``moved`` in and ``retired``."""
    fs, root = _hadoop_fs(spark, path)
    stage_h = _child(root, STAGE)
    if not fs.exists(stage_h):
        return {"action": "none"}
    if not fs.exists(_child(stage_h, INTENT)):
        _roll_back(fs, root)
        return {"action": "rolled_back"}
    retired = json.loads(_fs_read_text(spark, f"{stage_path(path)}/{INTENT}"))["retired"]
    return {"action": "rolled_forward", **_roll_forward(fs, root, retired)}
