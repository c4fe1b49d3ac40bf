"""Filesystem commit primitives shared by every table write that must
not leave a half-replaced table behind.

Everything goes through the Hadoop FS API, so the same code is right
on any filesystem Spark writes to. Hadoop's ``rename``/``delete``
report failure by returning ``false`` rather than raising; every
mutation here checks that boolean (:func:`_fs_checked`).

Whole-table replacement (the SCD2 dimension rewrite, compaction) is a
staged write plus a two-rename swap:

1. the new table is written to ``<path>._staging``;
2. ``<path>`` is renamed to ``<path>._backup``;
3. ``<path>._staging`` is renamed to ``<path>``;
4. ``<path>._backup`` is deleted.

:func:`recover_swap` converges any crash point: before step 2 the live
table is intact and the staging copy is dropped; between steps 2 and 3
the backup is restored; after step 3 the new table is live and the
backup is dropped. A writer calls it before reading the live table, so
"the table is missing" is never concluded from a crash between the
renames.
"""

from __future__ import annotations


def _hadoop_fs(spark, path: str):
    """(fs, hpath) for ``path`` through the Hadoop FS API — the one
    place the Path/getFileSystem idiom lives, so existence probes,
    directory drops, and the empty-dir check cannot drift apart."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _hidden(name: str) -> bool:
    """Names Spark's file index skips: ``_SUCCESS``, ``_temporary``,
    ``.crc`` and other dot files, in-flight copies. ``_col=v`` is a
    partition directory, not hidden."""
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


def _sidecar_is_empty_dir(spark, sidecar_path: str) -> bool:
    """True iff ``sidecar_path`` is missing or holds no non-empty data
    file (only names Spark skips, or nothing) — the state a crash
    between directory creation and the first committed parquet file
    leaves behind. A visible SUBDIRECTORY may hold committed data (e.g.
    a partitioned sidecar layout), so it never reads as "empty", or the
    token gate would be silently bypassed: the caller re-raises its
    original error instead."""
    fs, hpath = _hadoop_fs(spark, sidecar_path)
    return not fs.exists(hpath) or _holds_data(fs, hpath) is False


def _fs_checked(ok: bool, op: str, src: str, dst: str | None = None) -> None:
    """Hadoop ``FileSystem.delete``/``rename`` signal failure by
    returning ``false``, not by raising (RawLocalFileSystem, HDFS) —
    a swap step that ignores the boolean can purge the staged copy
    after a failed rename and turn a recoverable state into silent
    loss. Every swap-protocol FS mutation goes through this check and
    RAISES on false, leaving the staged data in place for the
    operation's recovery to converge once the cause (permissions,
    open handles) is fixed."""
    if not ok:
        target = f"{src} -> {dst}" if dst else src
        raise RuntimeError(
            f"filesystem {op} failed (returned false): {target}; the "
            "staged data is left in place — fix the cause and re-run "
            "the operation, which recovers from this state"
        )


def staging_path(path: str) -> str:
    """Sibling directory a replacement of the table at ``path`` is
    written to before :func:`swap_in` makes it live."""
    return path.rstrip("/") + "._staging"


def _backup_path(path: str) -> str:
    return path.rstrip("/") + "._backup"


def swap_in(spark, path: str) -> None:
    """Make the fully written ``staging_path(path)`` the table at
    ``path``: rename the live table aside, rename the staged one in,
    delete the old one. Two metadata operations, no data copied."""
    staged, backup = staging_path(path), _backup_path(path)
    fs, live_h = _hadoop_fs(spark, path)
    _, staged_h = _hadoop_fs(spark, staged)
    _, backup_h = _hadoop_fs(spark, backup)
    had_live = fs.exists(live_h)
    if had_live:
        _fs_checked(fs.rename(live_h, backup_h), "rename", path, backup)
    _fs_checked(fs.rename(staged_h, live_h), "rename", staged, path)
    if had_live:
        _fs_checked(fs.delete(backup_h, True), "delete", backup)


def recover_swap(spark, path: str) -> None:
    """Converge whatever a crashed :func:`swap_in` (or the staged write
    before it) left next to ``path``; a no-op after a clean run. Call
    before reading the table at ``path``."""
    staged, backup = staging_path(path), _backup_path(path)
    fs, live_h = _hadoop_fs(spark, path)
    _, staged_h = _hadoop_fs(spark, staged)
    _, backup_h = _hadoop_fs(spark, backup)
    if fs.exists(backup_h):
        if fs.exists(live_h):
            # crashed after the staged table went live: the old one is garbage
            _fs_checked(fs.delete(backup_h, True), "delete", backup)
        else:
            # crashed between the renames: roll back to the old table
            _fs_checked(fs.rename(backup_h, live_h), "rename", backup, path)
    if fs.exists(staged_h):
        _fs_checked(fs.delete(staged_h, True), "delete", staged)
