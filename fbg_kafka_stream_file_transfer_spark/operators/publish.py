"""How the engine replaces a directory it owns, and how it recovers
from a crash in the middle.

Every directory the engine swaps itself (a plain-layout partition, the
retry and deferred buffers, a changes-feed version, a staged manifest
generation) goes through :func:`replace_dir`, in one order: rename the
live ``dest`` aside to the hidden sibling ``.<name>.stale`` (readers
skip dot-names) → rename the staged dir in → delete the aside copy.
Removal (``staged=None``) skips the middle step and commits when the
aside copy is deleted. A crash leaves at most an aside copy, which
:func:`recover` settles: with ``dest`` missing the swap never
committed and the copy is put back; with ``dest`` present it is
deleted. A failed swap leaves the staged dir where it was, so the
caller can publish it later (``recover(dest, staged)``).

Small files (manifests, the table pointer, markers, counters) go
through :func:`publish_file`: write a hidden tmp sibling, rename it
over the destination. Every call goes through :func:`_hadoop_fs`, the
resolution Spark's writers use, so the protocol runs on any
Spark-supported store; renames are atomic where the store's are
(local, HDFS).
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_ASIDE = ".stale"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop API."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _best_effort_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete whose failure is logged, never raised — for
    non-semantic leftovers (staging dirs, committed swaps' aside
    copies) that a later run or :func:`recover` clears."""
    try:
        fs, jpath = _hadoop_fs(spark, path)
        fs.delete(jpath, True)
    except Exception:  # noqa: BLE001 — best-effort by contract
        log.warning("best-effort delete of %s failed", path, exc_info=True)


def exists(spark: SparkSession, path: str) -> bool:
    """``os.path.exists`` for any store: it answers False for a URI
    (``file://``, ``hdfs://``, ``s3a://``) even when the path exists."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _write_small_file(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def discard(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively if present; raise if it survives —
    for a leftover staging dir that must never be published."""
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise IOError(f"could not delete {path}")


def _hidden(path: str, suffix: str) -> str:
    """``path``'s dot-prefixed sibling ``.<name><suffix>``."""
    parent, _, name = path.rstrip("/").rpartition("/")
    return f"{parent}/.{name}{suffix}"


def _recover(fs, jdest, jaside) -> None:
    if not fs.exists(jaside):
        return
    if fs.exists(jdest):
        fs.delete(jaside, True)
    elif not fs.rename(jaside, jdest):
        raise IOError(f"could not restore {jaside} to {jdest}")


def recover(
    spark: SparkSession, dest: str, staged: str | None = None
) -> None:
    """Finish or roll back a swap of ``dest`` that died midway (module
    docstring). With ``staged``, a staging dir a died writer left
    behind is then settled too: a completed one (``_SUCCESS`` marker)
    is published over ``dest``, a partial one is deleted."""
    fs, jdest = _hadoop_fs(spark, dest)
    _, jaside = _hadoop_fs(spark, _hidden(dest, _ASIDE))
    _recover(fs, jdest, jaside)
    if staged is None:
        return
    _, jmark = _hadoop_fs(spark, f"{staged}/_SUCCESS")
    if fs.exists(jmark):
        replace_dir(spark, staged, dest)
    else:
        discard(spark, staged)


def recover_all(spark: SparkSession, root: str, depth: int = 1) -> None:
    """:func:`recover` every aside copy under ``root``, descending
    ``depth`` levels of visible (not ``.``/``_``-prefixed) subdirs —
    for callers that swap many siblings and do not track which swap
    died."""
    fs, jroot = _hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return
    jpath_cls = spark._jvm.org.apache.hadoop.fs.Path
    level = [jroot]
    for _ in range(depth):
        nxt = []
        for jdir in level:
            for status in fs.listStatus(jdir):
                jp = status.getPath()
                name = jp.getName()
                stem = name[1 : -len(_ASIDE)]
                if name[:1] == "." and name.endswith(_ASIDE) and stem:
                    _recover(fs, jpath_cls(jdir, stem), jp)
                elif status.isDirectory() and not name.startswith((".", "_")):
                    nxt.append(jp)
        level = nxt


def replace_dir(spark: SparkSession, staged: str | None, dest: str) -> None:
    """Swap the directory ``staged`` in as ``dest`` (``staged=None``
    removes ``dest``) in the module's one order. Raises on failure with
    ``staged`` untouched; a live copy already moved aside is put back
    when possible, else by the next :func:`recover`."""
    fs, jdest = _hadoop_fs(spark, dest)
    aside = _hidden(dest, _ASIDE)
    _, jaside = _hadoop_fs(spark, aside)
    _recover(fs, jdest, jaside)  # a previous swap of dest that died
    moved = bool(fs.exists(jdest))
    if moved and not fs.rename(jdest, jaside):
        raise IOError(f"could not move {dest} aside to {aside}")
    if staged is None:
        if moved and not fs.delete(jaside, True):
            raise IOError(
                f"could not delete {aside}; {dest} is restored from it"
                " by the next recovery"
            )
        return
    _, jstaged = _hadoop_fs(spark, staged)
    try:
        if not moved:
            fs.mkdirs(jdest.getParent())
        if not fs.rename(jstaged, jdest):
            raise IOError(f"could not rename {staged} to {dest}")
    except Exception:
        if moved:
            try:
                _recover(fs, jdest, jaside)
            except Exception:  # noqa: BLE001 — the next recover() retries
                log.warning(
                    "could not restore %s from %s", dest, aside, exc_info=True
                )
        raise
    if moved:
        _best_effort_delete(spark, aside)


def publish_file(spark: SparkSession, dest: str, text: str) -> None:
    """Write ``text`` to a hidden tmp sibling, then rename it over
    ``dest``: a reader sees the old file or the new one, never a torn
    one. Where the store's rename refuses to overwrite (HDFS), the old
    file is deleted and the rename retried, which opens a window with
    no ``dest``; callers that care (the table pointer) document their
    fallback for it."""
    tmp = _hidden(dest, ".tmp")
    _write_small_file(spark, tmp, text)
    fs, jdest = _hadoop_fs(spark, dest)
    _, jtmp = _hadoop_fs(spark, tmp)
    if fs.rename(jtmp, jdest):
        return
    fs.delete(jdest, False)
    if not fs.rename(jtmp, jdest):
        raise IOError(f"could not publish {dest}")
