"""Atomic table commits: manifest-versioned partitioned tables and a
single-writer lease.

Round-8's ``merge_into_partitioned`` commits through dynamic partition
overwrite: correct and delta-sized, but torn at PARTITION granularity
if the writer dies mid-overwrite, and visible mid-commit to concurrent
readers. This module closes that guarantee gap the way the table
formats do (Iceberg's manifest list / Delta's log), scaled down to
what a plain-parquet store needs:

- **data files are immutable** — every commit writes NEW files under a
  fresh generation directory ``_data/g<version>/``; nothing is ever
  rewritten in place;
- **a manifest per version** (``_manifests/v<version>.json``) lists,
  for every live partition, the directory holding its current rows —
  schema and partition values included, so nothing is ever re-inferred
  from directory names (the ``'01'`` string-partition landmine of the
  Hive layout cannot occur here);
- **one tiny pointer** (``_latest``) names the current version and is
  swapped last — a reader resolves the pointer, then reads exactly the
  files that manifest names. A crash ANYWHERE before the swap leaves
  the old version intact; a crash between pointer delete and rename is
  recovered by the highest-manifest fallback (the manifest is always
  fully written and renamed into place before the pointer moves).
  Readers therefore see old-or-new, never mixed — the property
  dynamic partition overwrite cannot give.

The same write-new-then-swap discipline as the directories the
engine replaces whole (operators/publish.py: the retry and deferred
buffers, plain-layout partitions), moved to the METADATA: a 100 TB
table cannot be re-written per commit, so the swap is the pointer's
and the data is shared across versions via the manifest — commit
cost is O(touched partitions), identical to the dynamic-overwrite
path. Manifests, shards and the pointer land via
``publish.publish_file``; a staged generation via
``publish.replace_dir``.

Single-writer lease: ``table_write_lock`` takes ``<path>/_lock`` via
Hadoop ``FileSystem.create(path, overwrite=false)`` (atomic on HDFS;
create-if-absent on local/S3A). A second concurrent writer — a
maintenance merge racing the streaming merge sink, or compaction
racing either — raises :class:`ConcurrentWriterError` instead of
silently losing a delta (the r8 review's lost-update hole). The lock
carries a unique token so release can never delete a lock a
stale-break handed to someone else.

Reference parity: the reference's sink contract is effectively-once
(SURVEY §2.f ST1; camel-integration file-pipeline error handling);
this extends it to atomically-visible — the guarantee a Delta/Iceberg
MERGE would give, neither of which ships in this container.
"""

from __future__ import annotations

import datetime as _pydatetime
import decimal as _pydecimal
import json
import logging
import math as _pymath
import re
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ENGINE_SQL_CONF, scoped_conf
from .publish import _best_effort_delete, _hadoop_fs, discard, publish_file
from .publish import _write_small_file, replace_dir  # noqa: F401 (re-export)
from .scale import _partition_value_matches

log = logging.getLogger(__name__)

_MANIFEST_DIR = "_manifests"
_POINTER = "_latest"
_DATA_DIR = "_data"
_LOCK = "_lock"
_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")


class ConcurrentWriterError(RuntimeError):
    """A second writer holds (or raced us to) the table's write lease."""


class CheckConstraintViolation(ValueError):
    """A commit's rows violate a table CHECK constraint (r13). The
    generation the commit wrote stays an unreferenced, GC-able husk —
    readers never see it (same refusal surface as the empty-string
    partition guard)."""


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


@contextmanager
def table_write_lock(
    spark: SparkSession,
    path: str,
    holder: str = "writer",
    stale_after_seconds: float | None = None,
    wait_seconds: float = 0.0,
    poll_seconds: float = 0.25,
):
    """Exclusive write lease on a table directory.

    ``wait_seconds`` > 0 turns contention from fail-fast into
    bounded blocking: the acquire polls every ``poll_seconds`` until
    the lease frees or the deadline passes (then the same loud
    :class:`ConcurrentWriterError`). This is what lets two
    independent pipelines committing into one table BOTH make
    progress — the loser waits out the winner's commit instead of
    failing — without weakening the exclusivity guarantee one bit.

    Acquire = atomic ``create(<path>/_lock, overwrite=false)``; a held
    lock raises :class:`ConcurrentWriterError` naming the holder — the
    loser of a write race fails LOUDLY, it never silently interleaves
    with the winner. The lock file records holder + a unique token;
    release deletes only a lock carrying OUR token, so a stale-break
    by another writer can never be un-done by the original owner's
    exit path.

    A writer that dies without releasing leaves the lock behind; by
    default every later writer then fails loudly until an operator
    verifies no writer is alive and calls :func:`force_unlock` — the
    honest default. ``stale_after_seconds`` opts into automatic
    breaking of locks older than the TTL (by file modification time):
    right for a streaming sink whose per-batch merge is seconds long,
    with the documented risk that a writer HUNG past the TTL (not
    dead) is split-brained by the break — size the TTL far above any
    legitimate commit duration.

    Scale: one create + one delete per commit on a metadata-sized
    file; contention is by design impossible (that is the point).
    """
    import datetime

    fs, _ = _hadoop_fs(spark, path)
    lock_path = f"{path}/{_LOCK}"
    _, jlock = _hadoop_fs(spark, lock_path)
    token = uuid.uuid4().hex
    body = json.dumps(
        {
            "holder": holder,
            "token": token,
            "acquired_utc": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
        }
    )

    def _try_acquire() -> bool:
        try:
            out = fs.create(jlock, False)
        except Exception:  # noqa: BLE001 — FileAlreadyExists et al.
            return False
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()
        return True

    import time as _time

    def _try_stale_break() -> bool:
        # stale-break with two race guards (r9 review):
        # 1. only a FileNotFound during the stat means "retry create";
        #    any OTHER stat error (S3A throttle, transient IO) must NOT
        #    be judged stale — breaking a LIVE writer's lock on a
        #    transient error is the exact lost-update race the lease
        #    prevents, so those fall through to the loud failure;
        # 2. the break re-reads the lock CONTENT immediately before the
        #    delete and deletes only if it still matches what was
        #    judged stale, then verifies the re-created lock carries
        #    OUR token — two breakers racing the same stale lock end
        #    with one holder and one ConcurrentWriterError, not two
        #    holders. (No FS compare-and-swap exists, so a sub-ms
        #    double-delete window remains on stores without atomic
        #    create; HDFS create(overwrite=false) is atomic.)
        vanished = False
        age_s = None
        stale_body = None
        got = False
        try:
            stale_body = _read_small_file(spark, lock_path)
            age_s = (
                spark._jvm.java.lang.System.currentTimeMillis()
                - fs.getFileStatus(jlock).getModificationTime()
            ) / 1000.0
        except Exception as exc:  # noqa: BLE001 — a lock RELEASED in
            # this exact window reads as FileNotFound (retry the
            # create); any other error falls through to the loud fail
            vanished = "FileNotFound" in str(exc)
        if vanished or (age_s is not None and age_s > stale_after_seconds):
            try:
                if vanished or _read_small_file(spark, lock_path) == stale_body:
                    if not vanished:
                        fs.delete(jlock, False)
                    if _try_acquire():
                        try:
                            body_now = _read_small_file(spark, lock_path)
                            got = (
                                body_now is not None
                                and json.loads(body_now).get("token") == token
                            )
                        except Exception:  # noqa: BLE001
                            got = False
                        if not got:
                            # verification failed AFTER our create may
                            # have landed: clean up our own lock or it
                            # strands every writer for another TTL
                            # window (r9 review pass 2)
                            _delete_lock_if_token(spark, fs, lock_path, jlock, token)
            except Exception:  # noqa: BLE001 — fall through to loud fail
                pass
        return got

    # acquisition loop: a fresh create attempt each poll, with the
    # stale-break attempted INSIDE the loop (r11) — a dead writer's
    # leftover lease is broken as soon as its TTL allows instead of
    # only after the whole wait window has been burned waiting on a
    # lock that will never release
    deadline = _time.monotonic() + max(0.0, wait_seconds)
    while True:
        acquired = _try_acquire()
        if not acquired and stale_after_seconds is not None:
            acquired = _try_stale_break()
        if acquired or _time.monotonic() >= deadline:
            break
        # floor the sleep: poll_seconds=0 (or negative) with a wait
        # window would otherwise busy-spin create() RPCs against the
        # filesystem for the whole window; cap it at the remaining
        # window so poll_seconds > wait_seconds cannot overshoot the
        # caller's deadline by a full poll interval (code review r12)
        _time.sleep(
            min(
                max(0.05, poll_seconds),
                max(0.0, deadline - _time.monotonic()),
            )
        )
    if not acquired:
        held_by = _read_small_file(spark, lock_path) or "<unreadable>"
        raise ConcurrentWriterError(
            f"table {path} is locked by another writer ({held_by}); "
            "a concurrent merge/compaction would lose updates — wait "
            "for it, or if its process is dead run "
            "force_unlock(spark, path)"
        )
    try:
        yield
    finally:
        _delete_lock_if_token(spark, fs, lock_path, jlock, token)


def _delete_lock_if_token(spark, fs, lock_path: str, jlock, token: str) -> None:
    """Best-effort, token-checked lock release: deletes the lock only
    when it still carries ``token``, so a lease broken-and-retaken by
    another writer is never deleted by its old owner. A failure here
    leaks the lock, which fails the NEXT writer loudly — never
    silently."""
    try:
        current = _read_small_file(spark, lock_path)
        if current is not None and json.loads(current).get("token") == token:
            fs.delete(jlock, False)
    except Exception:  # noqa: BLE001 — best-effort by contract
        log.warning("best-effort release of lock %s failed", lock_path, exc_info=True)


def force_unlock(spark: SparkSession, path: str) -> bool:
    """Remove a dead writer's leftover lease. Only for operator use
    after verifying no writer is alive — breaking a LIVE writer's lock
    re-opens the lost-update race the lock exists to prevent."""
    fs, jlock = _hadoop_fs(spark, f"{path}/{_LOCK}")
    return bool(fs.exists(jlock)) and bool(fs.delete(jlock, False))


def is_manifest_table(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is manifest-committed — merge routes its
    publish through the atomic protocol. Requires at least one VALID
    published manifest, not just the ``_manifests/`` directory: a
    create that died before renaming its first manifest into place
    leaves only a ``.tmp`` file, and classifying that husk as a table
    would wedge every later merge/bootstrap on 'does not exist'
    forever (r9 review pass 2) — a manifest dir with no manifest is
    not a table, so the sink re-bootstraps over it."""
    fs, jman = _hadoop_fs(spark, f"{path}/{_MANIFEST_DIR}")
    if not fs.exists(jman):
        return False
    for status in fs.listStatus(jman):
        if _MANIFEST_RE.match(status.getPath().getName()):
            return True
    return False


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partitions: list[tuple] | None = None,
    where=None,
    as_of=None,
) -> DataFrame:
    """Read a table regardless of layout: manifest-committed tables
    resolve the pointer and read exactly the manifest's files (a
    consistent snapshot — old-or-new, never mid-commit); plain
    Hive-partitioned tables fall back to ``spark.read.parquet``.
    ``version``/``partitions``/``as_of`` only apply to manifest
    tables. ``where`` (tuple clauses or a pyspark Column — see
    :meth:`ManifestTable.read`) stats-prunes manifest tables and
    degrades to a plain pushed-down filter on Hive layouts, so
    callers can pass it unconditionally."""
    if is_manifest_table(spark, path):
        return ManifestTable(spark, path).read(
            version=version,
            partitions=partitions,
            where=where,
            as_of=as_of,
        )
    if version is not None or partitions is not None or as_of is not None:
        raise ValueError(
            f"{path} is a plain table: time travel / manifest-level "
            "partition selection need a manifest-committed table"
        )
    df = spark.read.parquet(path)
    if where is not None:
        df = df.filter(
            where if isinstance(where, Column)
            else _where_to_filter(_normalize_where(where))
        )
    return df


def _encode_value(v) -> list:
    """Partition value → JSON-safe tagged pair. Tags keep types exact
    across the manifest round-trip (no directory-name inference)."""
    import datetime
    import decimal

    if v is None:
        return ["null", None]
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ["bool", v]
    if isinstance(v, int):
        return ["int", v]
    if isinstance(v, float):
        return ["float", repr(v)]  # repr round-trips nan/inf exactly
    if isinstance(v, str):
        return ["str", v]
    if isinstance(v, datetime.datetime):
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["date", v.isoformat()]
    if isinstance(v, decimal.Decimal):
        return ["dec", str(v)]
    raise TypeError(
        f"unsupported partition value type {type(v).__name__!r}; "
        "partition on string/int/float/bool/date/timestamp/decimal"
    )


def _decode_value(pair: list):
    """Inverse of ``_encode_value``."""
    import datetime
    import decimal

    tag, raw = pair
    if tag == "null":
        return None
    if tag in ("bool", "int", "str"):
        return raw
    if tag == "float":
        return float(raw)
    if tag == "ts":
        return datetime.datetime.fromisoformat(raw)
    if tag == "date":
        return datetime.date.fromisoformat(raw)
    if tag == "dec":
        return decimal.Decimal(raw)
    raise ValueError(f"unknown partition value tag {tag!r}")


def _partition_key(values: tuple) -> str:
    """Canonical manifest key for a partition value tuple."""
    return json.dumps([_encode_value(v) for v in values])


# accepts both authority URIs (hdfs://nn/, s3a://bucket/) and the
# single-slash rendering Hadoop's Path.toString()/makeQualified emit
# for authority-less filesystems (file:/root/...) — clone_to's
# qualified borrowed entries arrive in the latter form (r14); a
# table-relative dir always starts with "_data/" so no collision
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:/")


def _is_abs_dir(d: str) -> bool:
    """True when an entry's ``dir`` is an ABSOLUTE location (posix
    path or scheme URI) instead of the usual table-relative
    ``_data/g<ver>/...`` — the marker a SHALLOW CLONE leaves: its
    entries point into the source table's data, are read verbatim,
    carried forward verbatim by merges/selective compaction, and
    never treated as local generations by GC (they are not under
    this table's ``_data``, so the sweep cannot touch them by
    construction)."""
    return d.startswith("/") or bool(_SCHEME_RE.match(d))


# ---- per-entry column statistics (Iceberg-style data skipping) ----

#: string bounds longer than this are truncated in the manifest —
#: stats are pruning hints, not data; an unbounded document column
#: must not bloat a metadata file read on every commit
_STATS_MAX_STR = 64

#: types whose SUM folds exactly in any order — per-file ``sm``
#: stats (r16) are recorded only for these: integral sums are exact
#: integers (Python fold is arbitrary-precision), decimal sums are
#: exact decimal arithmetic; FLOAT sums are order-dependent, so a
#: metadata fold and a scan could disagree — floats always scan
_SUM_EXACT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType,
)


def _entry_agg_stats(
    e: dict, aggs: list[tuple], stat_cols: list[str], pset: set,
    ts_cols: set,
) -> tuple | None:
    """``(rows, {col: cs})`` when EVERY requested aggregate is
    PROVABLY attainable from this entry's recorded stats, else None
    (the caller demotes the entry to the exact scan). Consulted per
    entry by :meth:`ManifestTable._metadata_plan`, the one planner
    behind count / metadata_agg / partition_profile; the demotion
    rules are documented on metadata_agg."""
    st = e.get("stats") or {}
    rows = st.get("rows")
    if rows is None:
        return None
    out: dict = {}
    for c in stat_cols:
        cs = (st.get("cols") or {}).get(c)
        if cs is None:
            return None
        out[c] = cs
    for fn, c in aggs:
        if fn not in ("min", "max", "sum") or c == "*" or c in pset:
            continue
        cs = out[c]
        nonnull = rows - cs.get("nulls", 0)
        if not nonnull:
            continue  # all-NULL: contributes nothing
        if fn == "sum":
            if "sm" not in cs:
                return None  # pre-r16 stats: scan instead
            continue
        if c in ts_cols:
            return None
        key = "mn" if fn == "min" else "mx"
        if key not in cs:
            return None  # unbounded side with live values
        tag, raw = cs[key]
        if tag == "str" and len(raw) >= _STATS_MAX_STR:
            return None  # possibly truncated: not attained
    return rows, out


def _entry_agg_row(
    pcols: list[str], aggs: list[tuple], vals: tuple, rows: int,
    cstats: dict,
) -> dict:
    """One entry's answer to ``aggs`` from its decoded key ``vals``
    and the stats :func:`_entry_agg_stats` proved attained —
    ``{pcol: value, "fn(col)": value}``, the row a scan grouped by
    the partition columns would give the entry's rows."""
    byname = dict(zip(pcols, vals))
    out: dict = dict(byname)
    for fn, c in aggs:
        label = f"{fn}({c})"
        if c == "*":
            out[label] = rows
            continue
        if c in byname:
            v = byname[c]
            nulls = rows if v is None else 0
        else:
            cs = cstats[c]
            nulls = cs.get("nulls", 0)
        nn = rows - nulls
        if fn == "count":
            out[label] = nn
        elif fn == "null_count":
            out[label] = nulls
        elif not nn:
            out[label] = None  # min/max/sum over no values is NULL
        elif c in byname:
            # a partition column is constant per entry: min and max
            # are the key, the sum is key × rows
            out[label] = v * rows if fn == "sum" else v
        else:
            tag = {"min": "mn", "max": "mx", "sum": "sm"}[fn]
            out[label] = _decode_value(cs[tag])
    return out


#: "auto" stats cover at most this many columns — a 500-column table
#: must not pay 1500 aggregates per commit unless it asks to
_STATS_AUTO_CAP = 32

#: per-FILE bounds are recorded for partitions with at most this many
#: files — past it, the manifest bytes outgrow the listing they save
#: and the partition needs compaction anyway
_FILE_STATS_MAX = 1024

# ---- per-file Bloom membership (r16) -----------------------------------
# min/max bounds degrade to partition-granular exactly where point DML
# hurts most: an UNCLUSTERED key (uuid-keyed CDC before any
# compact(cluster_by=)) gives every file near-full-range bounds, so a
# point DELETE/MERGE selects every file. For tables that opt in
# (``bloom_cols``), each stats-bearing commit also records a small
# per-file Bloom filter over the key column — the Delta bloom-index /
# Iceberg puffin analogue, inlined into the manifest because the
# filters are only recorded for files whose DISTINCT key count is ≤
# _BLOOM_MAX_KEYS (the small delta files a streaming sink writes, the
# exact cold-start shape). Conservative contract throughout: an absent
# filter admits the file (old manifests, big files, unsupported
# types); a present filter can only FALSE-POSITIVE (admit a file with
# no match), never false-negative — same promise the bounds make.
# Positions come from the portable salted-md5 family
# (operators/decontam.bloom_positions), so the Python probe below and
# the Spark-side recorder compute identical bits.

#: Bloom filters are recorded only for files with at most this many
#: distinct keys — past it the filter saturates (m is fixed) and the
#: bytes buy nothing; compact(cluster_by=) is the recipe for big files
_BLOOM_MAX_KEYS = 1024
#: filter width in BITS (2 KiB packed, ~2.7 KiB base64 per file/col);
#: at the key cap the false-positive rate is (1-e^(-4096/16384))^4 ≈
#: 0.24%
_BLOOM_M = 16384
#: bits set per key (matches decontam._BLOOM_K)
_BLOOM_K = 4
#: Bloom maps are attached only for partitions with at most this many
#: files — past it the manifest bytes outgrow the scan they save
_BLOOM_FILES_MAX = 256
#: column types whose Spark cast-to-string rendering the Python probe
#: mirrors exactly (int-family renders as str(int); strings are
#: identity) — bloom_cols is restricted to these at create()
_BLOOM_TYPES = ("byte", "short", "integer", "long", "string")


def _bloom_pack(positions, m: int) -> str:
    """Pack set bit positions into a base64 bitarray (LSB-first
    within each byte)."""
    import base64

    buf = bytearray((m + 7) // 8)
    for p in positions:
        p = int(p)
        buf[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(buf)).decode("ascii")


import functools as _functools


@_functools.lru_cache(maxsize=65536)
def _bloom_probe_positions(s: str, m: int, k: int) -> tuple:
    """Memoized salted-md5 positions for one rendered probe value —
    a planning pass testing one key against hundreds of files (the
    merge IN-clause loop) hashes each key once, not once per file."""
    import hashlib

    return tuple(
        int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16) % m
        for i in range(k)
    )


def _bloom_may_contain(bl: dict, value) -> bool:
    """Python-side probe of a recorded per-file Bloom filter —
    mirrors ``decontam.bloom_positions`` (salted md5, first 15 hex
    chars, mod m) bit for bit. Conservative: any uncertainty (NULL
    probe value, malformed blob, unsupported value type) admits the
    file."""
    import base64

    if value is None:
        return True
    m = bl.get("m")
    k = bl.get("k", _BLOOM_K)
    raw = bl.get("b")
    if not m or not raw:
        return True
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        # only int-family / string renderings are mirrored exactly
        return True
    try:
        bits = base64.b64decode(raw)
    except Exception:  # noqa: BLE001 — corrupt blob must not prune
        return True
    for p in _bloom_probe_positions(str(value), m, k):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _fold_spark_min(vals: list):
    """min over per-file mins with SPARK's NULL/NaN semantics: NULLs
    were already dropped by the caller; NaN sorts ABOVE everything in
    Spark, so the fold ignores NaN unless every value is NaN (exactly
    what F.min over the union would return)."""
    if not vals:
        return None
    nn = [v for v in vals if not _is_nan(v)]
    return min(nn) if nn else vals[0]


def _fold_spark_max(vals: list):
    """max over per-file maxes, Spark semantics: any NaN wins."""
    if not vals:
        return None
    for v in vals:
        if _is_nan(v):
            return v
    return max(vals)


# ---- carried files (file-granular DML, r14) -----------------------
#
# A files-map KEY is normally a basename relative to the entry's
# ``dir``. File-granular DML introduces CARRIED keys — paths holding
# a "/" — naming files the statement provably could not touch and
# therefore never read or rewrote: table-root-relative
# ("_data/gNNNNNNNN/<partition>/part-x.parquet") or absolute (a file
# borrowed through a shallow clone). This is the deletion-vector-lite
# representation: a point DELETE in a clustered 10 GB partition
# rewrites ONE file and re-references the other files byte-identically
# inside the SAME entry, without Delta's read-side merge tax (cf.
# Delta deletion vectors; Iceberg's per-file manifests get this for
# free by never having directory-entries at all).


def _has_carried_files(entry: dict) -> bool:
    """True when the entry's files map contains carried keys — then
    the map is the EXACT file membership and the directory listing is
    NOT: it misses the carried files and still physically holds the
    superseded originals (generations are immutable). Every reader
    must enumerate the map instead of scanning ``dir``. An entry
    without carried keys keeps today's contract: the map is a pruning
    hint and the dir scan is always a sound fallback."""
    fmap = entry.get("files")
    return bool(fmap) and any("/" in n for n in fmap)


def _resolve_entry_file(root: str, base: str, name: str) -> str:
    """Concrete scan path for one files-map key: absolute keys are
    verbatim, carried keys resolve against the TABLE root, plain
    basenames against the entry's own dir (``base``)."""
    if _is_abs_dir(name):
        return name
    if "/" in name:
        return f"{root}/{name}"
    return f"{base}/{name}"


def _file_scoped_carry(root: str, entry: dict, sel) -> tuple[list, dict]:
    """Split a manifest entry for a FILE-granular rewrite (r14, the
    merge's and DML's deletion-vector-lite path): the files named in
    ``sel`` are read and rewritten, every other file carries forward
    byte-identically inside the same entry. Returns ``(paths,
    carry)``: the resolved paths of the ``sel`` files, and the entry's
    ``carry_files`` value ``{"files": survivors, "dir": entry dir}``
    (survivor keys qualified by the old dir, so the new generation's
    entry can reference them)."""
    base_dir = entry["dir"]
    resolved = base_dir if _is_abs_dir(base_dir) else f"{root}/{base_dir}"
    survivors = {
        (n if "/" in n or _is_abs_dir(n) else f"{base_dir}/{n}"): st
        for n, st in entry["files"].items()
        if n not in sel
    }
    paths = [_resolve_entry_file(root, resolved, n) for n in sel]
    return paths, {"files": survivors, "dir": base_dir}


def _fold_file_stats(files: dict[str, dict]) -> dict:
    """Refold ENTRY-level stats from a merged per-file stats map —
    the driver-side aggregation behind file-granular DML: the new
    entry's bounds must cover BOTH the freshly written files and the
    carried (never-read) ones, with zero data I/O. Bounds fold in
    the DECODED domain with the same Spark NULL/NaN semantics the
    write-side fold uses (:meth:`_collect_entry_stats`).
    Conservative omissions keep pruning sound:

    - a column absent from ANY file's stats is dropped from the
      entry entirely (unknown bounds must never prune);
    - a file with non-null rows but an OMITTED bound (its fold hit
      NaN, or an untruncatable string upper) makes the entry
      unbounded on that side — treating the other files' bound as
      the entry bound would prune rows living in the unbounded file."""
    rows = 0
    cols_union: set[str] = set()
    for st in files.values():
        rows += st["rows"]
        cols_union.update((st.get("cols") or {}).keys())
    cols: dict = {}
    for c in sorted(cols_union):
        mns: list = []
        mxs: list = []
        nulls = 0
        covered = True
        unb_mn = False
        unb_mx = False
        sm = None  # exact-sum fold (r16): None = no contribution yet
        sm_ok = True  # a non-null file lacking "sm" (pre-r16 stats)
        for st in files.values():
            fc = (st.get("cols") or {}).get(c)
            if fc is None:
                covered = False
                break
            nulls += fc["nulls"]
            nonnull = st["rows"] - fc["nulls"]
            if "mn" in fc:
                mns.append(_decode_value(fc["mn"]))
            elif nonnull:
                unb_mn = True
            if "mx" in fc:
                mxs.append(_decode_value(fc["mx"]))
            elif nonnull:
                unb_mx = True
            if "sm" in fc:
                v = _decode_value(fc["sm"])
                sm = v if sm is None else sm + v
            elif nonnull:
                sm_ok = False  # unknown contribution: omit, never guess
        if not covered:
            continue
        ecs: dict = {"nulls": nulls}
        if not unb_mn:
            b = _encode_bound(_fold_spark_min(mns), upper=False)
            if b is not None:
                ecs["mn"] = b
        if not unb_mx:
            b = _encode_bound(_fold_spark_max(mxs), upper=True)
            if b is not None:
                ecs["mx"] = b
        if sm_ok and sm is not None:
            ecs["sm"] = _encode_value(sm)
        cols[c] = ecs
    return {"rows": rows, "nfiles": len(files), "cols": cols}


def _stats_eligible(schema: T.StructType, pcols: list[str]) -> list[str]:
    """Columns whose min/max are meaningful for range pruning:
    atomic, totally ordered types. Partition columns are excluded
    (constant per entry — the manifest key already prunes them);
    binary/array/map/struct are excluded (no useful ordering)."""
    # TimestampNTZ is deliberately ABSENT: Spark compares an NTZ
    # column against a timestamp literal by coercing through the
    # SESSION timezone, which the driver-side bounds comparison
    # cannot see — pruning on NTZ bounds silently dropped matching
    # rows whenever session tz != OS tz (external review r11, pass
    # 2, probe-confirmed). NTZ predicates still work, they just
    # always go through the exact row filter.
    atomic = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.StringType,
        T.BooleanType, T.DateType, T.TimestampType,
    )
    skip = set(pcols) | {f"_p_{c}" for c in pcols}
    return [
        f.name
        for f in schema.fields
        if f.name not in skip and isinstance(f.dataType, atomic)
    ]


def _stats_upper_string(s: str) -> str | None:
    """A VALID upper bound for ``s`` at most ``_STATS_MAX_STR`` chars:
    a plain prefix truncation sorts BELOW the original (it would
    silently prune partitions that match), so the last kept character
    is incremented instead — the Iceberg bound-truncation rule. Both
    Python and Spark compare strings in code-point order, so the
    incremented prefix upper-bounds every string it prefixes. Returns
    None (unbounded) when no position can be incremented safely."""
    if len(s) <= _STATS_MAX_STR:
        return s
    t = s[:_STATS_MAX_STR]
    for i in range(len(t) - 1, -1, -1):
        cp = ord(t[i])
        if cp < 0xD7FF:  # stay clear of the surrogate range
            return t[:i] + chr(cp + 1)
    return None


def _stats_lower_string(s: str) -> str:
    """A valid lower bound: a prefix sorts <= the original, so plain
    truncation is safe on the lower side."""
    return s if len(s) <= _STATS_MAX_STR else s[:_STATS_MAX_STR]


def _is_nan(v) -> bool:
    """NaN in either numeric representation: float nan AND
    Decimal('NaN') — a Decimal NaN predicate must hit the same
    never-prune guard (it previously crashed pruning against int/str
    bounds with decimal.InvalidOperation and silently PRUNED against
    float bounds via the double-space cast — code review r12).
    Module-level imports only: this sits on the per-file-per-clause
    hot path."""
    if isinstance(v, float):
        return _pymath.isnan(v)
    return isinstance(v, _pydecimal.Decimal) and v.is_nan()


def _encode_bound(v, upper: bool):
    """Encode a min/max bound for the manifest. Returns the tagged
    pair, or None for "unbounded on this side" (NaN — Spark sorts it
    above every float, so a NaN max says nothing useful and a NaN
    bound would break Python comparisons; or an untruncatable string
    upper bound)."""
    if v is None or _is_nan(v):
        return None
    if isinstance(v, str):
        v = _stats_upper_string(v) if upper else _stats_lower_string(v)
        if v is None:
            return None
    return _encode_value(v)


# ---- the driver-side comparison must mimic SPARK's comparison, not
# Python's (external review r11 pass 2 — both probe-confirmed
# wrong-result bugs). Module-level because read(where=) evaluates
# these once per FILE per clause since r12 (code review r12):
# 1. mixed numeric: Spark compares long-vs-double by casting the long
#    (or decimal) to double, LOSSILY past 2^53; Python compares
#    exactly. Compare in double space whenever either side is a
#    float, exactly as Catalyst would.
# 2. timestamps: the bounds came from collect() and the predicate
#    from the user/literal conversion — frames that can differ by the
#    GAP between two zone offsets, up to 26 h (UTC+14 session vs
#    UTC−12 OS). Widen the bounds by TWO days (> 26 h) before
#    comparing: pruning blurs by two days at partition boundaries but
#    can never drop a matching row, and time-partitioned predicates
#    span ≫ 2 days (external review r12).
# 3. double-space coercion applies ONLY when both operands are
#    numeric: float('9') succeeds, so a float predicate against a
#    STRING stats column would compare lexicographic string bounds
#    numerically and prune entries whose rows match through Spark's
#    string→double cast in the residual filter (external review r12,
#    probe-confirmed: entry {"9","10"} has mx="9", pruned for
#    ('s','>',9.5) yet "10" matches). Non-numeric operand → TypeError
#    → the caller keeps the entry and the exact row filter decides.
_NUMERIC = (int, float, _pydecimal.Decimal)  # bool is an int


def _widen(b, delta_days):
    if isinstance(b, _pydatetime.datetime):
        return b + _pydatetime.timedelta(days=delta_days)
    return b


def _as_double(a, b):
    if not (isinstance(a, _NUMERIC) and isinstance(b, _NUMERIC)):
        raise TypeError("unorderable")  # → keep
    try:
        return float(a), float(b)
    except (OverflowError, ValueError):
        raise TypeError("unorderable")


def _le(a, b):
    if isinstance(a, float) or isinstance(b, float):
        a, b = _as_double(a, b)
    return a <= b


def _lt(a, b):
    if isinstance(a, float) or isinstance(b, float):
        a, b = _as_double(a, b)
    return a < b


def _where_clause_may_match(stats: dict, col: str, op: str, value) -> bool:
    """Conservative per-entry evaluation of one predicate clause
    against the entry's stats: False ONLY when NO row in the entry
    can match. Missing stats, missing bounds, or a cross-type
    comparison all return True (never prune on uncertainty)."""
    cs = stats.get("cols", {}).get(col)
    if cs is None:
        return True
    rows = stats.get("rows")
    nulls = cs.get("nulls")
    if op == "is_null":
        return nulls is None or nulls > 0
    if op == "not_null":
        return rows is None or nulls is None or nulls < rows
    # a NaN PREDICATE value must never prune: every Python comparison
    # against NaN is False (so every stats-bearing entry would be
    # skipped), while Spark's residual filter orders NaN greatest and
    # NaN = NaN true — pruning here would silently drop the rows the
    # scan would match (external review r11). Fall through to the
    # exact row filter instead.
    probe = (
        list(value)
        if op in ("between", "in") and value is not None
        else [value]
    )
    if any(_is_nan(v) for v in probe):
        return True
    # comparison ops match no NULL row; an all-null column (bounds
    # absent AND every row null) can be pruned outright
    mn = _decode_value(cs["mn"]) if cs.get("mn") is not None else None
    mx = _decode_value(cs["mx"]) if cs.get("mx") is not None else None
    if (
        mn is None
        and mx is None
        and rows is not None
        and nulls == rows
    ):
        return False
    try:
        lo_b = _widen(mn, -2) if mn is not None else None
        hi_b = _widen(mx, +2) if mx is not None else None
        if op in ("=", "=="):
            return (lo_b is None or _le(lo_b, value)) and (
                hi_b is None or _le(value, hi_b)
            )
        if op == "<":
            return lo_b is None or _lt(lo_b, value)
        if op == "<=":
            return lo_b is None or _le(lo_b, value)
        if op == ">":
            return hi_b is None or _lt(value, hi_b)
        if op == ">=":
            return hi_b is None or _le(value, hi_b)
        if op == "between":
            lo, hi = value
            return (hi_b is None or _le(lo, hi_b)) and (
                lo_b is None or _le(lo_b, hi)
            )
        if op == "in":
            return any(
                (lo_b is None or _le(lo_b, v))
                and (hi_b is None or _le(v, hi_b))
                for v in value
            )
    except TypeError:
        return True  # cross-type comparison: never prune on doubt
    except _pydecimal.InvalidOperation:
        # Decimal NaN/signaling comparisons: same never-prune contract
        # (the NaN probe above catches the known case; this is the
        # defense-in-depth for any Decimal special the probe misses)
        return True
    raise ValueError(
        f"unknown stats predicate op {op!r}; supported: = < <= > >= "
        "between in is_null not_null"
    )


def _pcol_clause_exact(v, op, value) -> bool | None:
    """EXACT truth of one where-clause against a decoded partition-key
    value — unlike :func:`_where_clause_may_match` (conservative
    may-match over bounds), this returns True/False ONLY when the
    decision provably matches what Spark's residual filter would say
    for every row of the entry (a partition key is constant across
    its rows), and None whenever the comparison crosses a coercion
    frame where Spark and Python could disagree: timestamps (session
    zone), Decimal-vs-float (double rounding), int-vs-float past 2^53
    (bigint→double rounding), any cross-kind pair, NaN on either
    side. None sends the entry to the exact scan path — metadata
    ``count()`` must never be approximately right."""
    import datetime as _dt

    if op == "is_null":
        return v is None
    if op == "not_null":
        return v is not None
    probe = (
        list(value)
        if op in ("between", "in") and value is not None
        else [value]
    )
    if _is_nan(v) or any(_is_nan(p) for p in probe):
        return None
    if v is None:
        return False  # comparison ops match no NULL key
    if op not in ("in",) and any(p is None for p in probe):
        return False  # x <cmp> NULL is NULL -> row filtered out

    def _kind(x):
        if isinstance(x, bool):
            return "bool"
        if isinstance(x, _dt.datetime):
            return "ts"
        if isinstance(x, _dt.date):
            return "date"
        if isinstance(x, _pydecimal.Decimal):
            return "dec"
        if isinstance(x, int):
            return "int"
        if isinstance(x, float):
            return "float"
        if isinstance(x, str):
            return "str"
        return "other"

    def _comparable(a, b) -> bool:
        ka, kb = _kind(a), _kind(b)
        if "ts" in (ka, kb) or "other" in (ka, kb):
            return False  # zone-dependent / unknown: scan decides
        if ka == kb:
            return True
        pair = {ka, kb}
        if pair == {"int", "float"}:
            i = a if ka == "int" else b
            return abs(i) <= 2**53  # past this double coercion rounds
        if pair == {"int", "dec"}:
            return True  # both engines compare exactly
        return False

    try:
        if op in ("=", "=="):
            return v == value if _comparable(v, value) else None
        if op == "<":
            return v < value if _comparable(v, value) else None
        if op == "<=":
            return v <= value if _comparable(v, value) else None
        if op == ">":
            return v > value if _comparable(v, value) else None
        if op == ">=":
            return v >= value if _comparable(v, value) else None
        if op == "between":
            lo, hi = value
            if not (_comparable(v, lo) and _comparable(v, hi)):
                return None
            return lo <= v <= hi
        if op == "in":
            nn = [p for p in value if p is not None]
            if any(not _comparable(v, p) for p in nn):
                return None
            # a NULL element makes a non-matching IN return NULL
            # (row filtered out), so membership in the non-null
            # elements IS the filter's truth either way
            return any(v == p for p in nn)
    except TypeError:
        return None
    except _pydecimal.InvalidOperation:
        return None
    raise ValueError(
        f"unknown where op {op!r}; supported: = < <= > >= "
        "between in is_null not_null"
    )


def _clauses_from_column(col) -> list[tuple]:
    """Best-effort extraction of prunable ``(col, op, value)`` clauses
    from a pyspark Column's (unresolved) Catalyst expression tree —
    the Spark-first spelling of a stats predicate:
    ``read(where=(F.col("ts") >= t0) & (F.col("ts") < t1))``.

    STRICTLY an optimization extractor: only top-level conjunctions of
    ``attr op literal`` shapes (=, <, <=, >, >=, IN, isNull,
    isNotNull, with either operand order) become pruning clauses; any
    unrecognized subtree — Or, Not, arithmetic, UDFs, a Connect-backed
    Column without ``_jc`` — contributes NOTHING (conservative), and
    the caller always applies the ORIGINAL Column as the exact row
    filter, so extraction can only skip work, never change results.
    Walks the Spark 4 ColumnNode tree (``Column.node()`` —
    ``UnresolvedFunction``/``UnresolvedAttribute``/``Literal``; the
    Spark 3 ``Column.expr()`` Catalyst accessor no longer exists);
    literal values arrive as their ORIGINAL JVM objects, so
    java.time dates/instants and BigDecimals are converted to the
    Python types the manifest's tagged bounds decode to."""
    import datetime
    import decimal

    out: list[tuple] = []

    def _py_value(v):
        if v is None or isinstance(v, bool):
            # bools: comparisons on booleans prune poorly and a py4j
            # bool is also an int — keep it, it compares fine
            return v, v is not None
        if isinstance(v, (int, float, str, decimal.Decimal)):
            # py4j auto-converts java BigDecimal to Decimal
            return v, True
        if isinstance(v, datetime.datetime):
            return v, True
        if isinstance(v, datetime.date):
            return v, True
        try:
            cls = v.getClass().getName()
        except Exception:  # noqa: BLE001 — not a JVM object
            return None, False
        if cls == "java.time.LocalDate":
            return (
                datetime.date(
                    v.getYear(), v.getMonthValue(), v.getDayOfMonth()
                ),
                True,
            )
        if cls == "java.sql.Date":
            d = v.toLocalDate()
            return (
                datetime.date(
                    d.getYear(), d.getMonthValue(), d.getDayOfMonth()
                ),
                True,
            )
        if cls == "java.time.Instant":
            # collect() returns naive LOCAL datetimes for timestamps,
            # and the stats bounds were built from collect() — convert
            # the instant the same way so comparisons line up
            return (
                datetime.datetime.fromtimestamp(
                    v.getEpochSecond() + v.getNano() / 1e9
                ),
                True,
            )
        if cls == "java.sql.Timestamp":
            v = v.toLocalDateTime()
            cls = "java.time.LocalDateTime"
        if cls == "java.time.LocalDateTime":
            return (
                datetime.datetime(
                    v.getYear(), v.getMonthValue(), v.getDayOfMonth(),
                    v.getHour(), v.getMinute(), v.getSecond(),
                    v.getNano() // 1000,
                ),
                True,
            )
        if cls == "java.math.BigDecimal":
            return decimal.Decimal(v.toString()), True
        return None, False  # binary/interval/unknown: not prunable

    _SWAP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "==": "="}
    _CMP = {"<", "<=", ">", ">=", "=", "=="}

    def _attr_name(node):
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        parts = node.nameParts()
        return ".".join(
            str(parts.apply(i)) for i in range(parts.size())
        )

    def _literal_value(node):
        if node.getClass().getSimpleName() != "Literal":
            return None, False
        return _py_value(node.value())

    def _walk(node) -> None:
        if node.getClass().getSimpleName() != "UnresolvedFunction":
            return
        fn = str(node.functionName())
        args = node.arguments()
        if fn == "and":
            _walk(args.apply(0))
            _walk(args.apply(1))
            return
        if fn in _CMP and args.size() == 2:
            left, right = args.apply(0), args.apply(1)
            name, lit, op = _attr_name(left), right, fn
            if name is None:
                name, lit, op = _attr_name(right), left, _SWAP[fn]
            if name is None:
                return
            v, ok = _literal_value(lit)
            if ok:
                out.append((name, "=" if op == "==" else op, v))
            return
        if fn == "in" and args.size() >= 2:
            name = _attr_name(args.apply(0))
            if name is None:
                return
            vals = []
            for i in range(1, args.size()):
                v, ok = _literal_value(args.apply(i))
                if not ok:
                    return
                vals.append(v)
            out.append((name, "in", vals))
            return
        if fn in ("isNull", "isnull") and args.size() == 1:
            name = _attr_name(args.apply(0))
            if name is not None:
                out.append((name, "is_null", None))
            return
        if fn in ("isNotNull", "isnotnull") and args.size() == 1:
            name = _attr_name(args.apply(0))
            if name is not None:
                out.append((name, "not_null", None))
            return
        # anything else (or, not, cast, arithmetic, UDF...): no clause

    try:
        _walk(col._jc.node())
    except Exception:  # noqa: BLE001 — Connect Columns / API drift:
        return []  # no pruning, exact filter still runs
    return out


def _normalize_where(where: list[tuple]) -> list[tuple]:
    """Accept 2-tuples for the null ops and 3-tuples elsewhere;
    reject malformed clauses loudly (a silently dropped clause would
    widen the result set)."""
    out = []
    for clause in where:
        if len(clause) == 2:
            col, op = clause
            value = None
        elif len(clause) == 3:
            col, op, value = clause
        else:
            raise ValueError(f"malformed where clause {clause!r}")
        if op in ("is_null", "not_null"):
            value = None
        elif value is None:
            raise ValueError(
                f"where clause {clause!r} compares against None; use "
                "('col', 'is_null') / ('col', 'not_null') for null tests"
            )
        out.append((col, op, value))
    return out


def _virtual_pcol_stats(
    entry: dict, pcols: list[str], skip: frozenset
) -> dict | None:
    """Synthesize a stats dict for the entry's PARTITION columns from
    its exact key values (min == max == the value), so a ``where``
    clause naming a partition column prunes through the same
    comparison machinery as data-column stats — with every Spark-
    coercion rule (double-space mixed numerics, ±2 day timestamp
    slack, cross-type → keep) applied for free. Before r12, the
    natural user spelling ``read(where=[("pt", "=", 3)])`` answered
    correctly (the residual filter) but silently FULL-SCANNED:
    stats deliberately exclude partition columns and nothing
    consulted ``entry["values"]`` (r11 verdict item 2).

    ``skip`` carries NTZ-typed partition columns: an NTZ comparison
    coerces through the session timezone the driver cannot see —
    same exclusion (and same probe-confirmed bug class) as
    ``_stats_eligible``. NaN float values get no bounds (Spark
    orders NaN above everything; a NaN bound would wrongly prune
    ``pt > x``), mirroring ``_encode_bound``."""
    vals = entry.get("values")
    if vals is None or len(vals) != len(pcols):
        return None  # pre-values manifest shape: cannot prune
    cols = {}
    for c, pair in zip(pcols, vals):
        if c in skip:
            continue
        pv = _decode_value(pair)
        cs: dict = {"nulls": 1 if pv is None else 0}
        if pv is not None:
            mn = _encode_bound(pv, upper=False)
            mx = _encode_bound(pv, upper=True)
            if mn is not None:
                cs["mn"] = mn
            if mx is not None:
                cs["mx"] = mx
        cols[c] = cs
    return {"rows": 1, "cols": cols}


def _entry_may_match(
    entry: dict,
    where: list[tuple],
    pcols: list[str] | None = None,
    pcol_skip: frozenset = frozenset(),
) -> bool:
    stats = entry.get("stats")
    virt = (
        _virtual_pcol_stats(entry, pcols, pcol_skip) if pcols else None
    )
    for col, op, value in where:
        if virt is not None and col in virt["cols"]:
            # partition column: evaluate against the entry's exact
            # key value (a clause the key can answer must not fall
            # through to stats — stats never cover pcols)
            if not _where_clause_may_match(virt, col, op, value):
                return False
            continue
        if stats is not None and not _where_clause_may_match(
            stats, col, op, value
        ):
            return False
    return True


def _entry_scan_selection(
    entry: dict,
    norm: list[tuple] | None,
    pcols: list[str] | None = None,
    pcol_skip: frozenset = frozenset(),
    use_bloom: bool = True,
) -> tuple[bool, list[str] | None]:
    """THE single implementation of per-entry scan selection for a
    normalized ``where`` conjunction — ``read()``,
    ``prune_file_stats()``, and ``changes()`` all consume this one
    function, so the observability counts tests pin can never
    desynchronize from the actual scan (code review r12). Returns
    ``(keep_entry, files)``: ``files`` is None for a whole-directory
    scan (no per-file stats, or nothing pruned), else the basenames
    whose bounds admit the predicate (possibly empty — a kept entry
    none of whose files can match)."""
    if not norm:
        return True, None
    if not _entry_may_match(entry, norm, pcols, pcol_skip):
        return False, None
    fstats = entry.get("files")
    if not fstats:
        return True, None
    # partition-column clauses are decided once at entry level above;
    # per-file stats never cover pcols, so evaluating them per file
    # would be a guaranteed dict-miss no-op repeated up to
    # _FILE_STATS_MAX times (external review r12) — run only the
    # data-column clauses over the file loop
    pset = set(pcols or ())
    data_norm = [cl for cl in norm if cl[0] not in pset]
    if not data_norm:
        return True, None

    def _file_admits(st: dict) -> bool:
        for col, op, value in data_norm:
            if not _where_clause_may_match(st, col, op, value):
                return False
            # per-file Bloom membership (r16): after bounds admit,
            # an equality/IN clause on a bloom-bearing column probes
            # the packed filter — the lever that keeps point DML
            # file-granular on UNCLUSTERED keys, where every file's
            # min/max spans the keyspace. Absent filter ⇒ admitted
            # (old manifests, over-cap files); false positives only.
            # ``use_bloom=False`` is the observability hook only
            # (prune_file_stats splits bounds- from bloom-pruning);
            # every real scan path probes.
            if not use_bloom:
                continue
            bl = (st.get("bloom") or {}).get(col)
            if bl is None:
                continue
            if op in ("=", "=="):
                if not _bloom_may_contain(bl, value):
                    return False
            elif op == "in" and value is not None:
                if not any(
                    _bloom_may_contain(bl, v) for v in value
                ):
                    return False
        return True

    keep = [n for n, st in fstats.items() if _file_admits(st)]
    if len(keep) == len(fstats):
        return True, None
    return True, keep


def _check_violation_filter(sql: str) -> Column:
    """CHECK semantics match Delta/ANSI: a row VIOLATES only when the
    expression evaluates to FALSE — TRUE and NULL both pass."""
    return F.coalesce(F.expr(sql).cast("boolean"), F.lit(True)) == F.lit(
        False
    )


def _enforce_check_constraints(
    df: DataFrame, constraints: dict, context: str
) -> None:
    """One combined O(delta) violation probe (all constraints OR-ed,
    LIMIT 1); only a FAILURE pays the per-constraint counts for the
    error message. Raises :class:`CheckConstraintViolation`."""
    if not constraints:
        return
    import functools
    import operator

    combined = functools.reduce(
        operator.or_,
        [_check_violation_filter(s) for s in constraints.values()],
    )
    if df.filter(combined).limit(1).count() == 0:
        return
    detail = []
    for name, sql in sorted(constraints.items()):
        n = df.filter(_check_violation_filter(sql)).count()
        if n:
            detail.append(f"{name!r} (CHECK {sql}): {n} row(s)")
    raise CheckConstraintViolation(
        f"{context} violates table CHECK constraint(s): "
        + "; ".join(detail)
        + " — the commit was refused; the table is unchanged (the "
        "written generation is an unreferenced husk the next GC "
        "sweeps)"
    )


#: partition transforms for Iceberg-style HIDDEN partitioning: the
#: table remembers HOW a partition column derives from a data column,
#: enforces the derivation on every commit, and projects data-column
#: predicates onto the partition key at scan time — `where ts >= X`
#: prunes day partitions without the user ever spelling the day
#: clause (Iceberg's transform.project; Delta generated-column
#: partition filters).
_DERIVED_TRANSFORMS = ("day", "month", "bucket")


def partition_transform_column(
    transform: str, source: str, n: int | None = None
) -> Column:
    """The CANONICAL write-side derivation expression for a derived
    partition column — use this to materialize the column before
    ``create()``/merge (commits verify rows against the SAME
    expression, so a hand-rolled variant that disagrees is refused
    rather than silently mispruning):

    - ``day``: ``to_date(source)`` (DATE; session-tz calendar day for
      TIMESTAMP sources, zone-free for DATE/TIMESTAMP_NTZ),
    - ``month``: ``trunc(to_date(source), 'month')`` (first of month),
    - ``bucket``: ``pmod(xxhash64(source), n)`` (INT hash bucket).
    """
    src = F.col(source)
    if transform == "day":
        return F.to_date(src)
    if transform == "month":
        return F.trunc(F.to_date(src), "month")
    if transform == "bucket":
        if not n or n < 1:
            raise ValueError("bucket transform needs n >= 1")
        return F.pmod(F.xxhash64(src), F.lit(int(n))).cast("int")
    raise ValueError(
        f"unknown partition transform {transform!r}; supported:"
        f" {_DERIVED_TRANSFORMS}"
    )


def _validate_derived_partitions(
    derived: dict, pcols: list[str], schema_json: dict
) -> dict:
    """Normalize + validate a ``derived_partitions`` spec at create:
    ``{pcol: {"transform": t, "source": col[, "n": N]}}``."""
    fields = {f["name"]: f.get("type") for f in schema_json["fields"]}
    out: dict[str, dict] = {}
    for pcol, spec in derived.items():
        if pcol not in pcols:
            raise ValueError(
                f"derived partition {pcol!r} is not a partition"
                f" column {pcols}"
            )
        t = spec.get("transform")
        src = spec.get("source")
        if t not in _DERIVED_TRANSFORMS:
            raise ValueError(
                f"unknown transform {t!r} for {pcol!r}; supported:"
                f" {_DERIVED_TRANSFORMS}"
            )
        if src not in fields:
            raise ValueError(
                f"derived partition {pcol!r}: source column {src!r}"
                " not in table schema"
            )
        if src in pcols:
            raise ValueError(
                f"derived partition {pcol!r}: source {src!r} is"
                " itself a partition column"
            )
        norm = {"transform": t, "source": src}
        if t == "bucket":
            nb = spec.get("n")
            if not isinstance(nb, int) or nb < 1:
                raise ValueError(
                    f"bucket transform for {pcol!r} needs integer"
                    " n >= 1"
                )
            if fields[src] not in (
                "byte", "short", "integer", "long", "string",
            ):
                raise ValueError(
                    f"bucket transform for {pcol!r}: source must be"
                    f" int-family or string, got {fields[src]!r}"
                )
            norm["n"] = nb
        else:
            if fields[src] not in (
                "date", "timestamp", "timestamp_ntz",
            ):
                raise ValueError(
                    f"{t} transform for {pcol!r}: source must be"
                    f" date/timestamp, got {fields[src]!r}"
                )
        out[pcol] = norm
    return out


def _enforce_derived_partitions(
    df: DataFrame, derived: dict, context: str
) -> None:
    """Refuse a commit whose rows disagree with their derivation —
    wrong derived values would make the scan-time projection prune
    LIVE rows (silent wrong results, the one unforgivable class).
    Same O(written data) combined LIMIT-1 probe + refusal surface as
    CHECK constraints; the null-safe comparison holds each row to
    the CANONICAL derivation, whatever it maps NULL to: for day/
    month a NULL source must carry a NULL key, while for bucket the
    canonical expression is ``pmod(xxhash64(source), n)`` — and
    ``xxhash64(NULL)`` is the seed, so a NULL source must carry
    that (non-NULL) seed bucket, matching what ``_project_derived``
    prunes against (external review r13: this doc previously
    claimed NULL→NULL for every transform)."""
    if not derived:
        return
    import functools
    import operator

    def viol(pcol: str, spec: dict) -> Column:
        expr = partition_transform_column(
            spec["transform"], spec["source"], spec.get("n")
        )
        return ~F.col(pcol).eqNullSafe(expr)

    combined = functools.reduce(
        operator.or_, [viol(p, s) for p, s in sorted(derived.items())]
    )
    if df.filter(combined).limit(1).count() == 0:
        return
    detail = []
    for pcol, spec in sorted(derived.items()):
        c = df.filter(viol(pcol, spec)).count()
        if c:
            detail.append(
                f"{pcol!r} != {spec['transform']}({spec['source']}):"
                f" {c} row(s)"
            )
    raise CheckConstraintViolation(
        f"{context} violates derived-partition contract(s): "
        + "; ".join(detail)
        + " — derive the column with partition_transform_column();"
        " the commit was refused and the table is unchanged"
    )



def _enforce_write_contracts(
    df: DataFrame, constraints: dict, derived: dict, context: str
) -> None:
    """ONE combined LIMIT-1 probe over the written rows for BOTH
    write-time contracts — CHECK constraints and derived-partition
    derivations (r13 review: running them as two jobs reads the same
    generation twice). Only a failure pays the per-item counting,
    delegated to the per-contract enforcers for their messages."""
    import functools
    import operator

    probes = [
        _check_violation_filter(sql)
        for sql in (constraints or {}).values()
    ]
    probes += [
        ~F.col(pcol).eqNullSafe(
            partition_transform_column(
                spec["transform"], spec["source"], spec.get("n")
            )
        )
        for pcol, spec in sorted((derived or {}).items())
    ]
    if not probes:
        return
    combined = functools.reduce(operator.or_, probes)
    if df.filter(combined).limit(1).count() == 0:
        return
    _enforce_check_constraints(df, constraints or {}, context)
    _enforce_derived_partitions(df, derived or {}, context)
    raise CheckConstraintViolation(
        f"{context} violates a write contract the detailed probes"
        " could not attribute (concurrent data change under the"
        " probe?) — the commit was refused"
    )


def _month_add(d: "_pydatetime.date", k: int) -> "_pydatetime.date":
    y = d.year + (d.month - 1 + k) // 12
    m = (d.month - 1 + k) % 12 + 1
    return _pydatetime.date(y, m, 1)


def _project_derived(
    spec: dict, src_type: str, op: str, value, bucket_eval
) -> list[tuple[str, object]] | None:
    """Project ONE data-column clause onto its derived partition
    column (Iceberg's transform.project): returns ``[(op, value)]``
    pcol clauses a matching ROW's key provably satisfies — pruning
    on them is sound because every commit enforced pcol ==
    transform(source). TIMESTAMP (zoned) sources widen day bounds by
    ±2 days / month by ±1 month (the 26 h session-zone spread, the
    r11/r12 stats-slack contract); DATE / TIMESTAMP_NTZ are
    zone-free and project exactly. None = clause contributes no
    projection (unknown literal type, unsupported op for the
    transform) — never an error, just no extra pruning."""
    t = spec["transform"]
    if op in ("is_null", "not_null"):
        # day/month: to_date is NULL-preserving both ways, so the
        # null predicate maps through. bucket does NOT: Spark's
        # xxhash64 hashes a NULL input to the SEED (42), so a
        # NULL-source row carries a NON-null bucket key — projecting
        # is_null would prune entries holding exactly the rows the
        # predicate wants (found in r13 self-review; pinned)
        if t == "bucket":
            return None
        return [(op, None)]
    probe = (
        list(value)
        if op in ("between", "in") and value is not None
        else [value]
    )
    if not probe:
        # empty IN list matches nothing; the residual filter returns
        # the empty result — min()/max() below must not crash
        return None
    if any(v is None or _is_nan(v) for v in probe):
        return None  # null/NaN literals: the exact row filter decides
    if t == "bucket":
        if op in ("=", "=="):
            b = bucket_eval(spec, value)
            return None if b is None else [("=", b)]
        if op == "in":
            bs = [bucket_eval(spec, v) for v in value]
            if any(b is None for b in bs):
                return None
            return [("in", sorted(set(bs)))]
        return None  # ranges do not project through a hash
    # day/month: calendar truncations, monotonic
    def d_of(v):
        if isinstance(v, _pydatetime.datetime):
            return v.date()
        if isinstance(v, _pydatetime.date):
            return v
        return None
    ds = [d_of(v) for v in probe]
    if any(d is None for d in ds):
        return None
    one = _pydatetime.timedelta(days=1)
    if t == "day":
        w = 2 if src_type == "timestamp" else 0
        lo = min(ds) - w * one
        hi = max(ds) + w * one
    else:  # month
        w = 1 if src_type == "timestamp" else 0
        lo = _month_add(min(ds).replace(day=1), -w)
        hi = _month_add(max(ds).replace(day=1), +w)
    if op in ("=", "==", "between", "in"):
        return [("between", (lo, hi))]
    if op in (">=", ">"):
        return [(">=", lo)]
    if op in ("<=", "<"):
        return [("<=", hi)]
    return None


def _max_records_per_file(spark, n: int | None):
    """Scoped ``spark.sql.files.maxRecordsPerFile`` override as a
    context manager — set for the wrapped write only, restored to the
    PRIOR value afterwards (the engine default reads back as "0" =
    unset). One implementation shared by ``compact`` and
    ``repartition_table`` (external review r13)."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        if not n:
            yield
            return
        conf = spark.conf
        key = "spark.sql.files.maxRecordsPerFile"
        prev = conf.get(key)
        conf.set(key, str(n))
        try:
            yield
        finally:
            if prev in (None, "0"):
                conf.unset(key)
            else:
                conf.set(key, prev)

    return _cm()


#: Spark types ``compact(zorder_by=...)`` can min/max-quantize into
#: Z-curve buckets. Strings have no meaningful linear quantization and
#: dates/timestamps should be zordered via an epoch-cast column or
#: clustered hierarchically — ``cluster_by`` sorts ANY orderable type.
_ZORDER_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

#: zorder also accepts temporal columns (r14): each is projected onto
#: a MONOTONE numeric axis before quantization — dates as epoch days,
#: timestamps as epoch seconds, NTZ through a session-zone instant.
#: Monotone is ALL the key needs: the Z-key is ephemeral (never
#: written, never read back), pruning correctness always comes from
#: the real column stats the commit records, so a frame blur of up to
#: one zone offset costs edge-bucket locality, never a wrong result.
_ZORDER_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _zorder_numeric_col(c: str, dt: T.DataType) -> Column:
    """The monotone double projection of one zorder column."""
    if isinstance(dt, T.DateType):
        return F.datediff(
            F.col(c), F.to_date(F.lit("1970-01-01"))
        ).cast("double")
    if isinstance(dt, T.TimestampType):
        return F.col(c).cast("double")  # epoch seconds, session frame
    if isinstance(dt, T.TimestampNTZType):
        # session-zone instant: non-strict around a DST fold, which
        # for a CLUSTERING key is a one-hour locality blur, not an
        # error (cf. _ZORDER_TEMPORAL note)
        return F.col(c).cast("timestamp").cast("double")
    return F.col(c).cast("double")


def _zorder_bound_float(v) -> float:
    """Decoded manifest bound → the SAME numeric axis as
    :func:`_zorder_numeric_col`, driver-side. Naive timestamps are
    taken as UTC — at worst one zone offset from the session frame
    the column projection uses, which only blurs the outermost
    quantization buckets (key-only; see _ZORDER_TEMPORAL)."""
    import calendar

    if isinstance(v, _pydatetime.datetime):
        return (
            calendar.timegm(v.utctimetuple()) + v.microsecond / 1e6
        )
    if isinstance(v, _pydatetime.date):
        return float((v - _pydatetime.date(1970, 1, 1)).days)
    return float(v)


def _zorder_bounds_from_entries(
    entries: list[dict], cols: list[str]
) -> dict[str, tuple[float, float]] | None:
    """Fold the selected entries' manifest column stats into global
    ``(lo, hi)`` floats per zorder column — the quantization bounds,
    for ZERO extra I/O. Returns None when any entry lacks a bound for
    any column (pre-stats manifests, stats-disabled tables, all-NULL
    or all-NaN partitions): the caller falls back to one aggregate
    over the rows it is about to rewrite anyway."""
    out: dict[str, tuple[float, float]] = {}
    for c in cols:
        los: list[float] = []
        his: list[float] = []
        for e in entries:
            cs = ((e.get("stats") or {}).get("cols") or {}).get(c)
            if not cs or cs.get("mn") is None or cs.get("mx") is None:
                return None
            try:
                los.append(_zorder_bound_float(_decode_value(cs["mn"])))
                his.append(_zorder_bound_float(_decode_value(cs["mx"])))
            except (TypeError, ValueError):
                return None
        out[c] = (min(los), max(his))
    return out


def _zorder_sort_key(
    zorder_by: list[str],
    bounds: dict[str, tuple[float, float]],
    schema: T.StructType,
) -> Column:
    """The ephemeral Z-curve sort key for ``compact(zorder_by=...)``:
    min/max-quantize each column into ``bits``-wide buckets with
    LITERAL bounds (no crossJoin, no added column — the expression
    references only table columns, so ``sortWithinPartitions`` can
    order by it without the key ever entering the written schema),
    then bit-interleave via :func:`operators.layout.morton_key_n`.
    Pure shifts/AND — map-side codegen.

    Semantics at the edges: NULL quantizes to bucket 0 (``greatest``
    skips the NULL division result), NaN to the TOP bucket (matching
    Spark's NaN-sorts-greatest ordering), a constant or unbounded
    column collapses to bucket 0 (contributing nothing to the curve,
    exactly right for a column with no spread)."""
    from .layout import morton_key_n

    k = len(zorder_by)
    bits = max(1, min(16, 62 // k))
    n = 1 << bits
    buckets: list[Column] = []
    for c in zorder_by:
        lo, hi = bounds.get(c, (None, None))
        if lo is None or hi is None or not (hi > lo):
            buckets.append(F.lit(0).cast("long"))
            continue
        col = _zorder_numeric_col(c, schema[c].dataType)
        raw = F.floor((col - F.lit(float(lo))) / F.lit(float(hi - lo)) * n)
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")
        if isinstance(schema[c].dataType, (T.FloatType, T.DoubleType)):
            b = F.when(
                F.isnan(F.col(c)), F.lit(n - 1).cast("long")
            ).otherwise(b)
        buckets.append(b)
    return morton_key_n(buckets, bits)


def _where_to_filter(where: list[tuple]):
    """The EXACT residual filter for a ``where`` conjunction — stats
    pruning is an optimization, never the correctness story: every
    surviving entry is still filtered row-by-row with the same
    predicate Catalyst pushes into the parquet scan."""
    import functools
    import operator

    def one(col, op, value):
        c = F.col(col)
        if op in ("=", "=="):
            return c == F.lit(value)
        if op == "<":
            return c < F.lit(value)
        if op == "<=":
            return c <= F.lit(value)
        if op == ">":
            return c > F.lit(value)
        if op == ">=":
            return c >= F.lit(value)
        if op == "between":
            return (c >= F.lit(value[0])) & (c <= F.lit(value[1]))
        if op == "in":
            return c.isin(list(value))
        if op == "is_null":
            return c.isNull()
        if op == "not_null":
            return c.isNotNull()
        raise ValueError(f"unknown stats predicate op {op!r}")

    return functools.reduce(
        operator.and_, [one(col, op, v) for col, op, v in where]
    )


def _require_json_op_info(op_info: dict | None) -> None:
    """Refuse a non-JSON ``op_info`` BEFORE any data I/O: a bad op dict
    must not surface as a publish failure after the generation was
    written (r13 review; same loud-up-front rule as _normalize_where)."""
    try:
        json.dumps(op_info)
    except TypeError as exc:
        raise ValueError("op_info must be JSON-serializable") from exc


class ManifestTable:
    """A partitioned parquet table with atomic, versioned commits.

    Layout under ``path``::

        _latest                  pointer file, content "v00000003"
        _manifests/v00000003.json
        _data/g00000003/_p_<col>=<val>/part-*.parquet

    Data files keep the partition columns PHYSICAL (the
    ``partitionBy`` columns are duplicated ``_p_``-prefixed copies),
    so reads never re-infer types from directory names and a
    generation's leaf dirs from different versions combine into ONE
    scan with an explicit schema. Partition pruning happens at the
    MANIFEST level — the reader selects the named directories, no
    listing or Catalyst discovery involved — which at 100 TB is the
    cheaper pruning: O(live partitions) metadata, zero file listing
    of untouched partitions.

    Commit protocol (see module docstring for the guarantee argument):
    write generation → write manifest (tmp + rename) → swap pointer →
    GC generations unreferenced by the ``retain_versions`` newest
    manifests. Readers inside the retain window get snapshot
    isolation; manifests older than the window are deleted with their
    unreferenced data, so time travel reaches exactly the retained
    versions (``versions()``).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        shard_target: int = 8192,
        stats_cols: list[str] | str | None = "auto",
        derived_partitions: dict | None = None,
        bloom_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        #: per-file Bloom membership columns (r16): for each named
        #: column, every stats-bearing commit records a small packed
        #: Bloom filter per written file whose distinct count is ≤
        #: _BLOOM_MAX_KEYS — point-predicate reads and file-granular
        #: DML/merge then skip files whose filter excludes the key,
        #: even when the key is UNCLUSTERED and min/max bounds span
        #: every file (uuid-keyed CDC pre-compaction). Persisted in
        #: the manifest at create() like stats_cols; opt-in because
        #: each commit pays one extra column-pruned scan of the
        #: qualifying files it just wrote. Absent filters always
        #: admit (old manifests / big files), so the contract stays
        #: false-positive-only.
        self.bloom_cols = list(bloom_cols or [])
        #: Iceberg-style hidden partitioning (r13): ``{pcol:
        #: {"transform": "day"|"month"|"bucket", "source": col[,
        #: "n": N]}}``. Persisted in the manifest at create() like
        #: stats_cols; every commit ENFORCES pcol ==
        #: transform(source) row-wise (null-safe, O(written data)),
        #: and reads/changes PROJECT data-column predicates onto the
        #: partition key — `where ts >= X` prunes day partitions with
        #: no day clause spelled. Derive the column at write time
        #: with :func:`partition_transform_column`.
        self.derived_partitions = derived_partitions
        #: per-entry column min/max/null statistics (Iceberg-style
        #: data skipping): "auto" records stats for every eligible
        #: atomic column (capped at _STATS_AUTO_CAP), an explicit
        #: list records exactly those, [] / None disables. Persisted
        #: in the manifest at create() like shard_target, so merges
        #: through a default-constructed instance honor the table's
        #: configuration. Each commit pays ONE column-pruned
        #: aggregation over the freshly written generation (O(delta),
        #: map-side combine); reads with a ``where`` conjunction then
        #: skip entries whose bounds exclude the predicate — at 100 TB
        #: the difference between scanning every live file of the
        #: matching partitions and only the files that can match.
        self.stats_cols = [] if stats_cols is None else stats_cols
        #: live-partition count above which a commit writes the
        #: manifest as a manifest LIST + content-addressed entry
        #: shards (Iceberg-style) instead of one monolithic JSON —
        #: past ~10⁴ partitions the single file is the metadata
        #: bottleneck the r9 verdict named: every commit rewrites
        #: O(live partitions) bytes. Sharded, a commit rewrites only
        #: the buckets its touched partitions hash into, ~O(touched)
        #: + one small list file. Readers are format-agnostic
        #: (`manifest()` expands either form).
        if shard_target < 1:
            raise ValueError("shard_target must be >= 1")
        self.shard_target = shard_target
        # expansion memo: (version, commit_uuid) -> entries list;
        # bounded, instance-local (see manifest())
        self._man_cache: dict[tuple, list] = {}

    # ---- metadata -------------------------------------------------

    def versions(self) -> list[int]:
        fs, jman = _hadoop_fs(self.spark, f"{self.path}/{_MANIFEST_DIR}")
        if not fs.exists(jman):
            return []
        out = []
        for status in fs.listStatus(jman):
            m = _MANIFEST_RE.match(status.getPath().getName())
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _keep_current_retain(self, new_version: int) -> int:
        """The ``retain_versions=None`` resolution shared by every
        maintenance op (every data commit through `_publish_staged`,
        every metadata-only commit through `_metadata_commit`, and
        vacuum): the window that keeps
        every currently retained version PLUS the commit about to
        publish at ``new_version`` — a bare maintenance call must
        never truncate history (the r10 class; single implementation
        per external review r13)."""
        return new_version - min(self.versions()) + 1

    def history(self) -> list[dict]:
        """Commit log of every RETAINED version, oldest first — the
        `DESCRIBE HISTORY` analog. One small-file read per retained
        manifest (O(retain window), never O(data) and never a shard
        expansion — the raw list carries everything this needs); each
        row carries version, commit_uuid, committed_utc (absent on
        pre-r10 manifests), partition_cols, and the live-partition
        count."""
        out = []
        for v in self.versions():
            try:
                m = self._manifest_raw(v)
            except ValueError:
                continue  # GC'd between the listing and the read
            out.append(
                {
                    "version": m["version"],
                    "commit_uuid": m.get("commit_uuid"),
                    "committed_utc": m.get("committed_utc"),
                    "partition_cols": list(m["partition_cols"]),
                    "n_partitions": m.get(
                        "entry_count", len(m.get("entries", []))
                    ),
                    "op": m.get("op"),
                }
            )
        return out

    def version_at(self, ts) -> int:
        """The ``TIMESTAMP AS OF`` resolver: newest RETAINED version
        whose ``committed_utc`` is <= ``ts`` (a datetime; naive is
        taken as UTC, matching how commits stamp themselves). Raises
        when every retained commit is newer — the asked-for state has
        been GC'd (or never existed), and silently returning the
        oldest surviving version would misrepresent history. Cost:
        O(retain window) small-file reads via :meth:`history`."""
        import datetime

        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        best = None
        for h in self.history():
            c = h.get("committed_utc")
            if c is None:
                continue  # pre-r10 manifest: no timestamp recorded
            if datetime.datetime.fromisoformat(c) <= ts:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"no retained version of {self.path} is as old as "
                f"{ts.isoformat()} (available: {self.versions()}); the "
                "asked-for state is outside the retain window"
            )
        return best

    def current_version(self) -> int | None:
        """Pointer read, with highest-manifest fallback covering the
        pointer-swap crash window (delete happened, rename did not:
        the newest manifest was fully in place before the delete)."""
        vs = self.versions()  # one listing serves both branches
        tag = _read_small_file(self.spark, f"{self.path}/{_POINTER}")
        if tag is not None:
            m = re.match(r"^v(\d{8})$", tag.strip())
            if m and int(m.group(1)) in set(vs):
                return int(m.group(1))
        return vs[-1] if vs else None

    def _manifest_raw(self, version: int) -> dict:
        """The version's manifest file AS WRITTEN — a sharded list
        keeps its ``entry_shards`` references unexpanded. Internal:
        the shard-reuse diff in `_shard_entries` and the GC's
        referenced-shard sweep need the raw form."""
        text = _read_small_file(
            self.spark,
            f"{self.path}/{_MANIFEST_DIR}/v{version:08d}.json",
        )
        if text is None:
            raise ValueError(
                f"version {version} of {self.path} is not retained "
                f"(available: {self.versions()})"
            )
        return json.loads(text)

    def manifest(self, version: int | None = None) -> dict:
        version = self.current_version() if version is None else version
        if version is None:
            raise ValueError(f"manifest table does not exist: {self.path}")
        man = self._manifest_raw(version)
        shards = man.pop("entry_shards", None)
        if shards is None:
            return man
        # sharded list (format v2, written past shard_target live
        # partitions): expand to the same shape callers of the
        # single-file format see — read/changes/merge stay format-
        # agnostic. Expansions memoize per (version, commit_uuid) on
        # this instance — one merge/tail calls manifest() for the same
        # version several times (pcols, prev entries, GC) and must not
        # pay the shard reads repeatedly; the uuid key makes a
        # post-crash re-publish invalidate naturally.
        ck = (version, man.get("commit_uuid"))
        cached = self._man_cache.get(ck)
        if cached is not None:
            return {**man, "entries": cached}
        if len(shards) >= 8:
            # ONE Spark job reads every shard (each a single JSON
            # line); driver-side json.loads keeps the tagged-value
            # fidelity a schema'd json read would coerce away. Beats
            # per-file py4j reads ~linearly in shard count.
            try:
                lines = [
                    r.value
                    for r in self.spark.read.text(
                        [f"{self.path}/{rel}" for rel in shards]
                    ).collect()
                ]
            except Exception as exc:  # noqa: BLE001 — classify
                raise ValueError(
                    f"entry shard(s) of {self.path} v{version} are"
                    " missing — the version was GC'd mid-read"
                    f" (available: {self.versions()})"
                ) from exc
            parts = [json.loads(t) for t in lines if t.strip()]
            if len(parts) != len(shards):
                # a zero-byte/truncated shard filters out silently
                # above; an incomplete expansion must be LOUD — a
                # missing bucket is ~live/num_buckets partitions of
                # silently vanished data (external review r10, pass 3)
                raise ValueError(
                    f"expanded {len(parts)} of {len(shards)} entry"
                    f" shards for {self.path} v{version} — a shard is"
                    " empty or truncated; the version is unreadable"
                )
        else:
            parts = []
            for rel in shards:
                text = _read_small_file(self.spark, f"{self.path}/{rel}")
                if text is None:
                    raise ValueError(
                        f"entry shard {rel} of {self.path} v{version} is"
                        " missing — the version was GC'd mid-read"
                        f" (available: {self.versions()})"
                    )
                parts.append(json.loads(text))
        entries = sorted(
            (e for p in parts for e in p["entries"]),
            key=lambda e: e["key"],
        )
        if len(self._man_cache) >= 8:
            self._man_cache.pop(next(iter(self._man_cache)))
        self._man_cache[ck] = entries
        return {**man, "entries": entries}

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    def partition_cols(self, version: int | None = None) -> list[str]:
        return list(self.manifest(version)["partition_cols"])

    # ---- read -----------------------------------------------------

    def read(
        self,
        version: int | None = None,
        partitions: list[tuple] | None = None,
        manifest_dict: dict | None = None,
        where: list[tuple] | Column | None = None,
        as_of=None,
    ) -> DataFrame:
        """One scan over the manifest's live directories. ``partitions``
        (value tuples) prunes at the manifest level — only the named
        partitions' directories are ever listed or read.
        ``manifest_dict`` lets a caller that already holds the manifest
        skip the re-read (one metadata RPC per commit on object
        stores).

        ``where`` is either a conjunction of simple clauses
        ``[("col", op, value), ...]`` (op ∈ ``= < <= > >= between in``
        plus 2-tuple ``is_null`` / ``not_null``) or a pyspark
        ``Column`` (``(F.col("ts") >= t0) & (F.col("ts") < t1)`` —
        prunable ``attr op literal`` conjuncts are extracted from its
        expression tree, anything else conservatively contributes no
        pruning). Evaluated TWICE: once driver-side against each
        entry's recorded column bounds (entries whose min/max exclude
        the predicate are skipped before any file is listed —
        Iceberg-style data skipping on NON-partition columns, the
        pruning the partition key cannot give), and once exactly, as
        a row filter Catalyst pushes into the parquet scan (a Column
        is applied verbatim). Entries without stats (pre-stats
        commits, non-stats columns) are always scanned, so the result
        is correct regardless of stats coverage.

        ``as_of`` (a datetime) is the ``TIMESTAMP AS OF`` spelling of
        time travel — resolved to the newest retained version
        committed at or before it (:meth:`version_at`); mutually
        exclusive with ``version``."""
        m, entries = self._select_entries(
            version, as_of, partitions, manifest_dict
        )
        schema = T.StructType.fromJson(m["schema"])
        norm, prune_norm, pcols, skip = self._where_pruning(m, where)
        # sorted-set: entries map 1:1 to dirs by construction, but a
        # duplicate path must never be scanned twice. Within a
        # surviving entry, per-FILE bounds (r12) select individual
        # files: an entry whose partition-level bounds admit the
        # predicate may still contain files whose bounds exclude it —
        # those are dropped from the scan list before listing. An
        # entry without per-file stats (single-file partitions,
        # pre-r12 commits, > _FILE_STATS_MAX files) reads its whole
        # directory, so coverage gaps degrade to dir scans, never to
        # missing rows.
        dirs: set[str] = set()
        fpaths: set[str] = set()
        for e in entries:
            kept, files = _entry_scan_selection(
                e, prune_norm, pcols, skip
            )
            if not kept:
                continue
            base = (
                e["dir"]
                if _is_abs_dir(e["dir"])
                else f"{self.path}/{e['dir']}"
            )
            if files is None and _has_carried_files(e):
                # file-granular DML entry (r14): the files map IS the
                # membership — the dir misses the carried files and
                # still holds the superseded originals, so a whole-dir
                # scan would be wrong in both directions
                files = list(e["files"])
            if files is None:
                dirs.add(base)
            else:
                fpaths.update(
                    _resolve_entry_file(self.path, base, n)
                    for n in files
                )
        paths = sorted(dirs) + sorted(fpaths)
        if not paths:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(*paths)
        if isinstance(where, Column):
            df = df.filter(where)
        elif norm:
            df = df.filter(_where_to_filter(norm))
        return df

    def stats_extent(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """``(min, max)`` of ``col`` over the live table, answered
        from the MANIFEST's entry bounds alone — zero data I/O
        (r14; the metadata twin of ``count()``). Returns None when
        any live entry lacks a bound for the column (pre-stats
        commits, stats-ineligible types, all-NULL partitions) — the
        caller decides whether an exact aggregate scan is worth it.
        Bounds fold with Spark's NULL/NaN fold semantics; note the
        recorded max of a LONG STRING column is a truncation-
        incremented UPPER BOUND, not an attained value."""
        m = self.manifest(version)
        if not m["entries"]:
            return None
        los: list = []
        his: list = []
        for e in m["entries"]:
            cs = ((e.get("stats") or {}).get("cols") or {}).get(col)
            if not cs:
                return None
            st = e.get("stats") or {}
            nonnull = (st.get("rows") or 0) - cs.get("nulls", 0)
            if "mn" in cs:
                los.append(_decode_value(cs["mn"]))
            elif nonnull:
                return None  # unbounded side with live values
            if "mx" in cs:
                his.append(_decode_value(cs["mx"]))
            elif nonnull:
                return None
        return (
            _fold_spark_min(los) if los else None,
            _fold_spark_max(his) if his else None,
        )

    def count(
        self,
        where: list[tuple] | Column | None = None,
        partitions: list[tuple] | None = None,
        version: int | None = None,
        as_of=None,
        detail: bool = False,
    ) -> int | dict:
        """EXACT row count, answered from the MANIFEST wherever
        possible — ``COUNT(*)`` over 100 TB must not be a 100 TB scan
        (Delta answers it from the log, Catalyst from parquet
        footers; this is the manifest-native equivalent, r13). It is
        ``metadata_agg([("count", "*")], ...)``, so the same planner
        decides per entry:

        - no predicate / ``partitions=[...]`` → the sum of the row
          counts every stats-bearing commit records per entry: ZERO
          data I/O, O(live entries) driver work;
        - ``where`` tuples naming only PARTITION columns → each
          entry's key value is decided EXACTLY in
          :func:`_pcol_clause_exact`; decided-true entries answer
          from metadata, decided-false are skipped, and any clause
          crossing a coercion frame (timestamps, Decimal-vs-float,
          int-vs-float past 2^53) demotes JUST that entry to the
          exact scan path — never approximately right;
        - ``where`` touching DATA columns, or a ``Column`` predicate
          (whose clause extraction is best-effort, so the normalized
          conjunction may under-represent it) → :meth:`read`'s
          pruned exact scan of the whole selection counts it.

        Entries predating stats (or stats-disabled tables) scan too.
        ``detail=True`` returns ``{"rows", "entries_metadata",
        "entries_scanned", "entries_total"}`` so tests can pin that
        the metadata path stayed metadata (the zero-I/O pin deletes
        the data files outright and counts again)."""
        out = self.metadata_agg(
            [("count", "*")], where, partitions, version, as_of, detail
        )
        if detail:
            return {"rows": out["count(*)"], **out["_detail"]}
        return out["count(*)"]

    def metadata_agg(
        self,
        aggs: list[tuple],
        where: list[tuple] | Column | None = None,
        partitions: list[tuple] | None = None,
        version: int | None = None,
        as_of=None,
        detail: bool = False,
    ) -> dict:
        """EXACT multi-aggregate answered from the MANIFEST wherever
        possible — :meth:`count`'s r13 architecture generalized to
        the full stats surface (r16). ``SELECT count(*), count(c),
        min(c), max(c) FROM t WHERE pt = ...`` over 100 TB should be
        an O(live entries) driver fold over recorded stats, not a
        scan (Delta answers these from the log / parquet footers;
        this is the manifest-native equivalent).

        ``aggs``: list of ``(fn, col)`` with fn in ``count`` (col or
        ``"*"``), ``null_count``, ``min``, ``max``, ``sum``. Returns
        ``{"fn(col)": value}``; min/max/sum over zero rows is None
        (SQL NULL). ``detail=True`` adds ``"_detail"`` with
        ``entries_metadata / entries_scanned / entries_total`` so
        tests can pin that the metadata path stayed metadata.

        EXACTNESS contract — the result is always the scan's answer,
        never approximately right. Per entry, the metadata path is
        taken only when every requested aggregate is PROVABLY
        attained from that entry's stats; otherwise the entry joins
        the exact-scan pool. Demotions:

        - ``where`` touching a DATA column, or a ``Column`` predicate
          (the whole selection scans), or any clause a
          :func:`_pcol_clause_exact` coercion frame can't decide —
          the row filter needs real rows;
        - an entry predating stats, or whose stats lack a requested
          column;
        - a requested min/max side recorded as UNBOUNDED (NaN fold,
          untruncatable string upper) — the bound is not attained;
        - a STRING bound at the truncation length
          (:data:`_STATS_MAX_STR`): the recorded mn is a prefix and
          the recorded mx is truncation-incremented — valid bounds
          for pruning, NOT attained values (Iceberg's
          lower_bound/upper_bound caveat);
        - min/max on a TIMESTAMP column: recorded bounds crossed the
          session-zone collect frame at write time and a reader in a
          different zone would fold a different instant — the same
          frame :func:`_pcol_clause_exact` refuses to decide
          (count/null_count on timestamps stay metadata: row counts
          have no zone).

        count(*) / count(col) / null_count need only ``rows`` and the
        column's ``nulls`` — truncation and unbounded sides don't
        demote them.

        ``sum`` (r16) answers from the per-entry ``sm`` fold for
        EXACT-sum types only (:data:`_SUM_EXACT_TYPES` — integral /
        decimal; a float sum is order-dependent, so metadata and scan
        could disagree in the last ulp → floats always scan, still
        exact by definition). Entries whose stats predate ``sm``
        demote to the scan. A partition column's sum is
        ``key_value × rows`` — no stats needed."""
        rows, det = self._metadata_plan(
            "metadata_agg", aggs, where, partitions, version, as_of,
            grouped=False,
        )
        out: dict = {}
        for fn, c in aggs:
            label = f"{fn}({c})"
            got = [r[label] for _, r in rows if r[label] is not None]
            if fn == "min":
                out[label] = _fold_spark_min(got)
            elif fn == "max":
                out[label] = _fold_spark_max(got)
            elif fn == "sum" and not got:
                out[label] = None  # the sum of no values is NULL
            else:
                out[label] = sum(got)
        if detail:
            out["_detail"] = det
        return out

    def partition_profile(
        self,
        aggs: list[tuple] | None = None,
        where: list[tuple] | Column | None = None,
        partitions: list[tuple] | None = None,
        version: int | None = None,
        as_of=None,
        detail: bool = False,
    ) -> list[dict]:
        """PER-PARTITION exact aggregates — :meth:`metadata_agg`
        grouped by the partition columns (r16). One output dict per
        live partition (``{pcol: value, "fn(col)": value, ...}``,
        sorted by partition key), answered from the manifest wherever
        stats can prove the aggregates: with one live entry per
        partition, the grouped answer IS the per-entry stats — no
        fold at all. The O(live entries) profile of a 100 TB table:
        row-count skew, per-partition value ranges, null densities —
        the first question a pipeline operator asks before picking a
        repartition/salt strategy, answered without touching data.

        ``aggs`` defaults to ``[("count", "*")]``; same functions and
        EXACTNESS contract as metadata_agg — an entry whose stats
        cannot prove an aggregate is demoted to one exact scan
        (grouped by the partition columns) together with the other
        demoted entries, and partitions emptied by a data-column
        ``where`` drop out of the output exactly as SQL GROUP BY
        drops empty groups. ``detail=True`` returns ``(rows,
        detail_dict)`` instead.

        Scale shape: metadata partitions cost zero jobs; demoted
        partitions cost ONE grouped scan job over just those
        partitions."""
        rows, det = self._metadata_plan(
            "partition_profile", aggs or [("count", "*")], where,
            partitions, version, as_of, grouped=True,
        )
        rows = [r for _, r in sorted(rows, key=lambda kv: kv[0])]
        return (rows, det) if detail else rows

    def _select_entries(
        self,
        version: int | None,
        as_of,
        partitions: list[tuple] | None,
        manifest_dict: dict | None = None,
    ) -> tuple[dict, list[dict]]:
        """``(manifest, selected entries)`` — the front half every
        read-side method shares: ``as_of`` resolves through
        :meth:`version_at` (exclusive with ``version``), and
        ``partitions`` (value tuples) keeps only the named entries."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_at(as_of)
        m = manifest_dict if manifest_dict is not None else self.manifest(version)
        entries = m["entries"]
        if partitions is not None:
            wanted = {_partition_key(tuple(t)) for t in partitions}
            entries = [e for e in entries if e["key"] in wanted]
        return m, entries

    def _metadata_plan(
        self,
        caller: str,
        aggs: list[tuple],
        where: list[tuple] | Column | None,
        partitions: list[tuple] | None,
        version: int | None,
        as_of,
        grouped: bool,
    ) -> tuple[list[tuple], dict]:
        """THE planner behind :meth:`count`, :meth:`metadata_agg` and
        :meth:`partition_profile`: answer ``aggs`` from each selected
        entry's stats where they are provably attained (the demotion
        rules are documented on metadata_agg), and run ONE exact scan
        over the demoted entries — grouped by the partition columns
        when ``grouped``. Returns ``(rows, detail)``: ``rows`` are
        ``(partition key, row)`` pairs, one per metadata-answered
        entry plus the scan's rows, each row keyed ``"fn(col)"``
        (and by the partition columns for per-partition rows);
        ``detail`` counts entries_metadata / entries_scanned /
        entries_total."""
        fns = ("count", "null_count", "min", "max", "sum")
        for fn, col in aggs:
            if fn not in fns:
                raise ValueError(f"{caller} supports {fns}, got {fn!r}")
            if fn != "count" and col == "*":
                raise ValueError(f"{fn}(*) is not an aggregate")
        m, entries = self._select_entries(version, as_of, partitions)
        pcols = list(m.get("partition_cols") or [])
        pset = set(pcols)
        types = {
            f.name: f.dataType
            for f in T.StructType.fromJson(m["schema"]).fields
        }
        ts_cols = {
            c for c, t in types.items() if isinstance(t, T.TimestampType)
        }
        stat_cols = sorted(
            {c for _, c in aggs if c != "*" and c not in pset}
        )
        norm = (
            _normalize_where(where)
            if not isinstance(where, Column) and where
            else None
        )
        # no entry can answer, so the whole selection scans: a Column
        # predicate is known in full only to Spark; a pre-values
        # manifest has no key to decide clauses on; a TIMESTAMP
        # partition key crossed the same session-zone frame as
        # data-column ts bounds; a float sum is order-dependent (no
        # ``sm`` is ever recorded); a data-column clause needs rows
        whole = (
            isinstance(where, Column)
            or any("values" not in e for e in entries)
            or any(
                fn in ("min", "max") and c in pset and c in ts_cols
                for fn, c in aggs
            )
            or any(
                fn == "sum"
                and not isinstance(types.get(c), _SUM_EXACT_TYPES)
                for fn, c in aggs
            )
            or any(cl[0] not in pset for cl in norm or [])
        )
        rows: list[tuple] = []
        scan_parts: list[tuple] = []
        for e in [] if whole else entries:
            vals = tuple(_decode_value(p) for p in e["values"])
            byname = dict(zip(pcols, vals))
            verdicts = [
                _pcol_clause_exact(byname[c], op, val)
                for (c, op, val) in norm or []
            ]
            if any(vd is False for vd in verdicts):
                continue  # a definite miss prunes the entry
            ok = (
                _entry_agg_stats(e, aggs, stat_cols, pset, ts_cols)
                if all(vd is True for vd in verdicts)
                else None
            )
            if ok is None:
                scan_parts.append(vals)
            else:
                rows.append(
                    (e["key"], _entry_agg_row(pcols, aggs, vals, *ok))
                )
        detail = {
            "entries_metadata": len(rows),
            "entries_scanned": (
                len(entries) if whole else len(scan_parts)
            ),
            "entries_total": len(entries),
        }
        if detail["entries_scanned"]:
            df = self.read(
                where=where,
                # a whole-selection scan must keep the caller's
                # partitions filter, not widen to the table
                partitions=partitions if whole else scan_parts,
                manifest_dict=m,
            )
            scan_fns = {
                "count": F.count,
                "null_count": lambda col: F.count(
                    F.when(col.isNull(), 1)
                ),
                "min": F.min,
                "max": F.max,
                "sum": F.sum,
            }
            exprs = {"count(*)": F.count(F.lit(1))}
            for fn, c in aggs:
                if c != "*":
                    exprs[f"{fn}({c})"] = scan_fns[fn](F.col(c))
            group = pcols if grouped else []
            keys = group + [f"{fn}({c})" for fn, c in aggs]
            got = (
                df.groupBy(*group)
                .agg(*[x.alias(k) for k, x in exprs.items()])
                .collect()
            )
            for r in got:
                key = _partition_key(tuple(r[c] for c in group))
                rows.append((key, {k: r[k] for k in keys}))
        return rows, detail

    def _bucket_eval(self, spec: dict, src_type: str, v):
        """Spark-evaluate ``pmod(xxhash64(v::src_type), n)`` for ONE
        literal — the only sound way to project an equality through
        the hash is to run the exact hash Spark ran at write time
        (the literal is CAST to the declared source type first:
        xxhash64 of an int32 and an int64 differ). One tiny local
        job per distinct literal, memoized per instance; None on any
        failure = no projection, never a wrong one."""
        # kind guard (r13 code review): the projection hashes the
        # LITERAL cast to the declared source type, but Spark's
        # residual filter may coerce the COLUMN instead (string col
        # vs int literal matches s="05" for 5 — a different bucket
        # than bucket("5")). Only project when the literal already
        # lives in the source's kind, the same coercion-frame rule
        # _pcol_clause_exact applies; anything else returns None and
        # the ordinary scan decides.
        _RANGES = {
            "byte": 7,
            "short": 15,
            "integer": 31,
            "long": 63,
        }
        if src_type == "string":
            if not isinstance(v, str):
                return None
        elif src_type in _RANGES:
            if isinstance(v, bool) or not isinstance(v, int):
                return None
            if not -(1 << _RANGES[src_type]) <= v < (
                1 << _RANGES[src_type]
            ):
                return None  # cast would overflow, not hash
        else:
            return None
        key = (src_type, spec["n"], type(v).__name__, repr(v))
        cache = self.__dict__.setdefault("_bucket_memo", {})
        if key in cache:
            return cache[key]
        try:
            b = (
                self.spark.range(1)
                .select(
                    F.pmod(
                        F.xxhash64(F.lit(v).cast(src_type)),
                        F.lit(spec["n"]),
                    )
                    .cast("int")
                    .alias("b")
                )
                .collect()[0]["b"]
            )
        except Exception:  # noqa: BLE001 — no projection, never wrong
            b = None
        cache[key] = b
        return b

    def _derived_prune_clauses(
        self, m: dict, norm: list[tuple] | None
    ) -> list[tuple]:
        """The hidden-partitioning payoff (r13): project data-column
        clauses onto derived partition keys — ``where ts >= X``
        grows an implied ``ts_day >= day(X) - w`` clause that the
        SAME entry-pruning machinery consumes. PRUNING hints only:
        the exact residual filter stays the caller's original
        predicate, so an unprojectable clause costs selectivity,
        never correctness."""
        der = m.get("derived_partitions") or {}
        if not der or not norm:
            return []
        types = {
            f["name"]: f.get("type")
            for f in m["schema"].get("fields", [])
        }
        by_src: dict[str, list] = {}
        for pcol, spec in der.items():
            by_src.setdefault(spec["source"], []).append((pcol, spec))
        out: list[tuple] = []
        for col, op, value in norm:
            for pcol, spec in by_src.get(col, ()):
                st = types.get(col)
                proj = _project_derived(
                    spec,
                    st,
                    op,
                    value,
                    lambda sp, v, _st=st: self._bucket_eval(sp, _st, v),
                )
                for pop, pval in proj or []:
                    out.append((pcol, pop, pval))
        return out

    @staticmethod
    def _pcols_for_pruning(
        m: dict, schema: T.StructType
    ) -> tuple[list[str], frozenset]:
        """(partition columns, the NTZ-typed subset to skip) for
        entry-value pruning — NTZ comparisons coerce through the
        session timezone the driver cannot see (same exclusion as
        ``_stats_eligible``)."""
        pcols = list(m.get("partition_cols") or [])
        types = {f.name: f.dataType for f in schema.fields}
        skip = frozenset(
            c
            for c in pcols
            if isinstance(types.get(c), T.TimestampNTZType)
        )
        return pcols, skip

    def _where_pruning(
        self, m: dict, where: list[tuple] | Column | None
    ) -> tuple[list | None, list, list | None, frozenset]:
        """``where`` (clause list or pyspark Column) prepared for
        entry selection against manifest ``m`` — the one prologue
        every pruning path shares: ``(norm, prune, pcols, skip)``.
        ``norm`` is the normalized conjunction (best-effort clauses
        extracted from a Column); ``prune`` adds the hidden-
        partitioning projections (r13: data-column clauses onto
        derived partition keys — PRUNING hints only, the exact
        residual stays the caller's predicate); ``pcols``/``skip``
        come from :meth:`_pcols_for_pruning`."""
        if isinstance(where, Column):
            norm = _normalize_where(_clauses_from_column(where))
        else:
            norm = _normalize_where(where) if where else None
        if not norm:
            return norm, [], None, frozenset()
        pcols, skip = self._pcols_for_pruning(
            m, T.StructType.fromJson(m["schema"])
        )
        prune = norm + self._derived_prune_clauses(m, norm)
        return norm, prune, pcols, skip

    def prune_stats(
        self, where: list[tuple] | Column, version: int | None = None
    ) -> tuple[int, int]:
        """(entries that would be scanned, total live entries) for a
        ``where`` conjunction (tuple list or pyspark Column) — the
        observability hook for data skipping (and the thing tests pin
        so pruning can never silently stop working). The entry half
        of :meth:`prune_file_stats`."""
        out = self.prune_file_stats(where, version)
        return out["entries_scanned"], out["entries_total"]

    def prune_file_stats(
        self, where: list[tuple] | Column, version: int | None = None
    ) -> dict:
        """File-granularity skipping observability (r12), mirroring
        the exact selection :meth:`read` would make for ``where``:
        ``entries_scanned``/``entries_total`` (as
        :meth:`prune_stats`), ``files_scanned``/``files_total`` over
        the entries that CARRY per-file bounds, and
        ``entries_without_file_stats`` — surviving entries whose
        whole directory must be scanned (single-file partitions,
        pre-r12 commits, > file-cap partitions), so a pinning test
        can tell "pruned to 3 files" from "couldn't see files"."""
        m = self.manifest(version)
        _, norm, pcols, skip = self._where_pruning(m, where)
        out = {
            "entries_scanned": 0,
            "entries_total": len(m["entries"]),
            "files_scanned": 0,
            "files_total": 0,
            "entries_without_file_stats": 0,
            # how many of the pruned files the per-file Bloom
            # membership (r16) excluded BEYOND what bounds alone
            # would — "bounds did the work" vs "the filter did" in
            # one number (0 on tables without bloom_cols)
            "files_bloom_pruned": 0,
        }
        for e in m["entries"]:
            fstats = e.get("files")
            if fstats:
                out["files_total"] += len(fstats)
            kept, files = _entry_scan_selection(e, norm, pcols, skip)
            if not kept:
                continue
            out["entries_scanned"] += 1
            if not fstats:
                out["entries_without_file_stats"] += 1
            else:
                n_sel = len(fstats) if files is None else len(files)
                out["files_scanned"] += n_sel
                if any(
                    st.get("bloom") for st in fstats.values()
                ):
                    _, bonly = _entry_scan_selection(
                        e, norm, pcols, skip, use_bloom=False
                    )
                    n_bounds = (
                        len(fstats) if bonly is None else len(bonly)
                    )
                    out["files_bloom_pruned"] += n_bounds - n_sel
        return out

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        change_col: str = "_change_type",
        where: list[tuple] | Column | None = None,
        prune_info: dict | None = None,
    ) -> DataFrame:
        """Row-level incremental scan between two RETAINED versions —
        the CDC-feed read a Delta CDF / Iceberg incremental scan gives
        a downstream consumer, derived here from the manifests alone.
        Returns the ``to_version``-schema columns plus ``change_col``
        (``'insert'`` / ``'delete'``; an updated key appears as one
        delete of its old row and one insert of its new row).

        Cost is O(changed partitions): the manifest diff names exactly
        the partitions whose directory moved between the two versions
        (added, removed, or rewritten), only those are scanned on
        either side, and the multiset diff (a signed-weight groupBy —
        one scan per side, ONE shuffle) moves only their rows.
        Untouched partitions — the overwhelming
        majority of a 100 TB table under delta-sized merges — are
        never listed or read, so an incremental consumer pays for the
        delta, not the table. A compaction rewrites directories
        without changing rows, so its diff is empty (pinned by test):
        consumers see data changes, not maintenance.

        Schema evolution: columns added between the versions are NULL
        on the ``from`` side (the mergeSchema add-only contract);
        a column PRESENT in ``from`` but missing in ``to`` raises —
        the diff cannot be represented in the target schema. A column
        whose TYPE changed raises too, with one carve-out (r16): a
        supported lossless WIDENING (the merge
        ``schema_evolution=True`` type-widening pairs —
        int-chain/float→double/decimal growth) keeps the feed alive:
        the diff is emitted in the ``to`` (wide) schema, the from
        side up-casts losslessly, and rows unchanged except for the
        re-type collapse to zero. Any other change still refuses
        (set-op coercion would silently mask it). Versions
        outside the retain window raise via :meth:`manifest` (listing
        what is still available).

        ``where`` (r12) is the same predicate :meth:`read` accepts —
        a clause conjunction or a pyspark Column. Semantically
        ``changes(...).filter(where)`` (a per-row filter commutes
        with the signed-weight multiset diff, which groups on whole
        rows); operationally the prunable conjuncts skip entries and
        FILES on EACH side via that side's version-scoped stats and
        key values BEFORE anything is listed — a CDF consumer
        filtering for one key range pays O(its range ∩ the delta),
        not O(touched partitions). Clauses naming columns absent
        from the ``from`` schema prune nothing there (the aligned
        side is all-NULL for them; the exact post-alignment filter
        decides). ``prune_info``, if a dict is passed, is filled
        with per-side scanned/total entry counts — the
        ``prune_stats``-style observability hook."""
        man_to = self.manifest(to_version)
        man_from = self.manifest(from_version)
        if man_from["version"] > man_to["version"]:
            raise ValueError(
                f"from_version {man_from['version']} is newer than "
                f"to_version {man_to['version']}"
            )
        to_schema = T.StructType.fromJson(man_to["schema"])
        from_schema = T.StructType.fromJson(man_from["schema"])
        from_types = {f.name: f.dataType for f in from_schema.fields}
        to_names = [f.name for f in to_schema.fields]
        dropped = sorted(set(from_types) - set(to_names))
        if dropped:
            # a TOMBSTONED drop (r13 drop_columns — recorded in the
            # to-manifest) is expressible: the diff projects both
            # sides to the to-schema, and rows differing only in
            # dropped columns collapse — exactly the metadata-only
            # drop's contract (its own commit diffs to ZERO rows,
            # pinned). An out-of-band disappearance still raises.
            tomb = set(man_to.get("dropped_cols", []))
            not_tomb = [c for c in dropped if c not in tomb]
            if not_tomb:
                raise ValueError(
                    f"column(s) {not_tomb} exist at "
                    f"v{man_from['version']} but not at "
                    f"v{man_to['version']}; the diff cannot be "
                    "expressed in the target schema"
                )
        retyped = sorted(
            f.name
            for f in to_schema.fields
            if f.name in from_types and from_types[f.name] != f.dataType
        )
        widened: set = set()
        if retyped:
            # a SUPPORTED widening (r16 — the merge schema_evolution
            # type-widening contract, scale._parquet_widen_ok pairs)
            # keeps the feed alive across the boundary: the diff is
            # expressed in the TO (wide) schema and the from side
            # casts up losslessly, so a CDC tail sees one stable wide
            # type from the widening commit onward. Any OTHER type
            # change still refuses — silent set-op coercion would
            # mask (or garble) the change.
            from .scale import _parquet_widen_ok

            tt = {f.name: f.dataType for f in to_schema.fields}
            not_widened = [
                c
                for c in retyped
                if not _parquet_widen_ok(from_types[c], tt[c])
            ]
            if not_widened:
                raise ValueError(
                    f"column(s) {not_widened} changed type between "
                    f"v{man_from['version']} and v{man_to['version']};"
                    " the evolution contract is add-only with stable"
                    " or losslessly-widened types"
                )
            widened = set(retyped)
        if change_col in to_names:
            raise ValueError(
                f"change_col {change_col!r} collides with a table "
                "column; pass a different name"
            )
        if change_col in ("_w", "_net", "_copy"):
            # change_col='_copy' would be silently overwritten by the
            # explode stage and return copy indexes instead of
            # insert/delete (external review r10)
            raise ValueError(
                f"change_col {change_col!r} is one of the change "
                "scan's internal names ('_w', '_net', '_copy'); pass "
                "a different name"
            )
        internal = sorted({"_w", "_net", "_copy"} & set(to_names))
        if internal:
            # the signed-weight diff below would silently overwrite a
            # table column named '_w' (breaking the multiset groupBy)
            # or '_copy' (replaced by the explode sequence) — loud
            # refusal, same pattern as the _mrg_src guard in merge
            raise ValueError(
                f"table column(s) {internal} collide with the change "
                "scan's internal names ('_w', '_net', '_copy'); "
                "rename them"
            )
        # WHOLE-entry comparison, not dir-only: a file-granular DML
        # whose rewrite output was empty (every row in the matching
        # files deleted) keeps the old dir and changes only the files
        # map — a dir-only diff would silently MISS the change (r14)
        fe = {e["key"]: e for e in man_from["entries"]}
        te = {e["key"]: e for e in man_to["entries"]}
        changed = {
            k for k in fe.keys() | te.keys() if fe.get(k) != te.get(k)
        }
        residual = None
        if isinstance(where, Column):
            residual = where
            norm = _normalize_where(_clauses_from_column(where))
        else:
            norm = _normalize_where(where) if where else None
        if norm:
            # the exact filter runs post-alignment where only
            # TO-schema columns exist; a clause naming a column the
            # to-version lacks (e.g. dropped between the versions)
            # must fail HERE, before the from side pays its scan,
            # not as an unresolved-column error at the end
            # (external review r13)
            gone = sorted({cl[0] for cl in norm} - set(to_names))
            if gone:
                raise ValueError(
                    f"where clause column(s) {gone} do not exist at "
                    f"v{man_to['version']}; a changes() predicate "
                    "must be expressible in the to-version's schema"
                )

        def _side(man: dict, side: str) -> DataFrame:
            ents = [e for e in man["entries"] if e["key"] in changed]
            if prune_info is not None:
                prune_info[f"{side}_entries_total"] = len(ents)
            # only clauses whose column EXISTS at this version can
            # prune or pre-filter here; a conjunct subset is sound
            # (the exact post-alignment filter decides), and read()
            # applies the subset's entry + FILE pruning + residual
            sub = None
            if norm:
                here = {
                    f["name"] for f in man["schema"].get("fields", [])
                }
                # per-side projection: this VERSION's own derived
                # specs (they can differ across the diff boundary)
                cand = norm + self._derived_prune_clauses(man, norm)
                sub = [cl for cl in cand if cl[0] in here] or None
            if sub:
                # entry-level keep only (the SAME decision
                # _entry_scan_selection delegates to, so the counts
                # cannot desync) — building per-file keep lists here
                # just to discard them would double the file-stats
                # evaluation read() performs (code review r12 pass 2)
                pc, sk = self._pcols_for_pruning(
                    man, T.StructType.fromJson(man["schema"])
                )
                ents = [
                    e
                    for e in ents
                    if _entry_may_match(e, sub, pc, sk)
                ]
            if prune_info is not None:
                prune_info[f"{side}_entries_scanned"] = len(ents)
            return self.read(
                manifest_dict={**man, "entries": ents}, where=sub
            )

        old = _side(man_from, "from")
        new = _side(man_to, "to").select(*to_names)
        old = old.select(
            *[
                (
                    # widened boundary: lossless up-cast to the wide
                    # to-type (restricted to _parquet_widen_ok pairs
                    # above); a row unchanged except for the re-type
                    # collapses in the multiset diff, so a pure
                    # widening commit's untouched rows diff to zero
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in widened
                    else F.col(f.name)
                )
                if f.name in old.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in to_schema.fields
            ]
        )
        # multiset diff in ONE shuffle: signed-weight groupBy over all
        # columns, then re-expand |net| copies. Same semantics as the
        # two-sided exceptAll (NULLs group as equal there too) at half
        # the scans — each side's parquet is read once, not twice.
        w = new.withColumn("_w", F.lit(1)).unionByName(
            old.withColumn("_w", F.lit(-1))
        )
        # the EXACT predicate runs once, post-alignment, where every
        # to-schema column exists on both sides — per-side filters
        # above are pruning subsets, never the correctness story
        if residual is not None:
            w = w.filter(residual)
        elif norm:
            w = w.filter(_where_to_filter(norm))
        net = (
            w.groupBy(*to_names)
            .agg(F.sum("_w").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        return (
            net.withColumn(
                change_col,
                F.when(F.col("_net") > 0, F.lit("insert")).otherwise(
                    F.lit("delete")
                ),
            )
            .withColumn(
                "_copy",
                F.explode(F.sequence(F.lit(1), F.abs(F.col("_net")))),
            )
            .select(*to_names, change_col)
        )

    # ---- write ----------------------------------------------------

    def create(
        self,
        df: DataFrame,
        partition_cols: list[str],
        assume_locked: bool = False,
    ) -> int:
        """Initialize the table at version 1 from ``df``. Fails if a
        manifest table already exists here. O(partitions) driver
        metadata (the distinct partition-value collect), one
        partitioned write — the same cost class as any catalog
        registration."""
        if not partition_cols:
            raise ValueError("need at least one partition column")
        if self.current_version() is not None:
            raise ValueError(f"manifest table already exists: {self.path}")
        op = {"name": "create", "partition_cols": list(partition_cols)}
        with (
            nullcontext()
            if assume_locked
            else table_write_lock(self.spark, self.path, holder="create")
        ):
            return self._data_commit(
                df, None, None, op, 2, pcols=partition_cols
            )[1]

    def overwrite_partitions(
        self,
        df: DataFrame,
        touched: list[tuple],
        expected_version: int | None = None,
        retain_versions: int = 2,
        op_info: dict | None = None,
        carry_files: dict[str, dict] | None = None,
    ) -> int:
        """Atomically replace the content of the ``touched`` partitions
        with ``df``'s rows, as one locked :meth:`_data_commit`.
        ``df`` must contain only rows belonging to touched partitions;
        a touched partition with no rows in ``df`` is REMOVED from the
        table (the atomic form of the emptied-partition delete —
        entry dropped from the manifest, no directory deletion racing
        readers). ``expected_version`` is an optimistic lost-update
        check: commit refuses if the table moved since the caller
        read it. Returns the number of touched partitions.

        ``carry_files`` (r14, the file-granular merge/DML hook):
        ``{partition_key: {"files": {carried_key: stats}, "dir":
        old_dir}}`` — for those partitions the new entry references
        the carried files (never read, never rewritten) ALONGSIDE
        whatever ``df`` landed there, entry bounds refolded from the
        merged per-file stats; a carried partition with no ``df``
        rows keeps its carried membership instead of being removed.
        Every carrying partition must be in ``touched``."""
        with table_write_lock(self.spark, self.path, holder="overwrite"):
            return self._data_commit(
                df,
                touched,
                expected_version,
                op_info or {"name": "overwrite_partitions"},
                retain_versions,
                carry_files=carry_files,
            )[1]

    def small_file_report(
        self,
        version: int | None = None,
        manifest_dict: dict | None = None,
    ) -> list[dict]:
        """Per live partition: ``{"key", "values", "files",
        "carried", "rows"}`` — the observability hook that drives
        ``compact(min_files=...)``. File counts come from the
        MANIFEST alone wherever it knows them (the per-file bounds
        map, or the ``nfiles`` count every stats-bearing commit
        records since r13 — including 1-file and past-the-cap
        entries the bounds map omits); only entries the manifest
        cannot answer (pre-r13 commits outside the 2..cap window,
        stats-disabled tables) fall back to one directory listing
        each — O(unknown entries) metadata calls, zero data I/O.
        ``carried`` (r14) counts file-granular DML/merge references
        into older generations: they pin those generations against
        GC until a compaction folds them, so a carried-heavy
        partition is a compaction candidate even at a low file
        count."""
        m = (
            manifest_dict
            if manifest_dict is not None
            else self.manifest(version)
        )
        out: list[dict] = []
        pending: list[tuple[int, str]] = []
        for e in m["entries"]:
            st = e.get("stats") or {}
            fmap = e.get("files")
            n = len(fmap) if fmap else st.get("nfiles")
            out.append(
                {
                    "key": e["key"],
                    "values": tuple(
                        _decode_value(p) for p in e["values"]
                    ),
                    "files": n,
                    # carried references (file-granular DML/merge,
                    # r14): these pin OLD generations alive until a
                    # compaction folds them — a high count makes the
                    # partition a compaction candidate even at a low
                    # file count (the reclaim-on-OPTIMIZE signal)
                    "carried": (
                        sum(1 for k in fmap if "/" in k)
                        if fmap
                        else 0
                    ),
                    "rows": st.get("rows"),
                }
            )
            if n is None:
                pending.append((len(out) - 1, e["dir"]))
        if pending:
            # ONE Spark file-index build over every unknown dir (the
            # parallel JVM-side walk, results back as a single string
            # list) instead of one py4j listStatus round trip per
            # entry — at 10k pre-r13 partitions the per-item walk is
            # minutes of driver stalls (external review r13; the
            # py4j small-file wall)
            import urllib.parse

            schema = T.StructType.fromJson(m["schema"])
            files = (
                self.spark.read.schema(schema)
                .parquet(
                    *[
                        rel if _is_abs_dir(rel) else f"{self.path}/{rel}"
                        for _, rel in pending
                    ]
                )
                .inputFiles()
            )
            counts: dict[str, int] = {}
            for fp in files:
                # inputFiles returns URIs: strip the scheme and UNDO
                # the URI encoding exactly once, recovering the
                # on-disk name (Hive's own %-escaping survives — the
                # URI form double-encodes it). Key by the
                # manifest-relative dir: everything from the LAST
                # "/_data/" on — escaped dir names never contain a
                # literal '/', so the anchor is unambiguous even when
                # the table root itself contains "_data". The full
                # parent path is ALSO keyed so a shallow clone's
                # absolute entries resolve exactly (keys are
                # disjoint: parents start '/', rels '_data/').
                parent = urllib.parse.unquote(
                    urllib.parse.urlparse(fp).path
                ).rsplit("/", 1)[0]
                counts[parent] = counts.get(parent, 0) + 1
                idx = parent.rfind(f"/{_DATA_DIR}/")
                if idx >= 0:
                    rel = parent[idx + 1 :]
                    counts[rel] = counts.get(rel, 0) + 1
            for i, rel in pending:
                if _is_abs_dir(rel):
                    # exact-path hit first, the _data-anchored tail
                    # as the scheme-normalized fallback
                    key = urllib.parse.unquote(
                        urllib.parse.urlparse(rel).path
                    )
                    idx = rel.rfind(f"/{_DATA_DIR}/")
                    tail = rel[idx + 1 :] if idx >= 0 else rel
                    out[i]["files"] = counts.get(
                        key, counts.get(tail, 0)
                    )
                else:
                    out[i]["files"] = counts.get(rel, 0)
        return out

    def compact(
        self,
        retain_versions: int | None = None,
        cluster_by: list[str] | None = None,
        target_records_per_file: int | None = None,
        partitions: list[tuple] | None = None,
        min_files: int | None = None,
        min_carried: int | None = None,
        optimistic: bool = False,
        zorder_by: list[str] | None = None,
        lock_stale_after_seconds: float | None = None,
    ) -> int:
        """Rewrite live partitions into ONE fresh generation — the
        manifest table's compaction maintenance op. Two effects: GC
        can drop generations nothing references anymore (the
        multi-merge read fans out over one scan again), and each
        rewritten partition's many small delta files coalesce.
        Atomic like any commit: readers see the pre- or
        post-compaction version, and the rewrite is semantically a
        no-op (pinned by test). Returns the number of partitions
        rewritten.

        SELECTIVE compaction (r13) is what a 100 TB operator actually
        runs — a streaming CDC sink accretes small files in HOT
        partitions while cold ones never need touching, and a
        full-table rewrite is O(table) I/O:

        - ``partitions=[...]`` (value tuples) rewrites ONLY those
          partitions; every untouched entry is re-referenced in the
          new manifest verbatim — its data files are never read,
          written, or moved (the same mixed-generation mechanics
          every merge commit uses).
        - ``min_files=N`` selects the partitions whose entries hold
          ≥ N files, per :meth:`small_file_report` — the Delta
          ``OPTIMIZE``-style small-file sweep. Combinable with
          ``partitions`` (union). Selecting nothing returns 0
          WITHOUT publishing a version (a no-op sweep must not
          burn a commit).
        - ``min_carried=N`` (r15) selects the partitions whose
          entries hold ≥ N CARRIED references into older generations
          (file-granular DML/merge survivors,
          :meth:`small_file_report`'s ``carried`` column) — the
          reclaim sweep that closes the deletion-vector-lite loop:
          carried refs pin their source generations against GC
          until a compaction localizes them, so a long-running CDC
          sink accretes pinned history exactly where its point
          writes land. Union semantics with ``partitions`` /
          ``min_files``; after the sweep the selected partitions
          hold no carried refs and the formerly pinned generations
          become vacuum-sweepable. Zero extra I/O to evaluate (the
          carried count comes from the manifest's files maps).
        - ``optimistic=True`` routes the rewrite through the staged
          path: the read + shuffle + parquet write + stats all run
          OUTSIDE the write lease (concurrent with live writers),
          and only the manifest publish takes the lock, rebasing
          over disjoint-partition winners like any optimistic merge
          — compaction's read set IS its write set, so the rebase
          conflict check is exact.

        ``retain_versions=None`` (default, r13) KEEPS every currently
        retained version — a bare maintenance call must not truncate
        a 5-version-retention table's history to 2 as a side effect
        (the r10 defaults-that-truncate class); pass an explicit
        window to also GC.

        ``cluster_by`` (r12) is the Delta ``OPTIMIZE ZORDER``-lite:
        rows are range-partitioned and sorted by the named columns
        inside each partition before the rewrite, so the per-file
        min/max bounds the commit records become SELECTIVE for
        predicates on those columns — merge-order file layouts give
        every file near-full-range bounds that prune nothing; a
        clustered rewrite is how file skipping earns its keep. The
        sort rides the write (the alias-aware output ordering means
        ``partitionBy`` adds no re-sort), one shuffle total, no
        per-partition single-task skew (range split spreads a big
        partition over many tasks, each emitting a bounds-disjoint
        file run). For multi-column locality beyond hierarchical
        sort order, use ``zorder_by``.

        ``zorder_by`` (r13) is the full Delta ``OPTIMIZE ZORDER``
        analog for MULTI-column locality — a hierarchical
        ``cluster_by=[a, b]`` sort makes file bounds selective on
        ``a`` but leaves every file near-full-range on ``b``;
        Z-ordering interleaves the bucketed bits of every named
        column so each file stays narrow in ALL of them, and
        predicates on ANY zorder column skip files. The sort key is
        EPHEMERAL — quantization bounds come from the selected
        entries' manifest stats (zero extra I/O; one fallback
        aggregate over the rows being rewritten when a bound is
        missing) and are baked in as literals, so the key is a pure
        shifts/AND expression over table columns that never enters
        the written schema. Same cost class as ``cluster_by``: ONE
        range shuffle, sort rides the write. Numeric AND temporal
        columns (r14): date/timestamp/timestamp_ntz project onto a
        monotone epoch axis inside the ephemeral key (days /
        seconds), so ``zorder_by=["ts", "value"]`` works directly —
        the projection frame can blur edge buckets by one zone
        offset, which costs a little locality and never correctness
        (pruning always comes from the recorded column stats, not
        the key). Other orderable types → ``cluster_by``.

        ``target_records_per_file`` bounds file size via
        ``spark.sql.files.maxRecordsPerFile`` for the rewrite only
        (saved and restored).

        ``lock_stale_after_seconds`` threads into
        :func:`table_write_lock` exactly as on the merge path — a
        caller that runs every write under a stale-break lease (the
        streaming sink) must not have its maintenance sweep hang
        forever on a crashed holder's lock while merges break it
        (external review r13)."""
        ver = self.current_version()
        if ver is None:
            raise ValueError(f"manifest table does not exist: {self.path}")
        man = self.manifest(ver)
        live = {e["key"]: e for e in man["entries"]}
        if min_carried is not None and min_carried < 1:
            raise ValueError("min_carried must be >= 1")
        if partitions is None and min_files is None and min_carried is None:
            sel_keys = list(live)
        else:
            sel = set()
            if partitions is not None:
                for t in partitions:
                    k = _partition_key(tuple(t))
                    if k not in live:
                        raise ValueError(
                            f"partition {tuple(t)!r} is not a live"
                            f" partition of {self.path}"
                        )
                    sel.add(k)
            if min_files is not None or min_carried is not None:
                for r in self.small_file_report(manifest_dict=man):
                    if min_files is not None and r["files"] >= min_files:
                        sel.add(r["key"])
                    elif (
                        min_carried is not None
                        and r["carried"] >= min_carried
                    ):
                        sel.add(r["key"])
            sel_keys = [k for k in live if k in sel]  # manifest order
        if not sel_keys:
            return 0  # nothing selected: no version published
        touched = [
            tuple(_decode_value(p) for p in live[k]["values"])
            for k in sel_keys
        ]
        df = self.read(
            manifest_dict=man,
            partitions=touched if len(sel_keys) < len(live) else None,
        )
        pcols = list(man["partition_cols"])
        if cluster_by and zorder_by:
            raise ValueError(
                "pass cluster_by (hierarchical sort) OR zorder_by"
                " (bit-interleaved multi-column locality), not both"
            )
        if cluster_by:
            missing = [c for c in cluster_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"cluster_by column(s) {missing} not in table"
                    f" schema {df.columns}"
                )
            keys = [F.col(c) for c in pcols] + [
                F.col(c) for c in cluster_by
            ]
            df = df.repartitionByRange(*keys).sortWithinPartitions(
                *pcols, *cluster_by
            )
        elif zorder_by:
            missing = [c for c in zorder_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"zorder_by column(s) {missing} not in table"
                    f" schema {df.columns}"
                )
            in_pcols = [c for c in zorder_by if c in pcols]
            if in_pcols:
                raise ValueError(
                    f"zorder_by column(s) {in_pcols} are partition"
                    " columns — constant within every partition, they"
                    " contribute no locality; drop them from zorder_by"
                )
            bad = [
                c
                for c in zorder_by
                if not isinstance(
                    df.schema[c].dataType,
                    _ZORDER_NUMERIC + _ZORDER_TEMPORAL,
                )
            ]
            if bad:
                raise ValueError(
                    f"zorder_by column(s) {bad} are not numeric or"
                    " temporal — Z-order quantization needs a linear"
                    " (monotone-projectable) domain; use cluster_by"
                    " for other orderable types"
                )
            bounds = _zorder_bounds_from_entries(
                [live[k] for k in sel_keys], zorder_by
            )
            if bounds is None:
                # one bounds aggregate over the rows being rewritten
                # (NaN-blind for float columns — NaN rows are pinned
                # to the top bucket by the key expression instead);
                # temporal columns aggregate on their monotone
                # numeric projection (r14)
                aggs = []
                for c in zorder_by:
                    col = _zorder_numeric_col(c, df.schema[c].dataType)
                    if isinstance(
                        df.schema[c].dataType, (T.FloatType, T.DoubleType)
                    ):
                        col = F.when(~F.isnan(F.col(c)), col)
                    aggs.append(
                        F.min(col).cast("double").alias(f"_lo_{c}")
                    )
                    aggs.append(
                        F.max(col).cast("double").alias(f"_hi_{c}")
                    )
                row = df.agg(*aggs).collect()[0]
                bounds = {
                    c: (row[f"_lo_{c}"], row[f"_hi_{c}"])
                    for c in zorder_by
                }
            zkey = _zorder_sort_key(zorder_by, bounds, df.schema)
            keys = [F.col(c) for c in pcols]
            df = df.repartitionByRange(*keys, zkey).sortWithinPartitions(
                *keys, zkey
            )
        else:
            # hash-repartition on the partition columns so each
            # directory's rows land in ONE task: without this the
            # scan's bin-packed tasks each span many partitions and
            # each writes a file into EVERY dir it touches — a
            # "compaction" that can MULTIPLY small files (task count
            # × dirs; found r13 on the selective path, applies to
            # full rewrites identically). One shuffle, the
            # coalescing Delta's OPTIMIZE bin-packs for. Trade: a
            # giant partition rewrites in a single task —
            # ``cluster_by`` is the parallel (range-split) rewrite
            # for skewed tables.
            df = df.repartition(*[F.col(c) for c in pcols])

        op = {
            "name": "compact",
            "selective": len(sel_keys) < len(live),
            "n_partitions": len(sel_keys),
        }
        if cluster_by:
            op["cluster_by"] = list(cluster_by)
        if zorder_by:
            op["zorder_by"] = list(zorder_by)

        with _max_records_per_file(self.spark, target_records_per_file), (
            nullcontext()
            if optimistic
            else table_write_lock(
                self.spark,
                self.path,
                holder="compact",
                stale_after_seconds=lock_stale_after_seconds,
            )
        ):
            # optimistic: the stage (read + shuffle + write + stats)
            # runs outside the lease, only the publish contends with
            # live writers
            self._data_commit(
                df,
                touched,
                ver,
                op,
                retain_versions,
                optimistic=optimistic,
                lock_stale_after_seconds=lock_stale_after_seconds,
            )
        return len(touched)

    # ---- data commits: stage, then publish --------------------------

    def _data_commit(
        self,
        df: DataFrame,
        touched: list[tuple] | None,
        base_version: int | None,
        op_info: dict,
        retain_versions: int | None,
        optimistic: bool = False,
        carry_files: dict[str, dict] | None = None,
        pcols: list[str] | None = None,
        **lock_kw,
    ) -> tuple[int, int]:
        """THE data commit: :meth:`_stage` the rows, then
        :meth:`_publish_staged` them under the write lease. Every
        generation-writing op (create, overwrite_partitions, compact,
        repartition_table, DML, the manifest merge) makes this one
        call; ``optimistic`` only decides where the stage writes and
        when the lease is taken. Returns ``(new version, partitions
        touched)``.

        - LOCKED (the caller holds the lease): stages straight into
          ``g{cur+1}`` — that name belongs to the lease holder, so the
          publish renames nothing, and a crashed commit leaves an
          unreferenced generation the next commit overwrites.
          ``base_version`` is the lost-update check, made before the
          stage writes: the version the caller read (None skips it).
        - OPTIMISTIC: :meth:`stage_commit` against ``base_version``
          OUTSIDE the lease, then :meth:`commit_staged` (``lock_kw``)
          takes it, rebases over disjoint winners and renames the
          staging in. ANY publish failure aborts the staging, so a
          loser never leaks a parquet copy until the TTL vacuum.

        ``pcols`` names the partition columns when they do not come
        from the current manifest (``create``, and ``repartition_table``
        whose new keyspace replaces every old entry)."""
        _require_json_op_info(op_info)
        if not optimistic:
            cur = self.current_version()
            if base_version is not None and cur != base_version:
                # the lost-update check, before the stage writes
                raise ConcurrentWriterError(
                    f"table {self.path} moved from v{base_version} to "
                    f"v{cur} since the caller read it; recompute the "
                    "merge against the current version"
                )
            staged = self._stage(df, touched, cur, False, carry_files, pcols)
            version = self._publish_staged(staged, retain_versions, op_info)
        else:
            staged = self.stage_commit(
                df,
                touched=touched,
                base_version=base_version,
                carry_files=carry_files,
            )
            try:
                version = self.commit_staged(
                    staged,
                    retain_versions=retain_versions,
                    op_info={**op_info, "optimistic": True},
                    **lock_kw,
                )
            except BaseException:
                self.abort_staged(staged)
                raise
        return version, len(staged["touched"])

    def _stage(
        self,
        df: DataFrame,
        touched: list[tuple] | None,
        base: int | None,
        optimistic: bool,
        carry_files: dict[str, dict] | None = None,
        pcols: list[str] | None = None,
    ) -> dict:
        """Stage a data commit on top of version ``base`` — the one
        place a commit's rows are checked and written: partition
        columns and the reserved ``_p_*`` names, ``''`` partition
        values, the generation write, ``touched`` derived from what
        actually LANDED when it is None (never from a second
        evaluation of ``df``: a nondeterministic df evaluated once
        for distinct() and again for the write could land directories
        absent from touched — rows with no manifest entry; external
        review r10), stray ``carry_files`` keys, the CHECK and
        derived-partition contracts, and the per-entry / per-file
        stats and blooms. All of it is O(written data) and none of it
        needs the lease, so the publish stays metadata-sized.

        An optimistic stage writes a dot-prefixed ``.stage-<uuid>``
        dir — invisible to readers (they follow manifest-named dirs
        only) and to the GC (it sweeps ``gNNNNNNNN`` names only); a
        locked one writes ``g{base+1}``. A refusal or failure after
        the write starts deletes what it wrote. Returns the staging
        token :meth:`_publish_staged` takes."""
        man = self.manifest(base) if base is not None else None
        if man is None and pcols is None:
            raise ValueError(f"manifest table does not exist: {self.path}")
        pcols = list(man["partition_cols"] if pcols is None else pcols)
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(f"partition column(s) {missing} not in df")
        dup = [f"_p_{c}" for c in pcols]
        clash = set(dup) & set(df.columns)
        if clash:
            raise ValueError(
                f"column name(s) {sorted(clash)} are reserved by the "
                "manifest layout; rename them"
            )
        schema_json = json.loads(df.schema.json())
        constraints = (man or {}).get("check_constraints") or {}
        derived = self._derived_spec(man, pcols, schema_json)
        from .scale import _reject_empty_string_partitions

        def check_touched(touched: list[tuple]) -> None:
            _reject_empty_string_partitions(touched, pcols)
            # every carrying partition must be touched: the publish
            # consults carry for TOUCHED partitions only, so a stray
            # key's survivors would be silently unpublished — row
            # loss (advisor r16)
            stray = sorted(
                set(carry_files or ())
                - {_partition_key(t) for t in touched}
            )
            if stray:
                raise ValueError(
                    f"carry_files key(s) {stray} are not in the"
                    " touched partition set — every carrying"
                    " partition must be touched (its entry is"
                    " rebuilt from carry + written files); include"
                    " it in touched or drop the carry entry"
                )

        if touched is not None:
            check_touched(touched)
        if optimistic:
            rel = f"{_DATA_DIR}/.stage-{uuid.uuid4().hex}"
            context = f"staged commit for {self.path}"
        else:
            rel = f"{_DATA_DIR}/g{(base or 0) + 1:08d}"
            context = f"commit v{(base or 0) + 1} of {self.path}"
        staged = df
        for c, d in zip(pcols, dup):
            staged = staged.withColumn(d, F.col(c))
        try:
            staged.write.partitionBy(*dup).parquet(
                f"{self.path}/{rel}", mode="overwrite"
            )
            # the original pcols stay PHYSICAL in the data files, so
            # this is a column-pruned parquet read of what landed — no
            # directory name is parsed back to a value
            back = self.spark.read.schema(staged.schema).parquet(
                f"{self.path}/{rel}"
            )
            if touched is None:
                touched = [
                    tuple(r)
                    for r in back.select(*pcols).distinct().collect()
                ]
                check_touched(touched)
            if constraints or derived:
                # one combined probe for both write contracts (r13)
                _enforce_write_contracts(
                    back, constraints, derived, context
                )
            # stats are keyed by partition VALUE, so the optimistic
            # publish's rename does not invalidate them
            stypes = {f.name: f.dataType for f in staged.schema.fields}
            scols, _ = self._resolve_stats_cols(man, stypes, pcols)
            bcols = self._resolve_bloom_cols(man, stypes, pcols)
            stats_by_key = self._collect_entry_stats(
                back, dup, scols, bcols
            )
        except BaseException:
            _best_effort_delete(self.spark, f"{self.path}/{rel}")
            raise
        return {
            "rel": rel,
            "base_version": base,
            "touched": touched,
            "pcols": pcols,
            "dup": dup,
            "staged_schema": staged.schema,
            "schema_json": schema_json,
            "stats": stats_by_key,
            "carry_files": carry_files,
        }

    def stage_commit(
        self,
        df: DataFrame,
        touched: list[tuple] | None = None,
        base_version: int | None = None,
        read_partitions: list[tuple] | str = "touched",
        carry_files: dict[str, dict] | None = None,
    ) -> dict:
        """Phase 1 of an optimistic commit: :meth:`_stage` ``df`` into
        a GC-invisible staging generation WITHOUT holding the write
        lease — the expensive part (the shuffle, the parquet write,
        the contract probes, the stats aggregation) runs fully
        concurrent with any other writer, the Delta/Iceberg
        optimistic-concurrency model. Returns a staging token for
        :meth:`commit_staged` / :meth:`abort_staged`. A CRASHED
        stager leaves a husk that ``vacuum(staging_ttl_seconds=...)``
        sweeps by age (a concurrent winner's GC never touches it).

        ``df`` must carry the base version's schema: a concurrent
        rebase refuses schema divergence, because evolution and
        optimistic concurrency don't compose — evolve through a
        commit made under the lease. Like every commit,
        ``touched=None`` derives the partition set from what actually
        landed (exactly-once df evaluation). ``base_version`` pins
        the version ``df`` was COMPUTED against when that read
        happened earlier than the staging (the optimistic merge does
        this) — the rebase check must cover every commit since the
        data was read, not since it was staged.

        ``read_partitions`` declares df's READ set — the partitions
        whose contents the staged rows were derived from — because
        the rebase must conflict-check what you READ, not just what
        you write: a summary staged from the whole table must not
        rebase over a winner that changed any source partition (that
        would publish stale derived data as the newest version;
        external review r11). ``"touched"`` (default) = the write
        set, correct when the output is derived only from the
        partitions being replaced (the merge path); an explicit list
        of value tuples widens the check; ``"all"`` = the whole
        table, which makes ANY intervening commit a conflict.

        ``carry_files`` (r15 — optimistic file granularity): the same
        per-partition carried-reference map every locked fg commit
        passes (:meth:`overwrite_partitions`). SOUND under the rebase
        because the carried names were taken from the BASE version's
        entries, every carrying partition is in ``touched``, and the
        rebase conflict check compares whole entry identities (dir +
        files map) — so a rebase only succeeds when those entries are
        bit-identical between base and winner, i.e. exactly when the
        carried references are still valid. The base version staying
        retained (the existing optimistic-writer requirement) keeps
        the carried generations alive until publish re-references
        them."""
        if read_partitions == "touched":
            read_scope, read_keys = "keys", []
        elif read_partitions == "all":
            read_scope, read_keys = "all", []
        elif isinstance(read_partitions, list):
            read_scope = "keys"
            read_keys = [_partition_key(tuple(t)) for t in read_partitions]
        else:
            raise ValueError(
                "read_partitions must be 'touched', 'all', or a list "
                "of partition value tuples"
            )
        base = (
            self.current_version() if base_version is None else base_version
        )
        staged = self._stage(df, touched, base, True, carry_files)
        return {**staged, "read_scope": read_scope, "read_keys": read_keys}

    def commit_staged(
        self,
        staged: dict,
        retain_versions: int | None = 2,
        on_conflict: str = "rebase_disjoint",
        lock_wait_seconds: float = 60.0,
        lock_stale_after_seconds: float | None = None,
        op_info: dict | None = None,
    ) -> int:
        """Phase 2: take the write lease and :meth:`_publish_staged` a
        :meth:`stage_commit` token as the next version. Only the cheap
        part runs under the lease — one directory rename (staging →
        generation), the O(written dirs) metadata walk, and the
        manifest publish; lease hold time is metadata-sized
        regardless of data size.

        If the table moved past the staged base version,
        ``on_conflict="rebase_disjoint"`` re-reads the pointer and
        REBASES: the staged partitions are checked against every
        partition the intervening commits touched (the manifest diff
        names them exactly), and a disjoint write commits on top of
        the winner — both writers make progress, the lost-update
        guarantee intact because an overlap (or a concurrent schema /
        partition-column change, or a base version already GC'd so
        disjointness can't be proven) still raises
        :class:`ConcurrentWriterError`. ``on_conflict="fail"``
        restores the strict lost-update check. Returns the NEW
        VERSION number.

        An optimistic writer needs the base version still retained at
        publish time — run with ``retain_versions >= 2`` (the
        default) so a winner's GC cannot evict it mid-flight.
        ``retain_versions=None`` keeps every currently retained
        version, resolved at publish time under the lock so a rebase
        over intervening winners still truncates nothing (the
        maintenance-op default ``compact(optimistic=True)``
        passes)."""
        if on_conflict not in ("rebase_disjoint", "fail"):
            raise ValueError(
                "on_conflict must be 'rebase_disjoint' or 'fail'"
            )
        _require_json_op_info(op_info)
        with table_write_lock(
            self.spark,
            self.path,
            holder="optimistic-commit",
            wait_seconds=lock_wait_seconds,
            stale_after_seconds=lock_stale_after_seconds,
        ):
            return self._publish_staged(
                staged,
                retain_versions,
                op_info
                or {
                    "name": "staged_commit",
                    "base_version": staged["base_version"],
                    "n_partitions": len(staged["touched"]),
                },
                on_conflict=on_conflict,
            )

    def _publish_staged(
        self,
        staged: dict,
        retain_versions: int | None,
        op_info: dict,
        on_conflict: str = "fail",
    ) -> int:
        """Publish a :meth:`_stage` token as the next version; the
        caller holds the write lease. If the table moved past the
        stage's base — only an optimistic stage can find that, a
        locked one staged at the current version under this lease —
        ``on_conflict`` decides between refusing and the rebase check.
        ``retain_versions=None`` resolves HERE to keep every currently
        retained version, so the window is right even after a rebase
        over winners. An optimistic staging is renamed in as
        ``g{version}``; then :meth:`_finalize_generation` builds and
        publishes the manifest. Returns the new version."""
        cur = self.current_version()
        base = staged["base_version"]
        if cur is None and base is not None:
            raise ValueError(f"manifest table does not exist: {self.path}")
        if cur != base:
            read_all = staged.get("read_scope") == "all"
            if on_conflict == "fail" or read_all:
                raise ConcurrentWriterError(
                    f"table {self.path} moved from v{base} to v{cur}"
                    " since the commit was staged"
                    + (
                        " and the staged df was derived from the "
                        "WHOLE table (read_partitions='all'), so "
                        "any intervening commit invalidates it"
                        if read_all
                        else ""
                    )
                    + "; recompute against the current version"
                )
            # conflict-check the READ set as well as the write set:
            # rebasing must not publish data derived from partitions a
            # winner changed (external review r11)
            self._assert_rebase_safe(
                base,
                cur,
                {_partition_key(t) for t in staged["touched"]}
                | set(staged.get("read_keys", [])),
            )
        version = (cur or 0) + 1
        if retain_versions is None:
            retain_versions = self._keep_current_retain(version)
        gen_rel = f"{_DATA_DIR}/g{version:08d}"
        if staged["rel"] != gen_rel:
            # replaces the husk of a crashed prior commit, if any
            replace_dir(
                self.spark,
                f"{self.path}/{staged['rel']}",
                f"{self.path}/{gen_rel}",
            )
        self._finalize_generation(staged, version, retain_versions, op_info)
        return version

    def abort_staged(self, staged: dict) -> None:
        """Drop an un-committed staging generation (the loser's
        cleanup after a conflict)."""
        discard(self.spark, f"{self.path}/{staged['rel']}")

    def _assert_rebase_safe(
        self, base: int, cur: int, our_keys: set[str]
    ) -> None:
        """Raise unless every commit in ``(base, cur]`` is provably
        disjoint from ``our_keys`` and changed neither schema nor
        partitioning. Conservative by construction: an unprovable
        rebase (base GC'd) fails loudly rather than guessing."""
        try:
            man_base = self.manifest(base)
            man_cur = self.manifest(cur)
        except ValueError as exc:
            raise ConcurrentWriterError(
                f"cannot rebase staged commit on {self.path}: version "
                f"{base} is no longer retained, so disjointness against "
                f"the commits up to v{cur} cannot be verified; size "
                "retain_versions >= 2 for optimistic writers"
            ) from exc
        if man_base["partition_cols"] != man_cur["partition_cols"]:
            raise ConcurrentWriterError(
                f"partition columns of {self.path} changed between "
                f"v{base} and v{cur}; recompute the staged commit"
            )
        if man_base["schema"] != man_cur["schema"]:
            raise ConcurrentWriterError(
                f"schema of {self.path} changed between v{base} and "
                f"v{cur}; schema evolution does not compose with an "
                "optimistic rebase — recompute the staged commit"
            )
        # a concurrent WRITE-CONTRACT change (CHECK constraint or
        # derived-partition spec) is as rebase-hostile as a schema
        # change: the staged rows were validated against the BASE's
        # contracts at stage time, and the publish never re-reads the
        # data (it stays metadata-sized under the lease) — rebasing
        # would publish rows the new contract never saw (r13 review;
        # the window pre-existed for merge/compact and became
        # acute with arbitrary-value optimistic UPDATEs)
        for prop in ("check_constraints", "derived_partitions"):
            if (man_base.get(prop) or {}) != (man_cur.get(prop) or {}):
                raise ConcurrentWriterError(
                    f"{prop} of {self.path} changed between v{base} "
                    f"and v{cur}; the staged rows were validated "
                    "against the old contract — recompute the staged "
                    "commit against the current version"
                )
        # identity = (dir, files map), not dir alone: a file-granular
        # DML whose rewrite output is empty keeps the OLD dir and only
        # shrinks the files map (r14, _finalize_generation) — a
        # dir-only comparison would rebase a staged commit over that
        # delete and resurrect the deleted rows (r15 fix; same
        # whole-entry rule changes() always used)
        be = {
            e["key"]: (e["dir"], e.get("files"))
            for e in man_base["entries"]
        }
        ce = {
            e["key"]: (e["dir"], e.get("files"))
            for e in man_cur["entries"]
        }
        conflicted = {
            k for k in be.keys() | ce.keys() if be.get(k) != ce.get(k)
        }
        overlap = sorted(conflicted & our_keys)
        if overlap:
            raise ConcurrentWriterError(
                f"staged commit on {self.path} overlaps partition(s) "
                f"{overlap[:5]}{'…' if len(overlap) > 5 else ''} touched "
                f"by commit(s) v{base + 1}..v{cur}; recompute the merge "
                "against the current version"
            )

    def _table_props(self, man: dict) -> dict:
        """The persisted table properties ``man`` carries, as
        :meth:`_publish_entries` takes them — create-time
        configuration (and the tombstones / constraints later ALTERs
        add) that every commit carries forward. A key missing from an
        older manifest reads as its default."""
        return {
            "shard_target": man.get("shard_target", self.shard_target),
            "stats_cols": man.get("stats_cols", "auto"),
            "bloom_cols": man.get("bloom_cols"),
            "dropped_cols": man.get("dropped_cols"),
            "check_constraints": man.get("check_constraints"),
            "derived_partitions": man.get("derived_partitions"),
        }

    def _metadata_commit(
        self, holder: str, retain_versions: int | None, edit
    ) -> int:
        """THE path of every METADATA-ONLY commit (restore,
        drop_columns, add_columns, alter_column_type,
        add/drop_check_constraint): zero data I/O, one new manifest
        re-referencing entries. Under the table write lock it reads
        the current version's manifest AS WRITTEN (refusing a missing
        table) and calls ``edit(raw)``, which raises its refusals
        before anything is published, or returns ``{"op": op_info}``
        plus any of ``"schema"``, ``"entries"`` and persisted-property
        overrides (:meth:`_table_props` keys). Every property the edit
        does not override carries forward; entries default to the
        current version's, expanded only then (restore passes its
        target's, so the current version's shards never expand).
        ``retain_versions=None`` keeps every retained version.
        Publishes and returns ``cur + 1``."""
        with table_write_lock(self.spark, self.path, holder=holder):
            cur = self.current_version()
            if cur is None:
                raise ValueError(
                    f"manifest table does not exist: {self.path}"
                )
            raw = self._manifest_raw(cur)
            change = edit(raw)
            op_info = change.pop("op")
            schema = change.pop("schema", raw["schema"])
            entries = change.pop("entries", None)
            if entries is None:
                entries = self.manifest(cur)["entries"]
            if retain_versions is None:
                retain_versions = self._keep_current_retain(cur + 1)
            self._publish_entries(
                cur + 1,
                list(raw["partition_cols"]),
                schema,
                entries,
                retain_versions,
                {**self._table_props(raw), **change},
                op_info,
            )
            return cur + 1

    def restore(
        self,
        version: int,
        retain_versions: int | None = None,
    ) -> int:
        """Roll the table back to retained ``version`` as a NEW commit
        (the `RESTORE TABLE ... TO VERSION` analog) — METADATA-ONLY:
        the new manifest re-references the target version's entries,
        so no data file is read, written, or moved; the referenced
        generations stay live because the new manifest references
        them. Cost: one raw-list read of the current version + the
        target's entry expansion + a small-file write, zero data I/O —
        a 100 TB rollback is a metadata operation.

        ``retain_versions`` defaults to PRESERVING every currently
        retained version (a rollback is the recovery scenario where
        history matters most — it must not truncate it as a side
        effect); pass an explicit window to also GC. Refuses to
        restore across a partition-column change or a non-add-only
        schema change (a dropped/retyped column would silently lose or
        misread the target's data — the same loud contract as
        ``changes()``).

        The restored commit keeps the CURRENT schema (add-only
        evolution: the current schema is a superset; old files
        NULL-backfill later-added columns on read), so the change
        feed stays consistent — `changes(cur, cur+1)` emits exactly
        the rollback diff and a running tail publishes it like any
        commit. Returns the new version number."""

        def edit(cur_raw: dict) -> dict:
            # cur_raw is the current version AS WRITTEN: restore never
            # expands the current version's entry shards (pass-3 rule)
            target = self.manifest(version)  # raises if not retained
            if target["partition_cols"] != cur_raw["partition_cols"]:
                raise ValueError(
                    "cannot restore across a partition-column change"
                )
            cur_types = {
                f["name"]: f["type"] for f in cur_raw["schema"]["fields"]
            }
            dropped = sorted(
                f["name"]
                for f in target["schema"]["fields"]
                if f["name"] not in cur_types
            )
            retyped = sorted(
                f["name"]
                for f in target["schema"]["fields"]
                if f["name"] in cur_types
                and cur_types[f["name"]] != f["type"]
            )
            if dropped or retyped:
                raise ValueError(
                    f"cannot restore v{version}: column(s)"
                    f" {dropped + retyped} were dropped or retyped"
                    " since — the current schema would silently lose"
                    " or misread the target's data; the evolution"
                    " contract is add-only with stable types"
                )
            # the current (superset) schema stays
            return {
                "entries": target["entries"],
                "op": {"name": "restore", "to_version": version},
            }

        return self._metadata_commit("restore", retain_versions, edit)

    def drop_columns(
        self,
        cols: list[str],
        retain_versions: int | None = None,
    ) -> int:
        """Drop non-partition column(s) as a METADATA-ONLY commit
        (r13) — the `ALTER TABLE DROP COLUMN` analog: the new
        manifest re-references every entry unchanged with the columns
        removed from the schema, so no data file is read, written, or
        moved — a 100 TB drop is a small-file write. Readers of the
        new version never see the columns (reads use the manifest
        schema; parquet ignores unselected fields); time travel to
        retained pre-drop versions still sees them (each version
        reads with its own schema); the drop commit itself diffs to
        ZERO rows in ``changes()`` (rows differing only in dropped
        columns collapse under the to-schema projection — pinned).

        The dropped NAMES are TOMBSTONED forever (a persisted
        ``dropped_cols`` table property): retained pre-drop data
        files still carry values under those names, and vanilla
        parquet resolves columns BY NAME — re-adding a dropped name
        would silently resurrect old values in every pre-drop file
        instead of the NULLs an added column promises. This is the
        field-ID problem Iceberg solves in its manifest and plain
        parquet cannot; every later commit refuses a tombstoned name
        (loud, tested). To reclaim a name (or the dead bytes), do
        the full rewrite: ``create`` a fresh table from ``read()``.

        RENAME is deliberately NOT supported — the reasoned no
        (SCALE.md r13): a metadata rename needs per-generation
        physical→logical name maps applied inside ``read``,
        ``changes`` (two versions, each side its own map), stats
        pruning, and filtered tails — one scan per name-epoch
        unioned, a new comparison frame through every driver-side
        bounds path, and every cross-frame comparison so far has
        been a probe-confirmed wrong-result bug (r11/r12). Spell a
        rename as add-new + backfill rewrite + drop-old, or rewrite
        the table; both keep the single-frame invariant.

        ``retain_versions=None`` keeps every currently retained
        version (maintenance-op default). Returns the new version."""

        def edit(raw: dict) -> dict:
            if not cols:
                raise ValueError("drop_columns needs at least one column")
            drop = set(cols)
            pcols = list(raw["partition_cols"])
            in_p = sorted(drop & set(pcols))
            if in_p:
                raise ValueError(
                    f"cannot drop partition column(s) {in_p};"
                    " repartition_table() first"
                )
            names = [f["name"] for f in raw["schema"]["fields"]]
            missing = sorted(drop - set(names))
            if missing:
                raise ValueError(
                    f"column(s) {missing} not in table schema {names}"
                )
            remaining = [
                n for n in names if n not in drop and n not in pcols
            ]
            if not remaining:
                raise ValueError(
                    "cannot drop every non-partition column"
                )
            new_schema = {
                **raw["schema"],
                "fields": [
                    f
                    for f in raw["schema"]["fields"]
                    if f["name"] not in drop
                ],
            }
            # a CHECK constraint referencing a dropped column would
            # make every later commit's validation unresolvable —
            # probe each against the post-drop schema and refuse
            # (drop the constraint first)
            constraints = raw.get("check_constraints") or {}
            if constraints:
                probe = self.spark.createDataFrame(
                    [], T.StructType.fromJson(new_schema)
                )
                for cname, sql in sorted(constraints.items()):
                    try:
                        probe.filter(_check_violation_filter(sql)).schema
                    except Exception as exc:  # noqa: BLE001 — classify
                        raise ValueError(
                            f"cannot drop column(s) {sorted(cols)}:"
                            f" CHECK constraint {cname!r} ({sql})"
                            " references them; drop_check_constraint"
                            f"({cname!r}) first"
                        ) from exc
            # a derived partition whose SOURCE column drops would
            # leave the key unverifiable and the projection pruning
            # on a contract nothing enforces anymore — refuse
            # (repartition_table off the derived key first)
            for dp, spec in sorted(
                (raw.get("derived_partitions") or {}).items()
            ):
                if spec["source"] in drop:
                    raise ValueError(
                        f"cannot drop column(s) {sorted(cols)}:"
                        f" partition column {dp!r} derives from"
                        f" {spec['source']!r}"
                        f" ({spec['transform']});"
                        " repartition_table() off the derived key"
                        " first"
                    )
            stats_cfg = raw.get("stats_cols", "auto")
            if isinstance(stats_cfg, list):
                stats_cfg = [c for c in stats_cfg if c not in drop]

            def _strip_entry(e: dict) -> dict:
                # the manifest is being re-serialized anyway: shed
                # the dropped columns' entry- and file-level bounds
                # now instead of carrying dead bytes until each
                # partition happens to be rewritten (~70 B/col/
                # partition, × up to 1024 files in the files maps;
                # external review r13). Data files stay untouched.
                st = e.get("stats")
                fmap = e.get("files")
                st_hit = bool(st) and bool(drop & set(st.get("cols", {})))
                f_hit = bool(fmap) and any(
                    drop & set(f.get("cols", {}))
                    or drop & set(f.get("bloom") or {})
                    for f in fmap.values()
                )
                if not st_hit and not f_hit:
                    return e
                e2 = dict(e)
                if st_hit:
                    e2["stats"] = {
                        **st,
                        "cols": {
                            k: v
                            for k, v in st["cols"].items()
                            if k not in drop
                        },
                    }
                if f_hit:
                    def _strip_file(f: dict) -> dict:
                        f2 = {
                            **f,
                            "cols": {
                                k: v
                                for k, v in f["cols"].items()
                                if k not in drop
                            },
                        }
                        bl = {
                            k: v
                            for k, v in (f.get("bloom") or {}).items()
                            if k not in drop
                        }
                        if bl:
                            f2["bloom"] = bl
                        else:
                            f2.pop("bloom", None)
                        return f2

                    e2["files"] = {
                        n: _strip_file(f) for n, f in fmap.items()
                    }
                return e2

            entries = self.manifest(raw["version"])["entries"]
            return {
                "schema": new_schema,
                "entries": [_strip_entry(e) for e in entries],
                "stats_cols": stats_cfg,
                "dropped_cols": sorted(
                    set(raw.get("dropped_cols", [])) | drop
                ),
                "bloom_cols": [
                    c for c in raw.get("bloom_cols", []) if c not in drop
                ],
                "op": {"name": "drop_columns", "cols": sorted(cols)},
            }

        return self._metadata_commit("drop-columns", retain_versions, edit)

    def add_columns(
        self,
        cols: dict[str, "str | T.DataType"],
        retain_versions: int | None = None,
    ) -> int:
        """``ALTER TABLE ADD COLUMNS`` (r15): append NULLABLE columns
        to the table schema as a ZERO-data-I/O metadata commit — the
        twin of :meth:`drop_columns`. Every entry is re-referenced
        verbatim (empty change-feed diff, like a compaction); every
        existing row — all partitions, all retained history — reads
        back NULL in the new columns because the manifest's
        explicit-schema scan NULL-backfills files that predate them.
        Time travel to pre-add versions keeps the old shape;
        ``changes()`` across the boundary follows its add-only
        contract. This is the only affordable add-column at 100 TB
        (Delta's metadata-only ADD COLUMNS), and the first step of
        the documented rename recipe: ``add_columns`` → backfill via
        ``update_where(set=...)`` → ``drop_columns`` (SCALE.md r13).

        ``cols`` maps name → DDL type string (``"decimal(10,2)"``) or
        a ``pyspark.sql.types.DataType``. Nullability is forced TRUE
        (history cannot satisfy anything else). Refusals, all
        pre-commit: existing names (including partition columns),
        reserved ``_p_*`` names, and ``drop_columns``-tombstoned
        names (retained pre-drop files still carry values under
        those names — the resurrection guard every commit path
        enforces). A merge with ``schema_evolution=True`` is the
        write-side alternative when the new column arrives WITH data.

        ``retain_versions=None`` keeps every currently retained
        version (maintenance-op default). Returns the new version."""

        def edit(raw: dict) -> dict:
            if not cols:
                raise ValueError("add_columns needs at least one column")
            names = {f["name"] for f in raw["schema"]["fields"]}
            dup = sorted(set(cols) & names)
            if dup:
                raise ValueError(
                    f"column(s) {dup} already exist in the table schema"
                )
            reserved = sorted(
                c for c in cols if c.startswith("_p_")
            )
            if reserved:
                raise ValueError(
                    f"column name(s) {reserved} are reserved by the"
                    " manifest layout; rename them"
                )
            tomb = sorted(set(cols) & set(raw.get("dropped_cols") or []))
            if tomb:
                raise ValueError(
                    f"column name(s) {tomb} were dropped from this"
                    " table and may not be re-added: retained"
                    " pre-drop data files still carry values under"
                    " these names and a name-resolved parquet read"
                    " would resurrect them; pick a fresh name"
                )
            new_fields = []
            for c, t in cols.items():
                if isinstance(t, T.DataType):
                    dt = t
                else:
                    # parse the DDL string through the TYPE parser,
                    # never by interpolating it into SQL text — a
                    # malformed (or crafted) string must fail as
                    # "bad type", not parse as arbitrary expression
                    # SQL (advisor r16)
                    try:
                        dt = T._parse_datatype_string(t)
                    except Exception as exc:  # noqa: BLE001
                        raise ValueError(
                            f"add_columns: {t!r} is not a valid DDL"
                            f" type string for column {c!r}"
                        ) from exc
                new_fields.append(
                    T.StructField(c, dt, True).jsonValue()
                )
            return {
                "schema": {
                    **raw["schema"],
                    "fields": list(raw["schema"]["fields"]) + new_fields,
                },
                "op": {"name": "add_columns", "cols": sorted(cols)},
            }

        return self._metadata_commit("add-columns", retain_versions, edit)

    def alter_column_type(
        self,
        col: str,
        new_type: "str | T.DataType",
        retain_versions: int | None = None,
    ) -> int:
        """``ALTER TABLE ALTER COLUMN TYPE`` — WIDENING only (r16): a
        pure metadata commit, zero data I/O. Every entry re-references
        verbatim (empty change-feed diff — both diff sides up-cast to
        the wide type and unchanged rows collapse); existing narrow
        files read through the new manifest schema via the Spark 4
        parquet widening read, so the supported pairs are exactly
        ``scale._parquet_widen_ok``'s probe-verified set (integral
        up-chain, float→double, byte/short/int→double, decimal
        growth, integral→decimal-with-room). Time travel to pre-alter
        versions keeps the narrow shape. This is the explicit-ALTER
        twin of the write-side path (``merge_into_partitioned(...,
        schema_evolution=True)`` widens when the delta arrives wide);
        use it to widen AHEAD of the data, e.g. before an int column
        approaches 2^31.

        Refusals, all pre-commit: unknown column, partition column
        (its values are the manifest entry keys), derived-partition
        SOURCE column (``bucket`` hashes the column's binary
        representation — xxhash64(int 3) ≠ xxhash64(bigint 3), so a
        widened source would break the enforced derivation), identical
        type (no-op must be loud, not a burned version), and any
        non-widening direction. Returns the new version."""

        def edit(raw: dict) -> dict:
            if isinstance(new_type, T.DataType):
                dt = new_type
            else:
                try:
                    dt = T._parse_datatype_string(new_type)
                except Exception as exc:  # noqa: BLE001
                    raise ValueError(
                        f"alter_column_type: {new_type!r} is not a"
                        " valid DDL type string"
                    ) from exc
            schema = T.StructType.fromJson(raw["schema"])
            names = {f.name for f in schema.fields}
            if col not in names:
                raise ValueError(
                    f"column {col!r} not in table schema"
                )
            if col in raw["partition_cols"]:
                raise ValueError(
                    f"cannot alter partition column {col!r} — its"
                    " values are the manifest entry keys; use"
                    " repartition_table"
                )
            srcs = {
                s["source"]
                for s in (raw.get("derived_partitions") or {}).values()
            }
            if col in srcs:
                raise ValueError(
                    f"cannot alter {col!r}: a partition column"
                    " derives from it and the bucket transform hashes"
                    " the column's binary representation — a widened"
                    " source would break the enforced derivation"
                )
            old = schema[col].dataType
            if old == dt:
                raise ValueError(
                    f"column {col!r} is already"
                    f" {old.simpleString()}"
                )
            from .scale import _parquet_widen_ok

            if not _parquet_widen_ok(old, dt):
                raise ValueError(
                    f"alter_column_type only WIDENS: {col!r} is"
                    f" {old.simpleString()} and"
                    f" {dt.simpleString()} is not a supported"
                    " lossless widening readable over the existing"
                    " parquet files (integral up-chain,"
                    " float→double, int→double, decimal growth,"
                    " integral→decimal-with-room)"
                )
            new_schema = {
                **raw["schema"],
                "fields": [
                    (
                        {**f, "type": dt.jsonValue()}
                        if f["name"] == col
                        else f
                    )
                    for f in raw["schema"]["fields"]
                ],
            }
            return {
                "schema": new_schema,
                "op": {
                    "name": "alter_column_type",
                    "col": col,
                    "from": old.simpleString(),
                    "to": dt.simpleString(),
                },
            }

        return self._metadata_commit("alter-column", retain_versions, edit)

    def check_constraints(self, version: int | None = None) -> dict:
        """The table's CHECK constraints, ``{name: sql}`` — a
        persisted property every generation-writing commit validates
        against."""
        return dict(self.manifest(version).get("check_constraints") or {})

    def add_check_constraint(
        self,
        name: str,
        expr_sql: str,
        retain_versions: int | None = None,
    ) -> int:
        """`ALTER TABLE ADD CONSTRAINT ... CHECK (...)` (r13): persist
        a row-level invariant the table enforces from now on. Delta
        semantics throughout: the EXISTING data must satisfy it (one
        full scan, here, once — refused otherwise with the violation
        count), and every later generation-writing commit validates
        its written rows, O(written data), refusing with
        :class:`CheckConstraintViolation` and leaving the table
        unchanged. A row violates only when the expression evaluates
        FALSE — TRUE and NULL both pass (ANSI CHECK). Metadata-only
        publishes (``restore``/``drop_columns``/constraint edits) are
        not re-validated: their rows were validated when first
        written. Returns the new version."""

        def edit(raw: dict) -> dict:
            if not name or not isinstance(name, str):
                raise ValueError("constraint name must be a non-empty string")
            constraints = dict(raw.get("check_constraints") or {})
            if name in constraints:
                raise ValueError(
                    f"CHECK constraint {name!r} already exists"
                    f" ({constraints[name]}); drop it first to replace"
                )
            # the invariant must hold for the data already here —
            # otherwise every later commit would be born in violation
            current = self.read(version=raw["version"])
            viol = current.filter(_check_violation_filter(expr_sql))
            n = viol.limit(1).count()
            if n:
                total = viol.count()
                raise CheckConstraintViolation(
                    f"cannot add CHECK constraint {name!r}"
                    f" ({expr_sql}): {total} existing row(s) violate"
                    " it; clean the data first"
                )
            constraints[name] = expr_sql
            return {
                "check_constraints": constraints,
                "op": {"name": "add_check_constraint", "constraint": name},
            }

        return self._metadata_commit(
            "add-constraint", retain_versions, edit
        )

    def drop_check_constraint(
        self,
        name: str,
        retain_versions: int | None = None,
    ) -> int:
        """Remove a CHECK constraint — metadata-only. Returns the new
        version."""

        def edit(raw: dict) -> dict:
            constraints = dict(raw.get("check_constraints") or {})
            if name not in constraints:
                raise ValueError(
                    f"no CHECK constraint named {name!r}"
                    f" (have: {sorted(constraints)})"
                )
            constraints.pop(name)
            return {
                "check_constraints": constraints,
                "op": {"name": "drop_check_constraint", "constraint": name},
            }

        return self._metadata_commit(
            "drop-constraint", retain_versions, edit
        )

    def repartition_table(
        self,
        new_partition_cols: list[str],
        retain_versions: int | None = None,
        target_records_per_file: int | None = None,
    ) -> int:
        """Partition evolution (r13) — change the table's partition
        columns as ONE lease-held full rewrite commit (daily→hourly
        being the canonical grown-table migration). Unlike Iceberg's
        metadata-only partition-spec evolution (which needs
        split-planning across mixed specs in every reader), this is
        an explicit O(table) rewrite: the new generation IS the whole
        table, every previous entry is dropped (their keyspace is the
        OLD columns'), and the old generations stay readable for
        retained versions then age out through normal GC.

        The CHANGE FEED stays continuous across the boundary: the
        old partition columns remain ordinary data columns (manifest
        layout keeps them physical), so ``changes(v, v+1)`` across
        the rewrite compares identical rows and emits ZERO — a
        repartition is maintenance, invisible to a tailing consumer
        (pinned). ``restore()`` across it refuses (existing guard)
        and an optimistic writer staged against the old layout fails
        its rebase loudly (``_assert_rebase_safe`` checks
        partition_cols).

        Rows are hash-repartitioned on the new columns before the
        write (the same per-dir-one-task coalescing as ``compact``);
        ``target_records_per_file`` bounds file size for the rewrite.
        ``retain_versions=None`` keeps every currently retained
        version. Returns the new version number."""
        if not new_partition_cols:
            raise ValueError("need at least one partition column")

        def _do() -> int:
            cur = self.current_version()
            if cur is None:
                raise ValueError(
                    f"manifest table does not exist: {self.path}"
                )
            man = self.manifest(cur)
            if list(new_partition_cols) == list(man["partition_cols"]):
                raise ValueError(
                    f"table is already partitioned by"
                    f" {new_partition_cols}; nothing to do"
                )
            names = [f["name"] for f in man["schema"]["fields"]]
            missing = sorted(set(new_partition_cols) - set(names))
            if missing:
                raise ValueError(
                    f"partition column(s) {missing} not in table"
                    f" schema {names}"
                )
            df = self.read(manifest_dict=man).repartition(
                *[F.col(c) for c in new_partition_cols]
            )
            with _max_records_per_file(
                self.spark, target_records_per_file
            ):
                # the one commit recipe: touched=None derives the new
                # keyspace from what landed, and the changed partition
                # columns drop every old-keyspace entry
                return self._data_commit(
                    df,
                    None,
                    cur,
                    {
                        "name": "repartition_table",
                        "new_partition_cols": list(new_partition_cols),
                    },
                    retain_versions,
                    pcols=list(new_partition_cols),
                )[0]

        with table_write_lock(
            self.spark, self.path, holder="repartition"
        ):
            return _do()

    def _probe_update_casts(
        self, base: DataFrame, raws: dict, types: dict, hit: Column
    ) -> None:
        """ANSI-UPDATE cast soundness (external review r13): the SET
        projection casts each expression back to the column's
        declared type with a plain (non-ANSI) cast, which maps
        un-castable values to NULL — ``set={"value": "'oops'"}`` on
        a double column would silently NULL every matched row where
        Delta/ANSI UPDATE fails the statement. Probe (one OR-ed
        LIMIT-1 pass over the rewrite set, the write-contract
        pattern) for any MATCHED row whose expression is non-NULL
        but whose cast result is NULL, and refuse. Columns whose
        expression already analyzes to the declared type skip the
        probe entirely (identity cast — decided driver-side, no
        job), so a same-type UPDATE pays nothing.

        Wrap safety (r16): the runtime probe only catches casts that
        NULL — with ANSI off a same-family NARROWING cast (bigint
        expr → int column, double → float, decimal scale loss)
        silently wraps/truncates INSTEAD of NULLing, so it would slip
        through. Those are refused DRIVER-SIDE from the resolved
        expression type (``scale._cast_class``), before any job;
        lossless widening casts skip the probe (they cannot NULL)."""
        from .scale import _cast_class

        probe_schema = base.select(
            *[raws[n].alias(n) for n in sorted(raws)]
        ).schema
        suspects = []
        for n in sorted(raws):
            et = probe_schema[n].dataType
            cls = _cast_class(et, types[n])
            if cls in ("identical", "widen"):
                continue  # lossless — no probe needed
            if cls == "wrap":
                raise ValueError(
                    f"update_where SET expression for {n!r} analyzes"
                    f" to {et.simpleString()} but the declared column"
                    f" type is {types[n].simpleString()}; with ANSI"
                    " off this cast silently wraps/truncates values"
                    " that do not fit — the statement was refused and"
                    " the table is unchanged. Cast explicitly inside"
                    " the expression if the narrowing is intended"
                )
            suspects.append(n)  # cross-family: runtime NULL-probe
        if not suspects:
            return
        import functools
        import operator

        def _viol(n: str) -> Column:
            return raws[n].isNotNull() & raws[n].cast(types[n]).isNull()

        combined = functools.reduce(
            operator.or_, [_viol(n) for n in suspects]
        )
        if base.filter(hit & combined).limit(1).count() == 0:
            return
        detail = []
        for n in suspects:
            c = base.filter(hit & _viol(n)).count()
            if c:
                detail.append(
                    f"{n!r} (declared"
                    f" {types[n].simpleString()}): {c} row(s)"
                )
        raise ValueError(
            "update_where SET expression(s) do not cast cleanly to"
            " the declared column type(s): " + "; ".join(detail)
            + " — the statement was refused and the table is"
            " unchanged (ANSI UPDATE fails on un-castable values; a"
            " plain cast would have silently written NULLs). Cast"
            " explicitly inside the expression if NULLing is"
            " intended."
        )

    def delete_where(
        self,
        where: list[tuple] | Column,
        retain_versions: int | None = None,
        count_matched: bool = True,
        optimistic: bool = False,
        file_granular: bool = True,
        lock_stale_after_seconds: float | None = None,
    ) -> dict:
        """Delta-shaped ``DELETE FROM table WHERE ...`` (r13): remove
        the rows matching ``where`` in ONE atomic commit, touching as
        little data as the predicate allows:

        - entries the predicate provably CANNOT match (stats, pcol
          values, hidden-partitioning projection) carry forward
          verbatim — never read, never written;
        - entries a tuple-``where`` of ONLY partition-column clauses
          matches ENTIRELY (every clause exactly true for the key,
          :func:`_pcol_clause_exact`) are DROPPED metadata-only —
          deleting a whole partition is O(1) data I/O, the Delta
          partition-delete fast path;
        - entries whose per-FILE bounds prove a strict subset of
          their files can match rewrite ONLY those files
          (``file_granular``, r14 — deletion-vector-lite): the
          other files carry forward byte-identically as carried
          references inside the same entry, so a point delete in a
          clustered 10 GB partition touches one file, not the
          partition. Run ``compact()`` on the partition to fold
          carried references back into a clean local generation
          (until then the referenced old generations stay alive —
          the same reclaim-on-OPTIMIZE contract as Delta deletion
          vectors, without their read-side merge tax);
        - everything else rewrites: the partition's KEPT rows (``NOT
          coalesce(pred, false)`` — SQL DELETE keeps NULL-predicate
          rows) land in the fresh generation; a partition whose rows
          are all deleted drops out (the emptied-partition mechanics
          every merge uses).

        Returns ``{"rows_deleted", "entries_dropped",
        "entries_rewritten", "entries_file_scoped",
        "files_rewritten", "files_carried", "entries_untouched"}``
        (``entries_rewritten`` counts file-scoped entries too — it
        is the touched-partition count). The change feed
        sees real deletes (this is DML, not maintenance); CHECK
        constraints and derived-partition contracts revalidate the
        rewritten rows like any commit. ``retain_versions=None``
        keeps current retention.

        ``rows_deleted`` derives from manifest row-count deltas when
        stats allow (zero extra I/O) — ``count_matched=False`` skips
        the fallback predicate pass and may return None.

        ``optimistic=True`` stages the rewrite OUTSIDE the write
        lease and publishes via the rebase-over-disjoint-winners
        path. The serialization trade is PARTITION-granular: rows a
        concurrent disjoint writer lands are untouched by this
        statement even when they match the predicate, and a
        concurrent contract change refuses the rebase. Run the
        locked default for predicate-serializable DML. File
        granularity applies on BOTH paths (r15): the optimistic
        publish carries survivor references through
        ``stage_commit(carry_files=)``, sound because the rebase
        compares whole entry identities (dir + files map) — it
        succeeds only when the carrying entries are bit-identical
        between base and winner, exactly when the carried references
        are still valid; an fg-vs-fg race on the same partition
        conflicts and the loser recomputes.

        ``lock_stale_after_seconds`` threads into the write lease
        exactly as on compact/merge — for callers running every
        write under a stale-break lease (the streaming sink's TTL
        sweep)."""
        return self._dml_rewrite(
            where, None, retain_versions, count_matched, optimistic,
            file_granular, lock_stale_after_seconds,
        )

    def update_where(
        self,
        where: list[tuple] | Column,
        set: dict[str, "Column | str"],
        retain_versions: int | None = None,
        count_matched: bool = True,
        optimistic: bool = False,
        file_granular: bool = True,
        lock_stale_after_seconds: float | None = None,
    ) -> dict:
        """Delta-shaped ``UPDATE table SET col = expr WHERE ...``
        (r13): rewrite matching rows' named columns in ONE atomic
        commit. Non-matching entries (stats / pcol / projection
        pruned) carry forward verbatim; when per-FILE bounds prove a
        strict subset of an entry's files can match, only those
        files rewrite and the rest carry forward byte-identically
        (``file_granular``, r14 — same contract as on
        :meth:`delete_where`); matching scopes rewrite
        with ``CASE WHEN pred THEN expr ELSE col END`` projections
        (expression strings see the table's own columns; results are
        cast back to the column's declared type, refused when the
        cast would NULL a non-NULL value). Partition columns
        and derived-partition SOURCE columns are refused — an update
        that moves rows across partitions is a MERGE
        (``merge_into_partitioned``), and a source update would
        break the enforced derivation. NULL-predicate rows update
        nothing (SQL semantics). Returns ``{"rows_updated",
        "entries_rewritten", "entries_file_scoped",
        "files_rewritten", "files_carried", "entries_untouched"}`` —
        ``rows_updated`` costs one predicate pass over the rewrite
        set; ``count_matched=False`` skips it (returns None).
        ``optimistic=True`` has the same partition-granular
        serialization contract documented on :meth:`delete_where`."""
        if not set:
            raise ValueError("update_where needs a non-empty set=")
        return self._dml_rewrite(
            where, dict(set), retain_versions, count_matched,
            optimistic, file_granular, lock_stale_after_seconds,
        )

    def _dml_rewrite(
        self,
        where,
        set_cols: dict | None,
        retain_versions: int | None,
        count_matched: bool = True,
        optimistic: bool = False,
        file_granular: bool = True,
        lock_stale_after_seconds: float | None = None,
    ) -> dict:
        def _do(ver: int) -> dict:
            man = self.manifest(ver)
            schema = T.StructType.fromJson(man["schema"])
            pcols = list(man["partition_cols"])
            pset = set(pcols)
            if set_cols is not None:
                bad = sorted(set(set_cols) - {f.name for f in schema.fields})
                if bad:
                    raise ValueError(
                        f"update_where set column(s) {bad} not in"
                        f" table schema"
                    )
                in_p = sorted(set(set_cols) & pset)
                if in_p:
                    raise ValueError(
                        f"update_where cannot set partition column(s)"
                        f" {in_p} — rows would move across partitions;"
                        " use merge_into_partitioned"
                    )
                srcs = {
                    s["source"]: p
                    for p, s in (
                        man.get("derived_partitions") or {}
                    ).items()
                }
                hit = sorted(set(set_cols) & set(srcs))
                if hit:
                    raise ValueError(
                        f"update_where cannot set {hit}: partition"
                        f" column(s) {[srcs[c] for c in hit]} derive"
                        " from them; use merge_into_partitioned"
                    )
            norm, prune, pc, sk = self._where_pruning(man, where)
            if isinstance(where, Column):
                residual = where
                exact_pcol_only = False  # full predicate unknown here
            else:
                residual = None
                if not norm:
                    raise ValueError("DML needs a non-empty where")
                exact_pcol_only = all(cl[0] in pset for cl in norm)
            untouched = 0
            dropped: list[tuple] = []
            rewrite: list[tuple] = []
            fg_touched: list[tuple] = []
            fg_carry: dict[str, dict] = {}
            fg_paths: list[str] = []
            files_rewritten = 0
            files_carried = 0
            dropped_rows = 0
            dropped_rows_known = True
            rw_rows = 0
            rw_rows_known = True
            for e in man["entries"]:
                if not _entry_may_match(e, prune, pc, sk):
                    untouched += 1
                    continue
                if "values" not in e:
                    # pre-values manifest shape: a rewrite needs the
                    # key to address the partition — refuse loudly
                    # rather than mis-target (r13 review)
                    raise ValueError(
                        f"entry {e.get('key')!r} carries no partition"
                        " values (pre-values manifest shape); run"
                        " compact() via a modern commit first"
                    )
                vals = tuple(_decode_value(p) for p in e["values"])
                if set_cols is None and exact_pcol_only:
                    byname = dict(zip(pcols, vals))
                    if all(
                        _pcol_clause_exact(byname[c], op, v) is True
                        for c, op, v in norm
                    ):
                        # whole-partition delete: metadata-only drop
                        dropped.append(vals)
                        rows = (e.get("stats") or {}).get("rows")
                        if rows is None:
                            dropped_rows_known = False
                        else:
                            dropped_rows += rows
                        continue
                # FILE-granular rewrite (r14, deletion-vector-lite):
                # when the entry's per-file bounds prove a STRICT
                # subset of its files can match, rewrite only those
                # files and carry the rest forward byte-identically
                # inside the same entry — a point DELETE in a hot
                # clustered partition touches one file, not the
                # partition. A carried file's bounds exclude at least
                # one CONJUNCT of the predicate, so none of its rows
                # can satisfy the full conjunction (the same
                # guarantee read() already banks on). The OPTIMISTIC
                # path carries too (r15): the rebase compares whole
                # entry identities (dir + files map), so a rebase
                # succeeds only when the carrying entries are
                # bit-identical between base and winner — exactly
                # when the carried references are still valid
                # (stage_commit's carry_files contract).
                fmap = e.get("files")
                if file_granular and fmap:
                    _, sel = _entry_scan_selection(e, prune, pc, sk)
                    if sel is not None and len(sel) < len(fmap):
                        r = (e.get("stats") or {}).get("rows")
                        if not sel:
                            # entry-level bounds admitted the
                            # predicate but no FILE's do — provably
                            # untouched, zero I/O
                            untouched += 1
                            continue
                        paths, carried = _file_scoped_carry(
                            self.path, e, sel
                        )
                        fg_paths.extend(paths)
                        fg_carry[_partition_key(vals)] = carried
                        fg_touched.append(vals)
                        files_rewritten += len(sel)
                        files_carried += len(carried["files"])
                        if r is None:
                            rw_rows_known = False
                        else:
                            rw_rows += r
                        continue
                rewrite.append(vals)
                r = (e.get("stats") or {}).get("rows")
                if r is None:
                    rw_rows_known = False
                else:
                    rw_rows += r
            counts = {
                "entries_dropped": len(dropped),
                "entries_rewritten": len(rewrite) + len(fg_touched),
                "entries_file_scoped": len(fg_touched),
                "files_rewritten": files_rewritten,
                "files_carried": files_carried,
                "entries_untouched": untouched,
            }
            if not dropped and not rewrite and not fg_touched:
                # predicate matches nothing: no version published
                key = "rows_deleted" if set_cols is None else "rows_updated"
                return {key: 0, **counts}
            pred = (
                residual
                if residual is not None
                else _where_to_filter(norm)
            )
            df = None
            matched = None
            # DELETE's matched count derives from METADATA when the
            # rewrite entries carry row counts: old rows - rows
            # written (read post-commit) - no extra scan. UPDATE's
            # count (rows unchanged) genuinely needs one predicate
            # pass; count_matched=False skips it for the
            # 100 TB-frugal caller (r13 code review: the old code
            # always paid a full second scan of the rewrite set)
            meta_delete = (
                set_cols is None and rw_rows_known and dropped_rows_known
            )
            if rewrite or fg_paths:
                parts = []
                if rewrite:
                    parts.append(
                        self.read(manifest_dict=man, partitions=rewrite)
                    )
                if fg_paths:
                    # the file-scoped scan reads ONLY the may-match
                    # files; pcols are physical in the data files so
                    # the rows come back complete
                    parts.append(
                        self.spark.read.schema(schema).parquet(
                            *sorted(set(fg_paths))
                        )
                    )
                base = (
                    parts[0]
                    if len(parts) == 1
                    else parts[0].unionByName(parts[1])
                )
                if count_matched and not meta_delete:
                    matched = base.filter(pred).count()
                if set_cols is None:
                    df = base.filter(~F.coalesce(pred, F.lit(False)))
                else:
                    # ONE select: every SET right-hand side AND the
                    # predicate evaluate against the PRE-update row —
                    # SQL UPDATE semantics. Sequential withColumn
                    # would feed already-updated values into later
                    # expressions and re-evaluate the predicate on
                    # them (set={"a": "b", "b": "a"} must swap;
                    # r13 code review)
                    types = {f.name: f.dataType for f in schema.fields}
                    hit = F.coalesce(pred, F.lit(False))
                    raws = {
                        n: (F.expr(x) if isinstance(x, str) else x)
                        for n, x in set_cols.items()
                    }
                    self._probe_update_casts(base, raws, types, hit)
                    projs = []
                    for f in schema.fields:
                        if f.name in set_cols:
                            val = raws[f.name].cast(types[f.name])
                            projs.append(
                                F.when(hit, val)
                                .otherwise(F.col(f.name))
                                .alias(f.name)
                            )
                        else:
                            projs.append(F.col(f.name))
                    df = base.select(*projs)
            if df is None:
                df = self.spark.createDataFrame([], schema)
            touched = rewrite + fg_touched + dropped
            op = {
                "name": "delete" if set_cols is None else "update",
                "n_partitions": len(touched),
            }
            if fg_touched:
                op["file_scoped"] = len(fg_touched)
            # optimistic: the rewrite stages OUTSIDE the lease and the
            # publish rebases over partition-disjoint winners exactly
            # like an optimistic merge/compact. Serialization is at
            # PARTITION granularity: rows a disjoint concurrent writer
            # lands are untouched by this statement even when they
            # match the predicate — run the locked path for
            # predicate-serializable DML.
            newv, _ = self._data_commit(
                df,
                touched,
                ver,
                op,
                retain_versions,
                optimistic=optimistic,
                carry_files=fg_carry or None,
                lock_stale_after_seconds=lock_stale_after_seconds,
            )
            if set_cols is None:
                if meta_delete:
                    tkeys = {_partition_key(t) for t in touched}
                    new_rows = 0
                    for e in self.manifest(newv)["entries"]:
                        if e["key"] in tkeys:
                            r = (e.get("stats") or {}).get("rows")
                            if r is None:
                                new_rows = None
                                break
                            new_rows += r
                    counts["rows_deleted"] = (
                        rw_rows + dropped_rows - new_rows
                        if new_rows is not None
                        else None
                    )
                elif matched is not None and dropped_rows_known:
                    counts["rows_deleted"] = matched + dropped_rows
                else:
                    counts["rows_deleted"] = None
            else:
                counts["rows_updated"] = matched
            return counts

        # optimistic: the whole evaluation runs lock-free; only the
        # publish contends
        with scoped_conf(self.spark, ENGINE_SQL_CONF), (
            nullcontext()
            if optimistic
            else table_write_lock(
                self.spark,
                self.path,
                holder="dml",
                stale_after_seconds=lock_stale_after_seconds,
            )
        ):
            return _do(self.current_version())

    def verify_table(
        self, version: int | None = None, deep: bool = False
    ) -> dict:
        """Integrity audit of one version against the store — the ops
        tool an operator runs before trusting a restore, after an
        object-store incident, or on a shallow clone whose source may
        have been vacuumed (r13). Checks, cheapest first:

        - every entry directory EXISTS (O(entries) metadata calls —
          an audit, not a hot path);
        - every name in an entry's per-file bounds map exists on disk
          (same listing);
        - ``deep=True`` additionally READS the version once: per-entry
          actual row counts vs the manifest's recorded counts, and
          the write contracts (CHECK constraints + derived-partition
          derivations) re-probed over current data — O(table), the
          honest cost of distrust.

        Returns ``{"ok", "problems": [...], "entries_checked",
        "files_checked"}``; each problem is a dict with a ``kind``
        (``missing_dir`` / ``missing_file`` / ``row_count_mismatch``
        / ``contract_violation``) and locators. Never raises on a
        finding — an audit reports."""
        import urllib.parse

        m = self.manifest(version)
        problems: list[dict] = []
        files_checked = 0
        for e in m["entries"]:
            base = (
                e["dir"]
                if _is_abs_dir(e["dir"])
                else f"{self.path}/{e['dir']}"
            )
            fs, jdir = _hadoop_fs(self.spark, base)
            if not fs.exists(jdir):
                problems.append(
                    {"kind": "missing_dir", "key": e["key"], "dir": base}
                )
                continue
            names = {
                st.getPath().getName() for st in fs.listStatus(jdir)
            }
            for fname in e.get("files") or {}:
                files_checked += 1
                if "/" in fname:
                    # carried key (file-granular DML, r14): lives
                    # outside the entry's dir — one existence check
                    # at its resolved location
                    target = _resolve_entry_file(
                        self.path, base, fname
                    )
                    cfs, cj = _hadoop_fs(self.spark, target)
                    if not cfs.exists(cj):
                        problems.append(
                            {
                                "kind": "missing_file",
                                "key": e["key"],
                                "dir": base,
                                "file": fname,
                            }
                        )
                elif fname not in names:
                    problems.append(
                        {
                            "kind": "missing_file",
                            "key": e["key"],
                            "dir": base,
                            "file": fname,
                        }
                    )
            # per-file Bloom blobs (r16): structurally valid base64
            # of exactly m/8 bytes — a truncated or corrupt blob
            # would silently ADMIT every probe (the conservative
            # decode path), so the audit is where it gets caught
            import base64 as _b64

            for fname, st in (e.get("files") or {}).items():
                for c, bl in (st.get("bloom") or {}).items():
                    try:
                        raw = _b64.b64decode(
                            bl["b"], validate=True
                        )
                        ok_blob = len(raw) == (bl["m"] + 7) // 8
                    except Exception:  # noqa: BLE001
                        ok_blob = False
                    if not ok_blob:
                        problems.append(
                            {
                                "kind": "corrupt_bloom",
                                "key": e["key"],
                                "file": fname,
                                "col": c,
                            }
                        )
        if deep and not any(
            p["kind"] == "missing_dir" for p in problems
        ):
            df = self.read(manifest_dict=m)
            per_file = (
                df.groupBy(F.input_file_name().alias("_f"))
                .count()
                .collect()
            )
            per_dir: dict[str, int] = {}
            per_path: dict[str, int] = {}
            for r in per_file:
                p = urllib.parse.unquote(
                    urllib.parse.urlparse(r["_f"]).path
                )
                per_path[p] = per_path.get(p, 0) + r["count"]
                fidx = p.rfind(f"/{_DATA_DIR}/")
                if fidx >= 0:
                    per_path[p[fidx + 1 :]] = (
                        per_path.get(p[fidx + 1 :], 0) + r["count"]
                    )
                parent = p.rsplit("/", 1)[0]
                per_dir[parent] = per_dir.get(parent, 0) + r["count"]
                idx = parent.rfind(f"/{_DATA_DIR}/")
                if idx >= 0:
                    rel = parent[idx + 1 :]
                    per_dir[rel] = per_dir.get(rel, 0) + r["count"]

            def _lookup(pmap: dict, raw: str) -> int:
                if _is_abs_dir(raw):
                    p = urllib.parse.unquote(
                        urllib.parse.urlparse(raw).path
                    )
                else:
                    p = raw
                idx2 = p.rfind(f"/{_DATA_DIR}/")
                tail = p[idx2 + 1 :] if idx2 >= 0 else p
                return pmap.get(p, pmap.get(tail, 0))

            for e in m["entries"]:
                want = (e.get("stats") or {}).get("rows")
                if want is None:
                    continue
                d = e["dir"]
                if _has_carried_files(e):
                    # a file-granular entry's rows span SEVERAL dirs
                    # — sum per-FILE over its exact membership (r14)
                    got = sum(
                        _lookup(
                            per_path,
                            _resolve_entry_file(self.path, d, n),
                        )
                        for n in e["files"]
                    )
                elif _is_abs_dir(d):
                    key = urllib.parse.unquote(
                        urllib.parse.urlparse(d).path
                    )
                    idx = d.rfind(f"/{_DATA_DIR}/")
                    tail = d[idx + 1 :] if idx >= 0 else d
                    got = per_dir.get(key, per_dir.get(tail, 0))
                else:
                    got = per_dir.get(d, 0)
                if got != want:
                    problems.append(
                        {
                            "kind": "row_count_mismatch",
                            "key": e["key"],
                            "recorded": want,
                            "actual": got,
                        }
                    )
            constraints = m.get("check_constraints") or {}
            derived = m.get("derived_partitions") or {}
            if constraints or derived:
                try:
                    _enforce_write_contracts(
                        df,
                        constraints,
                        derived,
                        f"verify_table of {self.path}",
                    )
                except CheckConstraintViolation as exc:
                    problems.append(
                        {
                            "kind": "contract_violation",
                            "detail": str(exc),
                        }
                    )
        return {
            "ok": not problems,
            "problems": problems,
            "entries_checked": len(m["entries"]),
            "files_checked": files_checked,
        }

    def clone_to(
        self,
        dest_path: str,
        version: int | None = None,
        deep: bool = False,
    ) -> "ManifestTable":
        """Clone the table at ``version`` (default current) to
        ``dest_path`` — the Delta ``CREATE TABLE ... CLONE`` analog
        (r13).

        SHALLOW (default): a METADATA-ONLY v1 commit whose entries
        point at the SOURCE's data files by ABSOLUTE location — zero
        data I/O, O(entries) driver work, instant even at 100 TB.
        The clone is immediately writable: merges and selective
        compaction carry absolute entries forward verbatim and land
        their own local generations beside them (the same
        mixed-generation mechanics every commit uses), GC never
        touches foreign locations (``_is_abs_dir`` entries are
        excluded from the referenced-generation summary and the
        sweep only lists the clone's own ``_data``), and compacting
        a cloned partition LOCALIZES it. Caveat — the same one Delta
        documents: the clone BORROWS the source's files, so a source
        ``vacuum``/``compact`` that GCs the referenced generations
        breaks it. Shallow clones are dev/test forks; deep-clone (or
        selectively compact hot partitions local) before relying on
        one long-term.

        DEEP: every referenced entry directory is byte-copied into
        the clone's own ``_data/g00000001/`` via Hadoop
        ``FileUtil.copy`` (filesystem-streamed, never decoded/
        re-encoded — per-entry stats and per-file bounds stay valid
        verbatim), making the clone fully self-contained. O(table
        bytes) by nature, driver-looped per entry dir.

        Either way the clone starts at version 1 carrying the
        source's schema, partition columns, stats config,
        dropped-column tombstones, and CHECK constraints."""
        import copy as _copy
        man = self.manifest(version)
        props = self._table_props(man)
        dest = ManifestTable(
            self.spark, dest_path, shard_target=props["shard_target"]
        )
        if dest.current_version() is not None:
            raise ValueError(
                f"manifest table already exists: {dest.path}"
            )
        if _is_abs_dir(self.path):
            src_base = self.path
        else:
            # a RELATIVE table path resolves through the Hadoop
            # FileSystem (fs.makeQualified) — the same resolution
            # Spark's writers use — NOT driver-local
            # os.path.abspath: when the default FS is HDFS/S3A, a
            # driver-local absolute path would make every borrowed
            # entry point at a nonexistent local file (external
            # review r13)
            sfs, sjp = _hadoop_fs(self.spark, self.path)
            src_base = sfs.makeQualified(sjp).toString()
        entries = _copy.deepcopy(man["entries"])
        if deep:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            gen_rel = f"{_DATA_DIR}/g{1:08d}"
            for e in entries:
                d = e["dir"]
                src_abs = d if _is_abs_dir(d) else f"{src_base}/{d}"
                idx = src_abs.rfind(f"/{_DATA_DIR}/")
                # live entries are unique per partition key, so the
                # post-generation subpath is collision-free inside
                # the clone's single g1 generation
                sub = src_abs[idx + 1 :].split("/", 2)[2]
                new_rel = f"{gen_rel}/{sub}"
                sfs, sj = _hadoop_fs(self.spark, src_abs)
                dfs, dj = _hadoop_fs(
                    self.spark, f"{dest.path}/{new_rel}"
                )
                dfs.mkdirs(dj.getParent())
                ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
                    sfs, sj, dfs, dj, False, conf
                )
                if not ok:
                    raise IOError(
                        f"deep clone copy failed for {src_abs}"
                    )
                if _has_carried_files(e):
                    # file-granular entry (r14): the dir copy above
                    # got only the LOCALLY-written files — also copy
                    # each carried file into the clone's partition
                    # dir and re-key it to a plain basename. The dir
                    # copy may have brought along SUPERSEDED files
                    # the membership excludes; the exact files map
                    # keeps them invisible (and they are small — a
                    # compact() sheds them).
                    newmap: dict = {}
                    for n, stv in e["files"].items():
                        if "/" not in n:
                            newmap[n] = stv
                            continue
                        cf_abs = _resolve_entry_file(
                            src_base, src_abs, n
                        )
                        bn = n.rsplit("/", 1)[-1]
                        if bn in newmap or bn in e["files"]:
                            raise IOError(
                                f"deep clone basename collision for"
                                f" {cf_abs} in {new_rel}"
                            )
                        cfs, cj = _hadoop_fs(self.spark, cf_abs)
                        ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
                            cfs, cj, dfs,
                            jvm.org.apache.hadoop.fs.Path(
                                f"{dest.path}/{new_rel}/{bn}"
                            ),
                            False, conf,
                        )
                        if not ok:
                            raise IOError(
                                f"deep clone copy failed for {cf_abs}"
                            )
                        newmap[bn] = stv
                    e["files"] = newmap
                e["dir"] = new_rel
        else:
            for e in entries:
                if not _is_abs_dir(e["dir"]):
                    e["dir"] = f"{src_base}/{e['dir']}"
                if _has_carried_files(e):
                    # table-root-relative carried keys must follow
                    # the dir out: absolutize them against the SOURCE
                    # root so the borrowed membership stays resolvable
                    # from the clone (r14)
                    e["files"] = {
                        (
                            n
                            if _is_abs_dir(n) or "/" not in n
                            else f"{src_base}/{n}"
                        ): v
                        for n, v in e["files"].items()
                    }
        with table_write_lock(self.spark, dest.path, holder="clone"):
            if dest.current_version() is not None:
                raise ValueError(
                    f"manifest table already exists: {dest.path}"
                )
            dest._publish_entries(
                1,
                list(man["partition_cols"]),
                man["schema"],
                entries,
                retain_versions=2,
                props=props,
                op_info={
                    "name": "clone",
                    "source": self.path,
                    "source_version": man["version"],
                    "deep": deep,
                },
            )
        return dest

    def vacuum(
        self,
        retain_versions: int | None = None,
        staging_ttl_seconds: float | None = 86400.0,
        retain_hours: float | None = None,
        dry_run: bool = False,
    ) -> dict | None:
        """Sweep metadata and generations no RETAINED manifest
        references — crash husks (a generation written by a failed
        commit that never published), orphan entry shards, and, when
        an explicit ``retain_versions`` is given, versions older than
        that window. The DEFAULT preserves every currently retained
        version and sweeps only the unreferenced debris — a cleanup
        op must not silently truncate history (external review r10,
        pass 4). Takes the write lease: the sweep must not race a
        live writer's in-flight generation.

        ``.stage-*`` dirs (optimistic commits staged OUTSIDE the
        lease) and uuid-named ``_merge_delta-*`` snapshot dirs (an
        optimistic merge that crashed before its cleanup — the
        unique name means no later merge ever overwrites it, unlike
        the locked path's fixed name; external review r11) are swept
        only past ``staging_ttl_seconds`` of age: a live stager by
        definition does not hold the lease vacuum holds, so age is
        the only safe evidence of death — size the TTL far above the
        longest stage-to-commit gap (None disables the sweep).

        ``retain_hours`` (r13) is the TIME-based retention spelling
        (Delta's ``VACUUM ... RETAIN n HOURS``): versions whose
        ``committed_utc`` is older than the window expire; the
        current version always survives, and a manifest without a
        timestamp (pre-r10 shape) is conservatively kept. Mutually
        exclusive with ``retain_versions`` — the operational policy
        is usually written in hours, not commit counts.

        ``dry_run=True`` (r13, Delta's ``VACUUM ... DRY RUN``)
        deletes NOTHING and returns the report an operator reads
        before pointing a sweep at production: ``expired_versions``,
        ``orphan_shards``, ``unreferenced_generations`` (computed by
        the SAME :meth:`_gc_plan` the real sweep executes, so the
        report cannot desync from the deletion) plus ``aged_staging``
        (the ``.stage-*`` / ``_merge_delta-*`` husks past the TTL).
        Lock-free: a dry run is read-only and must not stall a live
        writer; the numbers are a snapshot, not a reservation."""
        ver = self.current_version()
        if ver is None:
            raise ValueError(f"manifest table does not exist: {self.path}")
        if retain_hours is not None and retain_versions is not None:
            raise ValueError(
                "pass retain_versions OR retain_hours, not both"
            )

        def _resolve_time_retain(v: int) -> int:
            import datetime

            cutoff = datetime.datetime.now(
                datetime.timezone.utc
            ) - datetime.timedelta(hours=retain_hours)
            keep_oldest = v
            for h in self.history():
                ts = h.get("committed_utc")
                if ts is None:
                    # pre-timestamp manifest: age unknown — keep
                    keep_oldest = min(keep_oldest, h["version"])
                    continue
                try:
                    committed = datetime.datetime.fromisoformat(ts)
                except ValueError:
                    keep_oldest = min(keep_oldest, h["version"])
                    continue
                if committed >= cutoff:
                    keep_oldest = min(keep_oldest, h["version"])
            return v - keep_oldest + 1

        def _aged_staging() -> list[str]:
            if staging_ttl_seconds is None:
                return []
            now_ms = self.spark._jvm.java.lang.System.currentTimeMillis()
            aged: list[str] = []
            for dir_path, prefix in (
                (f"{self.path}/{_DATA_DIR}", ".stage-"),
                (self.path, "_merge_delta-"),
            ):
                fs, jdir = _hadoop_fs(self.spark, dir_path)
                if not fs.exists(jdir):
                    continue
                for status in fs.listStatus(jdir):
                    name = status.getPath().getName()
                    age_s = (
                        now_ms - status.getModificationTime()
                    ) / 1000.0
                    if name.startswith(prefix) and age_s > staging_ttl_seconds:
                        aged.append(f"{dir_path}/{name}")
            return aged

        def _retain_now(v: int) -> int:
            if retain_hours is not None:
                return _resolve_time_retain(v)
            return (
                retain_versions
                if retain_versions is not None
                else self._keep_current_retain(v)
            )

        if dry_run:
            v = self.current_version()
            plan = self._gc_plan(v, _retain_now(v)) or {
                "expired_versions": [],
                "orphan_shards": [],
                "unreferenced_generations": [],
            }
            plan["aged_staging"] = sorted(_aged_staging())
            # r14 reclaim hint: generations alive ONLY because
            # carried file references (file-granular DML/merge)
            # point into them — a compact() of the carrying
            # partitions makes them sweepable. Audit-only cost
            # (O(retained × entries) driver work); the REAL sweep
            # never pays it.
            keep = [
                x
                for x in self.versions()
                if x > v - _retain_now(v)
            ]
            dir_gens: set[str] = set()
            file_gens: set[str] = set()
            for vv in keep:
                try:
                    m = self.manifest(vv)
                except ValueError:
                    continue
                for e in m["entries"]:
                    if not _is_abs_dir(e["dir"]):
                        dir_gens.add(e["dir"].split("/")[1])
                    for n in e.get("files") or ():
                        if "/" in n and not _is_abs_dir(n):
                            file_gens.add(n.split("/")[1])
            plan["generations_pinned_by_carried_refs"] = sorted(
                file_gens - dir_gens
            )
            return plan

        def _do() -> None:
            v = self.current_version()
            self._gc(v, _retain_now(v))
            for p in _aged_staging():
                fs, jp = _hadoop_fs(self.spark, p)
                fs.delete(jp, True)

        with table_write_lock(self.spark, self.path, holder="vacuum"):
            _do()
        return None

    def _resolve_stats_cols(
        self,
        prev_man: dict | None,
        columns: dict[str, T.DataType],
        pcols: list[str],
    ) -> tuple[list[str], list | str]:
        """(concrete stats columns for THIS commit, persisted config).
        The config is a table property like shard_target: v1 takes the
        instance's ``stats_cols``, later commits the previous
        manifest's (missing key = "auto", so pre-stats tables grow
        stats progressively as partitions are rewritten)."""
        cfg = (
            prev_man.get("stats_cols", "auto")
            if prev_man is not None
            else self.stats_cols
        )
        schema = T.StructType(
            [T.StructField(n, t) for n, t in columns.items()]
        )
        eligible = set(_stats_eligible(schema, pcols))
        if cfg == "auto":
            return (
                [n for n in columns if n in eligible][:_STATS_AUTO_CAP],
                "auto",
            )
        if prev_man is None:
            bad = [c for c in cfg if c not in eligible]
            if bad:
                raise ValueError(
                    f"stats_cols {bad} are missing, partition columns,"
                    " or of a non-orderable type; stats need atomic"
                    " orderable non-partition columns"
                )
        # later commits: schema evolution is add-only, so configured
        # columns exist; tolerate a stale config defensively
        return [c for c in cfg if c in eligible], list(cfg)

    def _resolve_bloom_cols(
        self,
        prev_man: dict | None,
        columns: dict[str, T.DataType],
        pcols: list[str],
    ) -> list[str]:
        """(concrete Bloom columns for THIS commit) — a persisted
        table property like stats_cols: v1 takes the instance's
        ``bloom_cols`` (validated loudly), later commits the previous
        manifest's (missing key = disabled, so pre-r16 tables are
        untouched)."""
        cfg = (
            prev_man.get("bloom_cols", [])
            if prev_man is not None
            else self.bloom_cols
        )
        if not cfg:
            return []
        if prev_man is None:
            pset = set(pcols)
            for c in cfg:
                t = columns.get(c)
                if t is None:
                    raise ValueError(
                        f"bloom_cols column {c!r} not in table schema"
                    )
                if c in pset:
                    raise ValueError(
                        f"bloom_cols column {c!r} is a partition"
                        " column — partition pruning already answers"
                        " it exactly"
                    )
                if t.typeName() not in _BLOOM_TYPES:
                    raise ValueError(
                        f"bloom_cols column {c!r} is"
                        f" {t.simpleString()}; per-file Bloom filters"
                        f" support {_BLOOM_TYPES} (the probe must"
                        " mirror Spark's string rendering exactly)"
                    )
        # later commits filter by TYPE as well as presence: a column
        # widened out of the supported family (int→double changes the
        # string rendering "3"→"3.0") must stop recording filters —
        # the probe already bails on float values, so stale blobs
        # would be dead bytes, never a wrong prune
        return [
            c
            for c in cfg
            if c in columns
            and columns[c].typeName() in _BLOOM_TYPES
        ]

    def _collect_entry_stats(
        self,
        back: DataFrame,
        dup: list[str],
        scols: list[str],
        bloom_cols: list[str] | None = None,
    ) -> dict[str, dict]:
        """Per-partition AND per-file min/max/null-count for ``scols``
        over the freshly written generation — still ONE column-pruned
        aggregation (map-side combine, one shuffle of O(written
        files) rows), now keyed by ``input_file_name()`` with the
        partition bounds folded from the file bounds driver-side.

        Per-file bounds are the r12 file-granularity skipping lever
        (Iceberg/Delta record them in their manifests too): inside a
        big partition (10³ files at 100 TB) a selective predicate
        selects FILES, not just directories. Capturing them here
        rather than from parquet footers is deliberate: footer
        statistics arrive in a SECOND decoding frame (parquet
        physical types via py4j-or-pyarrow — per-file py4j round
        trips are the small-file wall, and pyarrow re-decodes
        timestamps/decimals under different conventions), and every
        cross-frame comparison so far has been a probe-confirmed
        wrong-result bug (r11 pass 2). One collect()-framed
        aggregation keeps a single comparison frame for ALL bounds at
        the cost of a column-pruned scan of the delta just written —
        O(delta), and the file-stats rows it shuffles are O(files),
        not O(rows)."""
        if not scols:
            return {}
        bloom_cols = [
            c for c in (bloom_cols or []) if c in back.columns
        ]
        aggs = [F.count(F.lit(1)).alias("_s_rows")]
        for i, c in enumerate(scols):
            aggs.append(F.min(F.col(c)).alias(f"_s_mn_{i}"))
            aggs.append(F.max(F.col(c)).alias(f"_s_mx_{i}"))
            aggs.append(F.count(F.col(c)).alias(f"_s_nn_{i}"))
        # per-file SUM (r16) rides the same shuffle for EXACT-sum
        # types only: integral sums are exact in any order, decimal
        # sums are exact decimal arithmetic; float sums are
        # order-dependent (a metadata fold and a scan could disagree
        # in the last ulp — metadata_agg scans floats instead), and
        # nothing else has a sum. Appended AFTER the bound triples so
        # the positional row parsing below is untouched; read by name.
        sum_ok = {
            f.name
            for f in back.schema.fields
            if isinstance(f.dataType, _SUM_EXACT_TYPES)
        }
        for i, c in enumerate(scols):
            if c in sum_ok:
                aggs.append(F.sum(F.col(c)).alias(f"_s_sm_{i}"))
        for j, c in enumerate(bloom_cols):
            # rides the SAME shuffle: the distinct count decides which
            # files qualify for a Bloom filter (≤ _BLOOM_MAX_KEYS).
            # APPROX on purpose: exact count_distinct of a high-card
            # string column nearly doubles the stats pass (measured
            # 8M-row create: +11 s), while qualification only needs a
            # threshold — an over-estimate skips a borderline file
            # (conservative: absent filter admits), an under-estimate
            # records a slightly-saturated filter (false-positive
            # rate rises, correctness unchanged)
            aggs.append(
                F.approx_count_distinct(F.col(c)).alias(f"_s_bd_{j}")
            )
        rows = (
            back.groupBy(
                *[F.col(d) for d in dup],
                F.input_file_name().alias("_s_file"),
            )
            .agg(*aggs)
            .collect()
        )
        nd = len(dup)
        blooms = self._collect_file_blooms(back, bloom_cols, rows, nd)
        by_key: dict[str, list] = {}
        for r in rows:
            key = _partition_key(tuple(r[j] for j in range(nd)))
            by_key.setdefault(key, []).append(r)
        out: dict[str, dict] = {}
        for key, frows in by_key.items():
            files: dict[str, dict] = {}
            total = 0
            fold_mn: list[list] = [[] for _ in scols]
            fold_mx: list[list] = [[] for _ in scols]
            fold_nulls = [0] * len(scols)
            # None = no non-null contribution yet (SUM over zero
            # rows is SQL NULL, so the entry key is omitted)
            fold_sm: list = [None] * len(scols)
            for r in frows:
                fname = r[nd].rsplit("/", 1)[-1]
                frowcount = r[nd + 1]
                total += frowcount
                fcols = {}
                for i, c in enumerate(scols):
                    mn = r[nd + 2 + 3 * i]
                    mx = r[nd + 3 + 3 * i]
                    nn = r[nd + 4 + 3 * i]
                    if mn is not None:
                        fold_mn[i].append(mn)
                    if mx is not None:
                        fold_mx[i].append(mx)
                    fold_nulls[i] += frowcount - nn
                    # unbounded sides OMIT the key (readers .get) —
                    # matching the entry-stats / _virtual_pcol_stats
                    # shape and saving bytes across up to
                    # _FILE_STATS_MAX files/entry (external review
                    # r12)
                    fcs: dict = {"nulls": frowcount - nn}
                    b = _encode_bound(mn, upper=False)
                    if b is not None:
                        fcs["mn"] = b
                    b = _encode_bound(mx, upper=True)
                    if b is not None:
                        fcs["mx"] = b
                    if c in sum_ok:
                        sm = r[f"_s_sm_{i}"]
                        if sm is not None:
                            fcs["sm"] = _encode_value(sm)
                            fold_sm[i] = (
                                sm
                                if fold_sm[i] is None
                                else fold_sm[i] + sm
                            )
                    fcols[c] = fcs
                fst = {"rows": frowcount, "cols": fcols}
                # blooms key by FULL URI: one task writes the same
                # part-NNNNN-<uuid> basename into EVERY partition dir
                # it lands rows in, so basenames collide across
                # partitions within a generation
                bl = blooms.get(r[nd])
                if bl and len(frows) <= _BLOOM_FILES_MAX:
                    fst["bloom"] = bl
                files[fname] = fst
            cols = {}
            for i, c in enumerate(scols):
                ecs: dict = {"nulls": fold_nulls[i]}
                b = _encode_bound(_fold_spark_min(fold_mn[i]), upper=False)
                if b is not None:
                    ecs["mn"] = b
                b = _encode_bound(_fold_spark_max(fold_mx[i]), upper=True)
                if b is not None:
                    ecs["mx"] = b
                if fold_sm[i] is not None:
                    ecs["sm"] = _encode_value(fold_sm[i])
                cols[c] = ecs
            # the exact file COUNT is recorded unconditionally (one
            # int — it drives small_file_report/compact(min_files=)
            # without a listing). The per-file BOUNDS map is always
            # RETURNED (file-granular DML needs the exact written
            # membership even for a 1-file partition); the 2..cap
            # PUBLISH window for plain entries is applied where the
            # entry is built (_finalize_generation) — a single-file
            # partition's bounds ARE the entry bounds (zero
            # information) and past the cap the manifest bytes beat
            # the listing saved (compact instead)
            st = {"rows": total, "nfiles": len(files), "cols": cols}
            st["files"] = files
            out[key] = st
        return out

    def _collect_file_blooms(
        self,
        back: DataFrame,
        bloom_cols: list[str],
        rows: list,
        nd: int,
    ) -> dict[str, dict]:
        """Per-file packed Bloom filters for the qualifying files of a
        freshly written generation: ``{basename: {col: {"m", "k",
        "b"}}}``. A file qualifies when EVERY bloom column's distinct
        count (from the main stats pass, riding the same shuffle) is
        ≤ _BLOOM_MAX_KEYS — the small scattered-key delta files a
        streaming CDC sink writes, exactly where min/max bounds prune
        nothing. One extra COLUMN-PRUNED scan of ONLY the qualifying
        files (their URIs come from the stats pass); positions are
        the portable salted-md5 family (decontam.bloom_positions), so
        the driver-side probe (_bloom_may_contain) computes identical
        bits. NULL keys set no bits (collect_set drops the NULL
        positions) — consistent with comparison ops matching no NULL
        row."""
        if not bloom_cols:
            return {}
        # 15% headroom over the cap: the qualifying count is APPROX
        # (rsd ~5%), and an overshoot that disqualifies a borderline
        # file costs far more (the file is admitted by EVERY later
        # point probe) than the mild saturation of letting ~1.15×cap
        # keys into a filter (fp ≈ 0.4% vs 0.24% at the cap)
        lim = int(_BLOOM_MAX_KEYS * 1.15)
        qual_uris = [
            r[nd]
            for r in rows
            if all(
                r[f"_s_bd_{j}"] is not None
                and r[f"_s_bd_{j}"] <= lim
                for j in range(len(bloom_cols))
            )
        ]
        if not qual_uris:
            return {}
        from .decontam import bloom_positions

        # original pcols are PHYSICAL in the data files, so a direct
        # file read with just the bloom columns resolves (the _p_*
        # directory columns are not needed here)
        sub = T.StructType(
            [f for f in back.schema.fields if f.name in bloom_cols]
        )
        df = self.spark.read.schema(sub).parquet(*sorted(qual_uris))
        out: dict[str, dict] = {}
        for c in bloom_cols:
            got = (
                df.select(
                    F.input_file_name().alias("_f"),
                    F.explode(
                        bloom_positions(F.col(c), _BLOOM_M, _BLOOM_K)
                    ).alias("_p"),
                )
                .groupBy("_f")
                .agg(F.collect_set("_p").alias("_ps"))
                .collect()
            )
            for r in got:
                # keyed by FULL URI — basenames repeat across the
                # partition dirs one task writes
                out.setdefault(r["_f"], {})[c] = {
                    "m": _BLOOM_M,
                    "k": _BLOOM_K,
                    "b": _bloom_pack(r["_ps"], _BLOOM_M),
                }
        return out

    def _derived_spec(
        self, man: dict | None, pcols: list[str], schema_json: dict
    ) -> dict:
        """The derived-partition spec (r13 hidden partitioning) a data
        commit on top of ``man`` enforces and persists. The spec is a
        CREATE-time property like stats_cols: the first commit
        validates this instance's; every later one takes the table's
        own and refuses a different one on this instance — silently
        ignoring it would leave the user believing enforcement +
        projection are active (r13 review). A ``repartition_table``
        full replace may retire the derived key (spec dropped with
        it, documented); the source column is protected by the
        drop_columns guard."""
        if man is not None:
            derived = man.get("derived_partitions") or {}
            if (
                self.derived_partitions
                and dict(self.derived_partitions) != derived
            ):
                raise ValueError(
                    "derived_partitions is set at create() and"
                    f" cannot change; table has {derived!r}"
                )
        elif self.derived_partitions:
            derived = _validate_derived_partitions(
                self.derived_partitions, pcols, schema_json
            )
        else:
            return {}
        names = {f["name"] for f in schema_json.get("fields", [])}
        return {
            p: s
            for p, s in derived.items()
            if p in pcols and s["source"] in names
        }

    def _finalize_generation(
        self, staged: dict, version: int, retain_versions: int, op_info: dict
    ) -> None:
        """Turn a staged generation, in place as ``g{version}``, into
        the published manifest version — the metadata-only tail of
        :meth:`_publish_staged`, run under the write lease: the
        tombstone and derived-spec refusals, the entry building (one
        entry per touched partition, carried files merged in,
        untouched entries carried forward) and
        :meth:`_publish_entries`. A stage whose partition columns
        differ from the current version's (the ``repartition_table``
        full replace) drops every previous entry instead of carrying
        untouched ones forward — the new generation IS the whole
        table, and the old entries live in a different
        partition-column keyspace."""
        pcols, touched = staged["pcols"], staged["touched"]
        schema_json = staged["schema_json"]
        stats_by_key = staged["stats"]
        carry_files = staged["carry_files"]
        prev_man = self.manifest(version - 1) if version > 1 else None
        prev_entries = (
            {e["key"]: e for e in prev_man["entries"]}
            if prev_man is not None and prev_man["partition_cols"] == pcols
            else {}
        )
        # the table properties PERSIST: later commits (including
        # merges routed through a default-constructed ManifestTable)
        # honor what create() configured
        props = self._table_props(prev_man or {})
        # tombstoned names (r13 drop_columns): data files from before
        # the drop still carry values under these names, so a later
        # commit re-ADDING one would silently resurrect old values in
        # every pre-drop generation the reader NULL-backfills today —
        # the field-ID problem vanilla parquet cannot solve; refuse
        readd = sorted(
            {f["name"] for f in schema_json.get("fields", [])}
            & set(props["dropped_cols"] or [])
        )
        if readd:
            raise ValueError(
                f"column name(s) {readd} were dropped from this table"
                " and may not be re-added: retained pre-drop data"
                " files still carry values under these names and a"
                " name-resolved parquet read would resurrect them."
                " Pick a fresh name, or rewrite the table"
                " (create from read()) to clear the tombstones"
            )
        derived = self._derived_spec(prev_man, pcols, schema_json)
        coltypes = {
            f.name: f.dataType for f in staged["staged_schema"].fields
        }
        _, stats_cfg = self._resolve_stats_cols(prev_man, coltypes, pcols)
        bcols = self._resolve_bloom_cols(prev_man, coltypes, pcols)
        # map each touched partition to its freshly written directory
        # by VALUE (the escaped-dir-name walk shared with the plain
        # merge path); no directory name is ever parsed back to a value
        dirs_by_key = self._map_partition_dirs(
            f"{_DATA_DIR}/g{version:08d}", staged["dup"], touched
        )
        for t in touched:
            key = _partition_key(t)
            rel = dirs_by_key.get(key)
            carry = (carry_files or {}).get(key)
            if rel is None and carry is None:
                prev_entries.pop(key, None)  # emptied: entry removed
            elif carry is not None:
                # file-granular DML (r14): ONE entry referencing the
                # freshly written files (basenames under the new
                # generation's partition dir) AND the carried,
                # never-read files (table-root-relative / absolute
                # keys). Entry bounds refold driver-side from the
                # merged per-file stats — zero extra I/O. When the
                # rewrite output is EMPTY (every row of the matching
                # files deleted), the entry keeps the old dir and
                # only the carried membership; changes() compares
                # whole entries so the diff still fires. A merged map
                # may exceed the plain-entry publish window — for an
                # exact-membership entry the map is correctness, not
                # a hint, so the bytes are the price.
                st = stats_by_key.get(key) or {}
                written = dict(st.get("files") or {})
                if rel is not None and not written:
                    # membership is REQUIRED: with no per-file stats
                    # for what just landed, the entry cannot name its
                    # files exactly — refuse (the generation is an
                    # unreferenced husk; the table is unchanged)
                    raise ValueError(
                        f"file-granular rewrite of {key!r} produced"
                        " no per-file stats for the written"
                        " generation; rerun without file granularity"
                    )
                merged = {**carry["files"], **written}
                entry = {
                    "key": key,
                    "values": [_encode_value(v) for v in t],
                    "dir": rel if rel is not None else carry["dir"],
                    "stats": _fold_file_stats(merged),
                    "files": merged,
                }
                prev_entries[key] = entry
            else:
                entry = {
                    "key": key,
                    "values": [_encode_value(v) for v in t],
                    "dir": rel,
                }
                st = stats_by_key.get(key)
                if st is not None:
                    # per-file bounds live NEXT TO stats, not inside:
                    # entry["stats"] keeps its r11 shape so pre-r12
                    # readers (and every stats consumer) are untouched
                    files = st.get("files")
                    entry["stats"] = {
                        k: v for k, v in st.items() if k != "files"
                    }
                    if files and 2 <= len(files) <= _FILE_STATS_MAX:
                        entry["files"] = files
                prev_entries[key] = entry
        entries = sorted(prev_entries.values(), key=lambda e: e["key"])
        self._publish_entries(
            version,
            pcols,
            schema_json,
            entries,
            retain_versions,
            {
                **props,
                "stats_cols": stats_cfg,
                "bloom_cols": bcols,
                "derived_partitions": derived,
            },
            op_info,
        )

    def _publish_entries(
        self,
        version: int,
        pcols: list[str],
        schema_json: dict,
        entries: list[dict],
        retain_versions: int,
        props: dict,
        op_info: dict | None = None,
    ) -> None:
        """Build the manifest for ``entries``, publish it, GC — the
        shared tail of every commit: data commits via
        `_finalize_generation`, metadata-only commits via
        `_metadata_commit`, and `clone_to`'s first commit. ``props``
        holds the persisted table properties (:meth:`_table_props`
        keys)."""
        import datetime

        man = {
            "version": version,
            # a unique id per PHYSICAL commit: a post-crash re-publish
            # of the same version gets a fresh uuid, so a feed tail
            # that already consumed the orphan predecessor can detect
            # the replacement and re-emit instead of silently skipping
            # a diverged commit (external review r10)
            "commit_uuid": uuid.uuid4().hex,
            # wall-clock audit metadata only (history()); no read path
            # or diff ever depends on it
            "committed_utc": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
            "partition_cols": pcols,
            "schema": schema_json,
            "shard_target": props["shard_target"],
            "stats_cols": props["stats_cols"],
        }
        if props["bloom_cols"]:
            # per-file Bloom membership columns (r16): a persisted
            # table property like stats_cols
            man["bloom_cols"] = list(props["bloom_cols"])
        if props["dropped_cols"]:
            # tombstoned column names (r13): a persisted table
            # property like shard_target — every later commit refuses
            # to re-add one (_finalize_generation)
            man["dropped_cols"] = sorted(props["dropped_cols"])
        if props["check_constraints"]:
            # CHECK constraints (r13): persisted property; every
            # generation-writing commit validates against them
            man["check_constraints"] = dict(
                sorted(props["check_constraints"].items())
            )
        if props["derived_partitions"]:
            # hidden-partitioning spec (r13): persisted property;
            # commits enforce it, scans project predicates through it
            man["derived_partitions"] = dict(
                sorted(props["derived_partitions"].items())
            )
        if op_info:
            # operation metadata (r13): what produced this version —
            # surfaced by history(), the DESCRIBE HISTORY operation
            # column; audit metadata only, no read path depends on it
            man["op"] = op_info
        # GC + history() metadata that must not require shard
        # expansion: the generations this version references and the
        # live-partition count live in the list file itself. A
        # shallow clone's ABSOLUTE entries reference no local
        # generation and are excluded (their data lives under the
        # source table; this table's sweep can never reach it).
        gens: set[str] = set()
        for e in entries:
            if not _is_abs_dir(e["dir"]):
                gens.add(e["dir"].split("/")[1])
            for n in e.get("files") or ():
                # carried keys (file-granular DML, r14) keep the
                # generation holding the never-rewritten files ALIVE:
                # a table-root-relative key is "_data/g.../..."
                if "/" in n and not _is_abs_dir(n):
                    gens.add(n.split("/")[1])
        man["generations"] = sorted(gens)
        man["entry_count"] = len(entries)
        if len(entries) > man["shard_target"]:
            man["entry_shards"], man["num_buckets"] = self._shard_entries(
                version, entries, man["shard_target"]
            )
            # seed the expansion memo: the GC below (and any reader on
            # this instance) must not re-read the shards this commit
            # just wrote (external review r10, pass 3)
            if len(self._man_cache) >= 8:
                self._man_cache.pop(next(iter(self._man_cache)))
            self._man_cache[(version, man["commit_uuid"])] = entries
        else:
            man["entries"] = entries
        self._publish(version, man)
        self._gc(version, retain_versions)

    def _shard_entries(
        self, version: int, entries: list[dict], shard_target: int
    ) -> tuple[list[str], int]:
        """Write ``entries`` as content-addressed shard files and
        return ``(shard_paths, num_buckets)`` — the manifest-relative
        paths forming the manifest LIST, plus the bucket count the
        layout used (persisted in the list for the next commit's
        hysteresis).

        Entries hash into a power-of-two bucket count sized to
        ``shard_target``; a shard's filename embeds (bucket count,
        bucket index, content sha1), so an UNCHANGED bucket resolves
        to the exact filename the previous commit's list already
        references — nothing is rewritten for it. A commit touching T
        partitions therefore writes ~ceil(T × buckets / live) shards
        (≈ O(touched) for T ≪ live) plus one small list file, instead
        of the O(live partitions) monolith. Crash safety: shards land
        BEFORE the list publishes; a crash leaves content-addressed
        orphans no list references (invisible; swept by a later GC).
        When the table grows past a power-of-two boundary the bucket
        count doubles and every shard rewrites ONCE — amortized O(1)
        per commit, the classic resize bargain. The count is persisted
        in the list and never shrinks (growth-only hysteresis): a
        live-partition count oscillating across the boundary must not
        re-layout every commit."""
        import hashlib
        import math

        nb = 1 << max(0, math.ceil(math.log2(
            max(1, math.ceil(len(entries) / shard_target))
        )))
        prev_by_bucket: dict[int, str] = {}
        if version > 1:
            try:
                raw_prev = self._manifest_raw(version - 1)
                # hysteresis: the bucket count only GROWS (persisted in
                # the list) — a live-partition count oscillating across
                # a power-of-two boundary must not flip the layout and
                # rewrite every shard each commit (external review r10,
                # pass 3)
                nb = max(nb, int(raw_prev.get("num_buckets", 0)))
                for rel in raw_prev.get("entry_shards", []):
                    m = re.match(
                        r"^.*/s(\d+)_(\d+)_[0-9a-f]{16}\.json$", rel
                    )
                    if m and int(m.group(1)) == nb:
                        prev_by_bucket[int(m.group(2))] = rel
            except ValueError:
                pass  # previous manifest GC'd: write every shard
        buckets: dict[int, list[dict]] = {}
        for e in entries:
            b = int(
                hashlib.sha1(e["key"].encode("utf-8")).hexdigest()[:8], 16
            ) % nb
            buckets.setdefault(b, []).append(e)
        fs, _ = _hadoop_fs(self.spark, self.path)
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        rels = []
        work: list[tuple[int, str, str, bytes]] = []
        for b in sorted(buckets):
            body = json.dumps({"entries": buckets[b]}, sort_keys=True)
            raw = body.encode("utf-8")
            h = hashlib.sha1(raw).hexdigest()[:16]
            rel = f"{_MANIFEST_DIR}/s{nb:05d}_{b:05d}_{h}.json"
            if prev_by_bucket.get(b) != rel:
                work.append((b, rel, body, raw))
            rels.append(rel)

        def _publish_shard(item: tuple) -> None:
            # content differs from what the previous list used for
            # this bucket (or the bucket count changed). An OLDER
            # retained list may still reference this exact name
            # (bucket content reverted to a prior state), so an
            # INTACT existing file is reused — but only after a
            # length check: trusting bare fs.exists would let a
            # truncated husk from a crashed writer satisfy the
            # content-address and publish a permanently unreadable
            # version (external review r11). publish_file writes
            # tmp + rename so a crash can never leave a partial
            # file AT the content-addressed name; the rename
            # replaces a corrupt husk (same content — safe under a
            # concurrent reader).
            b, rel, body, raw = item
            jdst = jvm_path(f"{self.path}/{rel}")
            intact = (
                fs.exists(jdst)
                and fs.getFileStatus(jdst).getLen() == len(raw)
            )
            if not intact:
                publish_file(self.spark, f"{self.path}/{rel}", body)

        if len(work) <= 2:
            for item in work:
                _publish_shard(item)
        else:
            # the per-shard cost is py4j/FS round-trip latency, not
            # bandwidth (r10 measured the sharded format losing local
            # WALL to exactly this); the writes are independent
            # content-addressed files, Hadoop FileSystem is
            # thread-safe, and py4j gives each thread its own gateway
            # connection — so overlap them. Bounded pool: metadata
            # files, not data.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(8, len(work))) as pool:
                # list() forces completion and re-raises the first
                # worker exception — a failed shard must fail the
                # commit, never publish a list with a missing bucket
                list(pool.map(_publish_shard, work))
        return rels, nb

    def _map_partition_dirs(
        self, gen_rel: str, dup_cols: list[str], touched: list[tuple]
    ) -> dict[str, str]:
        """Map every touched partition's key to its freshly written
        directory in generation ``gen_rel`` (absent key = no rows
        landed, i.e. the partition was emptied). ONE breadth-first
        walk of the generation tree — each directory node is listed
        exactly once, O(written dirs) RPCs total — replacing the r9
        per-touched-partition path walk that re-listed shared prefixes
        O(touched × depth) times (the verdict-named metadata cost at
        5-10 k partitions). Matching stays by VALUE through
        ``_partition_value_matches`` (never by re-formatting the value
        into a directory name), memoized per (level, value) so each
        distinct value is matched against each distinct on-disk raw at
        most once."""
        import urllib.parse

        fs, jroot = _hadoop_fs(self.spark, f"{self.path}/{gen_rel}")
        if not fs.exists(jroot):
            return {}
        # level-order walk: nodes at depth i carry the unescaped raw
        # directory values of their path's i components
        nodes: list[tuple] = [(jroot, gen_rel, ())]
        for col in dup_cols:
            nxt: list[tuple] = []
            for jpath, rel, raws in nodes:
                if not fs.isDirectory(jpath):
                    continue
                for status in fs.listStatus(jpath):
                    name = status.getPath().getName()
                    c, eq, raw = name.partition("=")
                    if not eq or c != col:
                        continue
                    nxt.append(
                        (
                            status.getPath(),
                            f"{rel}/{name}",
                            raws + (urllib.parse.unquote(raw),),
                        )
                    )
            nodes = nxt
        import datetime

        by_raws = {raws: rel for _, rel, raws in nodes}
        level_raw_sets = [
            {raws[i] for raws in by_raws} for i in range(len(dup_cols))
        ]
        level_raws = [sorted(s) for s in level_raw_sets]

        def _match_raw(i: int, val) -> str | None:
            # exact-form fast path: for every type whose match rule is
            # literally `raw == str(val)` (strings, ints, decimals…)
            # a set lookup replaces the linear scan — without it,
            # create() on N partitions does O(N²) value comparisons
            # (external review r10). DATES qualify too: Spark writes
            # date partition dirs as zero-padded ISO yyyy-MM-dd,
            # identical to str(date) — and date-partitioned tables
            # are the archetypal many-partition scheme, exactly where
            # the linear scan would reintroduce the O(N²) (external
            # review r11). Floats/bools/datetimes/None match by
            # PARSED value, so they keep the by-value scan (their
            # count per level is tiny in practice; datetime is
            # excluded because Spark trims trailing zeros in
            # timestamp dir names — note the isinstance order: a
            # datetime IS a date, so the datetime check must win).
            if not isinstance(
                val,
                (bool, float, datetime.datetime, type(None)),
            ):
                s = str(val)
                return s if s in level_raw_sets[i] else None
            return next(
                (
                    raw
                    for raw in level_raws[i]
                    if _partition_value_matches(val, raw)
                ),
                None,
            )

        memo: dict[tuple, str | None] = {}
        out: dict[str, str] = {}
        for t in touched:
            matched: list[str] | None = []
            for i, val in enumerate(t):
                mk = (i, _partition_key((val,)))
                if mk not in memo:
                    memo[mk] = _match_raw(i, val)
                if memo[mk] is None:
                    matched = None
                    break
                matched.append(memo[mk])
            rel = (
                by_raws.get(tuple(matched)) if matched is not None else None
            )
            if rel is not None:
                out[_partition_key(t)] = rel
        return out

    def _publish(self, version: int, man: dict) -> None:
        """Manifest, then pointer, each via ``publish_file``. Crash
        anywhere → old version; on a store whose rename cannot
        overwrite, a crash inside the pointer swap → highest-manifest
        fallback (``current_version``)."""
        publish_file(
            self.spark,
            f"{self.path}/{_MANIFEST_DIR}/v{version:08d}.json",
            json.dumps(man),
        )
        publish_file(
            self.spark, f"{self.path}/{_POINTER}", f"v{version:08d}"
        )

    def _gc_plan(self, version: int, retain_versions: int) -> dict | None:
        """What :meth:`_gc` WOULD delete for this retain window — THE
        single computation behind both the real sweep and
        ``vacuum(dry_run=True)``, so the report can never desync from
        the deletion (the r12 single-selection principle). Returns
        None when a retained manifest is unreadable: GC declines
        rather than guessing at liveness."""
        keep = [v for v in self.versions() if v > version - retain_versions]
        referenced: set[str] = set()
        live_shards: set[str] = set()
        for v in keep:
            try:
                raw = self._manifest_raw(v)
                for rel in raw.get("entry_shards", []):
                    live_shards.add(rel.split("/")[-1])
                if "generations" in raw:
                    # r10+ manifests carry the referenced-generation
                    # summary in the list file: GC costs O(keep) small
                    # reads, zero shard expansion
                    referenced.update(raw["generations"])
                else:
                    for e in self.manifest(v)["entries"]:
                        if not _is_abs_dir(e["dir"]):
                            referenced.add(e["dir"].split("/")[1])
                        for n in e.get("files") or ():
                            # carried keys reference older gens (r14)
                            if "/" in n and not _is_abs_dir(n):
                                referenced.add(n.split("/")[1])
            except Exception:  # noqa: BLE001 — GC never fails a commit
                log.warning(
                    "GC of %s declined: manifest v%d is unreadable",
                    self.path,
                    v,
                    exc_info=True,
                )
                return None
        plan = {
            "expired_versions": [
                v
                for v in self.versions()
                if v <= version - retain_versions
            ],
            "orphan_shards": [],
            "unreferenced_generations": [],
        }
        try:
            fs_m, jman_dir = _hadoop_fs(
                self.spark, f"{self.path}/{_MANIFEST_DIR}"
            )
            # shards no RETAINED list references (expired versions'
            # exclusive shards, crash orphans, pre-resize layouts) —
            # live_shards comes from the keep set, so a shard a
            # to-be-expired manifest references is already orphaned
            # in the plan
            for status in fs_m.listStatus(jman_dir):
                name = status.getPath().getName()
                if (
                    re.match(r"^s\d+_\d+_[0-9a-f]{16}\.json$", name)
                    and name not in live_shards
                ):
                    plan["orphan_shards"].append(name)
            fs, jdata = _hadoop_fs(self.spark, f"{self.path}/{_DATA_DIR}")
            if fs.exists(jdata):
                for status in fs.listStatus(jdata):
                    name = status.getPath().getName()
                    if re.match(r"^g\d{8}$", name) and name not in referenced:
                        plan["unreferenced_generations"].append(name)
        except Exception:  # noqa: BLE001 — same decline contract
            log.warning(
                "GC of %s declined: listing its files failed",
                self.path,
                exc_info=True,
            )
            return None
        plan["orphan_shards"].sort()
        plan["unreferenced_generations"].sort()
        return plan

    def _gc(self, version: int, retain_versions: int) -> None:
        """Best-effort: delete manifests older than the retain window
        FIRST, then generation dirs no surviving manifest references.
        Manifest-first ordering matters for racing readers (external
        review r10): a version EXPIRES (vanishes from ``versions()``,
        ``read(version=)`` raises the explicit "not retained" error)
        before its data disappears, so a tail/consumer racing the GC
        classifies the failure as retention instead of hitting a raw
        FileNotFound on data whose manifest still looked alive. A
        generation stays alive as long as ANY retained manifest still
        references one of its partition dirs (untouched partitions
        keep old generations live — correct and intended); fully
        superseded generations go. Readers of retained versions are
        never invalidated; that is the snapshot-isolation window.
        Executes exactly :meth:`_gc_plan`."""
        plan = self._gc_plan(version, retain_versions)
        if plan is None:
            return
        try:
            fs_m, _ = _hadoop_fs(
                self.spark, f"{self.path}/{_MANIFEST_DIR}"
            )
            for v in plan["expired_versions"]:
                _, jm = _hadoop_fs(
                    self.spark,
                    f"{self.path}/{_MANIFEST_DIR}/v{v:08d}.json",
                )
                fs_m.delete(jm, False)
            for name in plan["orphan_shards"]:
                _, js = _hadoop_fs(
                    self.spark, f"{self.path}/{_MANIFEST_DIR}/{name}"
                )
                fs_m.delete(js, False)
            fs, _ = _hadoop_fs(self.spark, f"{self.path}/{_DATA_DIR}")
            for name in plan["unreferenced_generations"]:
                _, jg = _hadoop_fs(
                    self.spark, f"{self.path}/{_DATA_DIR}/{name}"
                )
                fs.delete(jg, True)
        except Exception:  # noqa: BLE001 — orphans are invisible via
            # the manifest; the next commit's GC retries
            log.warning(
                "GC sweep of %s failed after version %d committed",
                self.path,
                version,
                exc_info=True,
            )
