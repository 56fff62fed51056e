"""Streaming CDC MERGE sink: foreachBatch upserts into a partitioned
parquet table.

The reference's sink contract is effectively-once over at-least-once
delivery (SURVEY §2.f ST1; camel-integration file-pipeline route
error-handling). The streaming pipeline's parquet-swap buffer store
covers its retry state; THIS sink covers the other half a CDC consumer
needs — maintaining a keyed TABLE from a changelog stream (upserts +
delete tombstones), e.g. the "current transfer status per file" view a
reprocessing endpoint reads.

Built as ``foreachBatch`` → :func:`operators.scale.merge_into_
partitioned` in ORDERED mode, which makes each batch's merge
conditional on event time: per contested key the (ts, tiebreaks)-max
write wins and a tombstone lands only if newest. That property is what
upgrades at-least-once to effectively-once — a REDELIVERED batch
re-applies writes the table already reflects, so it is a no-op (the
unit test replays a batch verbatim and asserts a byte-identical
table). Spark's checkpoint dedupes batch IDs on the happy path; the
ordered merge covers the crash-between-commit-and-checkpoint window
where foreachBatch genuinely re-runs.

Scale: per micro-batch the work is delta-sized — touched-partition
scan, one window shuffle over contested keys only; untouched
partitions are never rewritten (dynamic partition overwrite). The
partition column must be functionally dependent on the key (Hive-style
partition-merge constraint, enforced by merge_into_partitioned's
contract).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from ..operators.scale import merge_into_partitioned

log = logging.getLogger(__name__)


def start_changelog_merge_sink(
    spark: SparkSession,
    stream: DataFrame,
    path: str,
    key_col: str,
    partition_cols: list[str],
    ts_col: str,
    op_col: str,
    checkpoint: str,
    delete_op: str = "D",
    tiebreak_cols: tuple[str, ...] = (),
    lock_stale_after_seconds: float | None = 900.0,
    layout: str = "hive",
    retain_versions: int = 2,
    compact_min_files: int | None = None,
    compact_min_carried: int | None = None,
    compact_every: int = 20,
    compact_target_records_per_file: int | None = None,
    compact_cluster_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    ttl_keep: float | None = None,
    ttl_delete_every: int = 20,
    schema_evolution: bool = False,
):
    """Start the changelog→table merge stream; returns the query.

    ``compact_min_files`` (manifest layout only, r13) arms AUTO
    COMPACTION: after every ``compact_every``-th micro-batch the sink
    runs ``compact(min_files=compact_min_files)`` on its own table —
    the small-file sweep a streaming CDC sink otherwise leaves to an
    operator, fused into the one writer that already owns the lease
    cadence. Delta calls this auto/post-commit optimize. The sweep is
    SELECTIVE (only partitions holding ≥ min_files files rewrite —
    hot partitions by construction of the accretion) and publishes NO
    version when nothing qualifies, so quiet streams don't burn
    commits; retention stays keep-current so the sweep never shrinks
    a tail consumer's window, though each sweep that does fire is one
    more version of lag budget — size ``retain_versions``
    accordingly. Runs AFTER the batch's merge commit, inside the same
    serial foreachBatch slot, so it can never race the next batch.

    ``schema_evolution`` (manifest layout only, r15) threads into
    every batch's ordered merge: a changelog that gains a column
    mid-stream (the upstream producer deployed a new field) evolves
    the table add-only — new columns append nullable, history
    NULL-backfills at scan time, the feed crosses the boundary under
    ``changes()``'s add-only contract. With the default False the
    batch REFUSES loudly and the stream stops (the safe default: a
    surprise column is a contract change someone should approve), the
    same choice Delta's sinks make. Note the stream's own reader
    schema is fixed at start — evolution here covers columns already
    in the stream schema but missing from the TABLE (e.g. a sink
    started against an older table), which is exactly the restart
    shape after a producer upgrade.

    ``compact_min_carried`` (manifest layout only, r15) arms the
    RECLAIM sweep on the same ``compact_every`` cadence: partitions
    whose entries hold ≥ N carried references into older generations
    (the file-granular merge/DML survivors this sink's own point
    writes accrete) are compacted, localizing the refs so the pinned
    generations become vacuum-sweepable — without it a long-running
    CDC sink pins history forever unless an operator reads
    ``small_file_report`` by hand. Evaluating the trigger is zero
    data I/O (the carried counts live in the manifest); combinable
    with ``compact_min_files`` (one sweep, union selection). Same
    best-effort contract as auto-compaction.

    ``compact_cluster_by`` (r15) threads into every armed sweep as
    ``compact(cluster_by=...)`` — and a sink whose merges are
    file-granular should ALWAYS set it to its key column: the fg
    merge's whole cost class rests on key-disjoint per-file bounds,
    and an unclustered compaction rewrite makes NO ordering promise —
    at scale (many read tasks recombining overlapping micro-batch
    files) the rewritten files go near-full-range on the key and
    every later point merge silently degrades back to
    whole-partition rewrites. DML never pays this (fg DELETE/UPDATE
    preserve surviving files byte-identically, so their bounds
    survive by construction); the compaction rewrite is the one
    place clustering can be lost, so it is the place to restore it.

    ``bloom_cols`` (manifest layout only, r16) threads into the
    first-batch bootstrap ``create()`` as the table's per-file Bloom
    membership property — set it to ``[key_col]`` for a sink whose
    key is UNCLUSTERED (uuid-shaped): every micro-batch commit then
    records a small packed filter per written file, so the fg merge's
    point-key selection stays file-granular BEFORE the first
    ``compact(cluster_by=)`` sweep restores key-disjoint bounds (the
    cold-start window where bounds span every file and fg selection
    degrades to partition-granular). Ignored when the table already
    exists (the persisted property wins, like stats_cols).

    ``ttl_keep`` (manifest layout only, r14) arms EVENT-TIME
    RETENTION — the "table expires old rows" shape every CDC table
    needs (the table-side analog of the pipeline's ST4 TTL expiry;
    reference camel-integration file-pipeline.yaml error-handling
    retention): after every ``ttl_delete_every``-th micro-batch the
    sink runs ``delete_where(ts_col < high_watermark - ttl_keep)``
    on its own table. The watermark is the MAX of ``ts_col`` folded
    from the manifest's own entry bounds (``stats_extent`` — zero
    data I/O; a stats gap skips the sweep rather than scanning).
    ``ttl_keep`` is in ``ts_col``'s own units: seconds for a
    timestamp column, raw difference for a numeric epoch column.
    The delete is ONE atomic DML commit — stats-pruned, file-
    granular where file bounds allow, whole-partition metadata-only
    drops when the table is time-partitioned — and the change feed
    sees real deletes, so a downstream tail observes the expiry.
    Like auto-compaction it is best-effort (a transient failure
    logs and a later armed batch retries — retention is eventual)
    and runs inside the serial foreachBatch slot. A sweep that
    matches nothing publishes no version.

    ``retain_versions`` (manifest layout only) sizes the snapshot
    window each micro-batch commit keeps. The default (2) is right for
    a table nobody tails; a downstream ``table_tail`` consumer
    tolerates at most ``retain_versions - 1`` commits of lag before
    hitting the loud retention error, and micro-batch commits are
    FREQUENT — size it generously (retained manifests are KB-scale;
    old generations hold only rewritten partitions).

    ``layout`` picks the table's commit protocol at bootstrap:
    ``"hive"`` (default) writes the classic partitioned layout —
    delta-sized merges, but a crash mid-commit tears at partition
    granularity; ``"manifest"`` bootstraps an
    ``operators.table.ManifestTable``, upgrading EVERY subsequent
    micro-batch commit to the atomic manifest/pointer swap: a reader
    concurrent with the sink sees whole-batch-before or
    whole-batch-after, never a torn table. An existing table keeps
    its own layout regardless (merges auto-route).

    Every batch's merge (and the bootstrap write) runs under the
    table's single-writer lease, so a maintenance merge or compaction
    racing the sink fails loudly instead of losing a delta. The
    checkpointed stream is the one legitimate long-lived writer, and a
    KILLED sink must be able to restart unattended — so the sink
    defaults ``lock_stale_after_seconds`` to 900 s: a leftover lease
    older than 15 min (vs seconds-long per-batch merges) is broken
    automatically on restart. The documented residual risk: a writer
    HUNG longer than the TTL while still alive would be split-brained
    by the break — pass ``None`` to require a manual
    ``table.force_unlock`` instead (the batch-merge default).

    First batch bootstraps the table (partitioned write of the batch's
    own fold); every later batch merges. The bootstrap probe checks for
    actual PARTITION DIRECTORIES, not bare path existence, through the
    Hadoop FileSystem API (works on local/HDFS/S3A): a crash mid-
    bootstrap leaves a dir holding only ``_temporary``/commit markers,
    and treating that as a live table would wedge every later batch on
    UNABLE_TO_INFER_SCHEMA — instead the restart re-bootstraps
    (mode=overwrite absorbs the partial write).
    """
    from ..operators.publish import _hadoop_fs

    if layout not in ("hive", "manifest"):
        # validate at start-time: a typo'd layout must fail the stream
        # setup, not the first real batch
        raise ValueError(f"layout must be 'hive' or 'manifest', got {layout!r}")
    if compact_min_files is not None or compact_min_carried is not None:
        if layout != "manifest":
            raise ValueError(
                "compact_min_files/compact_min_carried require"
                " layout='manifest' — the hive layout has no"
                " selective-compaction commit"
            )
        if compact_min_files is not None and compact_min_files < 2:
            raise ValueError("compact_min_files must be >= 2")
        if compact_min_carried is not None and compact_min_carried < 1:
            raise ValueError("compact_min_carried must be >= 1")
        if compact_every < 1:
            raise ValueError("compact_every must be >= 1")
    elif compact_cluster_by is not None:
        # compact_cluster_by only shapes a sweep that something else
        # ARMS — configured alone it would be silently inert: the
        # sink would never compact and never error (advisor r15).
        # Same start-time-loud rule as every sibling knob.
        raise ValueError(
            "compact_cluster_by shapes the armed compaction sweep but"
            " arms nothing by itself — also set compact_min_files"
            " and/or compact_min_carried (layout='manifest')"
        )
    if schema_evolution and layout != "manifest":
        raise ValueError(
            "schema_evolution requires layout='manifest' — the hive"
            " layout cannot NULL-backfill untouched partitions"
            " atomically (merge_into_partitioned's own refusal)"
        )
    if bloom_cols and layout != "manifest":
        raise ValueError(
            "bloom_cols requires layout='manifest' — per-file Bloom"
            " membership lives in the manifest's file stats"
        )
    if ttl_keep is not None:
        if layout != "manifest":
            raise ValueError(
                "ttl_keep requires layout='manifest' — the hive"
                " layout has no atomic DML commit"
            )
        if not ttl_keep > 0:
            raise ValueError("ttl_keep must be > 0")
        if ttl_delete_every < 1:
            raise ValueError("ttl_delete_every must be >= 1")

    def _table_state() -> str:
        """'absent' (bootstrap), 'table' (merge), or 'foreign'. A dir
        holding DATA FILES but no ``col=value`` partition dirs is
        somebody else's unpartitioned dataset — bootstrapping over it
        with mode=overwrite would destroy it, so that state raises
        instead of silently wiping (r8 review). A MANIFEST table's
        entries are all underscore-prefixed (_manifests/_data/_latest),
        which the marker heuristic would misread as 'absent' — and the
        bootstrap's debris-clear would then DESTROY the committed
        table (r9 review); it is a live table, merges route to it
        automatically."""
        from ..operators.table import is_manifest_table

        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return "absent"
        if is_manifest_table(spark, path):
            return "table"
        names = [s.getPath().getName() for s in fs.listStatus(jpath)]
        if any("=" in n for n in names):
            return "table"
        if any(not n.startswith(("_", ".")) for n in names):
            return "foreign"
        return "absent"  # only commit markers: a torn bootstrap

    def _sweep(what: str, every: int, batch_id: int, run) -> None:
        """One post-merge maintenance sweep, armed on every
        ``every``-th batch. An existing hive table keeps its layout
        regardless of the ``layout`` arg, so the sweep refuses it
        LOUDLY rather than silently never sweeping. Past that the
        sweep is best-effort, like Delta's post-commit auto optimize:
        the batch's MERGE already committed, so a transient failure
        (lock contention with an external maintenance op, a mid-sweep
        GC race) must not kill the streaming query — it logs, and a
        later armed batch retries (retention and compaction are
        eventual)."""
        if (batch_id + 1) % every:
            return
        from ..operators.table import is_manifest_table

        if not is_manifest_table(spark, path):
            raise ValueError(
                f"{what} requires a manifest table, but {path} is hive-layout"
            )
        try:
            run()
        except Exception:  # noqa: BLE001 — best-effort contract
            log.warning(
                "%s sweep failed after batch %s of %s (merge already"
                " committed; next armed batch retries)",
                what,
                batch_id,
                path,
                exc_info=True,
            )

    def _ttl_delete() -> None:
        from ..operators.table import ManifestTable

        mt = ManifestTable(spark, path)
        ext = mt.stats_extent(ts_col)
        if ext is not None and ext[1] is not None:
            import datetime as _dt

            hi = ext[1]
            if isinstance(hi, _dt.datetime):
                cutoff = hi - _dt.timedelta(seconds=ttl_keep)
            else:
                cutoff = hi - ttl_keep
            mt.delete_where(
                [(ts_col, "<", cutoff)],
                lock_stale_after_seconds=lock_stale_after_seconds,
            )

    def _compact() -> None:
        from ..operators.table import ManifestTable

        # the sink's lease config threads through so a crashed external
        # holder's stale lock cannot wedge the sweep while merges break
        # it (external review r13)
        ManifestTable(spark, path).compact(
            min_files=compact_min_files,
            min_carried=compact_min_carried,
            target_records_per_file=compact_target_records_per_file,
            cluster_by=compact_cluster_by,
            lock_stale_after_seconds=lock_stale_after_seconds,
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        state = _table_state()
        if state == "foreign":
            raise ValueError(
                f"merge sink target {path} holds a non-partitioned "
                "dataset; refusing to overwrite it"
            )
        if state == "absent":
            # bootstrap: fold the first batch and write the table
            # shape — under the same write lease the merges take, so a
            # concurrent writer cannot interleave with the bootstrap
            from ..operators.table import table_write_lock

            folded = _fold_first_batch(
                batch_df, key_col, ts_col, op_col, delete_op, tiebreak_cols
            ).persist()
            try:
                if folded.isEmpty():
                    # an all-tombstone (or empty) first batch must NOT
                    # create a row-less table dir: every later batch
                    # would then take the merge path and die on
                    # UNABLE_TO_INFER_SCHEMA — leave the path absent so
                    # the next batch bootstraps instead
                    return
                bootstrapped = False
                with table_write_lock(
                    spark,
                    path,
                    holder="merge-sink-bootstrap",
                    stale_after_seconds=lock_stale_after_seconds,
                ):
                    # re-check under the lock: a concurrent writer may
                    # have bootstrapped between the probe and acquire
                    if _table_state() == "absent":
                        # clear torn-bootstrap debris by hand, keeping
                        # the LOCK file: mode=overwrite would delete
                        # the root including the lease we hold
                        from ..operators.scale import (
                            _clear_root_keep_lock,
                            _reject_empty_string_partitions,
                        )

                        fs, jroot = _hadoop_fs(spark, path)
                        _clear_root_keep_lock(fs, jroot)
                        if layout == "manifest":
                            from ..operators.table import ManifestTable

                            ManifestTable(
                                spark, path, bloom_cols=bloom_cols
                            ).create(
                                folded, partition_cols, assume_locked=True
                            )
                        else:
                            # same ''/NULL-conflation guard the merge
                            # and manifest-create paths enforce — a
                            # first batch must not silently seed the
                            # corrupt table every later merge refuses
                            # (r9 review pass 2)
                            _reject_empty_string_partitions(
                                [
                                    tuple(r)
                                    for r in folded.select(*partition_cols)
                                    .distinct()
                                    .collect()
                                ],
                                partition_cols,
                            )
                            folded.write.partitionBy(
                                *partition_cols
                            ).parquet(path, mode="append")
                        bootstrapped = True
                if bootstrapped:
                    return
                # lost the bootstrap race: the table exists now — fall
                # through to the ordered merge below
            finally:
                folded.unpersist()
        merge_into_partitioned(
            spark,
            path,
            batch_df,
            [key_col],
            partition_cols,
            op_col=op_col,
            delete_op=delete_op,
            ts_col=ts_col,
            tiebreak_cols=tiebreak_cols,
            lock_stale_after_seconds=lock_stale_after_seconds,
            retain_versions=retain_versions,
            schema_evolution=schema_evolution,
        )
        if ttl_keep is not None:
            _sweep("ttl_keep", ttl_delete_every, batch_id, _ttl_delete)
        if compact_min_files is not None or compact_min_carried is not None:
            _sweep("auto-compaction", compact_every, batch_id, _compact)

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def _fold_first_batch(
    batch_df: DataFrame,
    key_col: str,
    ts_col: str,
    op_col: str,
    delete_op: str,
    tiebreak_cols: tuple[str, ...],
) -> DataFrame:
    from ..operators.cdc import apply_changelog

    folded = apply_changelog(
        batch_df,
        key_col,
        ts_col,
        op_col,
        tiebreak_cols=tiebreak_cols,
        delete_op=delete_op,
    )
    return folded.drop(op_col) if op_col else folded
