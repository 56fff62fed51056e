"""The full pipeline, batch-core + streaming shell.

Mirrors the reference's two routes (camel/file-pipeline.yaml,
camel/dlq-handler.yaml) as one batch-core function — validate → store
incoming → extract → store processed; failures → retry schedule → DLQ
with failure reports — reused verbatim by:

- batch jobs (`process_envelope_batch` on any envelope DataFrame), and
- Structured Streaming (`start_file_pipeline`: binaryFile/Kafka source →
  `foreachBatch(process + sinks)` with checkpointing).

This is the unified batch/streaming model the survey targets (§5.2):
operator code is written once; streaming adds offsets+checkpoint.

Delivery semantics (ST1/ST7): the sources replay uncommitted batches
(at-least-once); sinks write to deterministic keys and dedupe by
correlation_id inside the batch, so replays are idempotent —
effectively-once like the reference's deterministic S3 keys.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..envelope import from_binary_files, with_derived
from ..functions.derivations import failure_report
from ..operators.extract import Extractor, extract_documents, stub_extractor
from ..operators.publish import (
    _hadoop_fs,
    discard,
    exists,
    publish_file,
    recover,
    replace_dir,
)
from ..operators.retry import DEFAULT_POLICY, RetryPolicy, split_retry_dlq
from ..operators.validate import with_validation

log = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    """The legs of one processed envelope batch.

    ``unpersist()`` releases the cached intermediates backing the legs —
    call it once every leg has been written/consumed (the streaming sink
    does; long-lived sessions issuing many batch runs should too, or
    each run pins two cached frames until LRU eviction).
    """

    incoming: DataFrame
    processed: DataFrame
    retry_buffer: DataFrame
    dlq: DataFrame
    _cached: tuple[DataFrame, ...] = ()

    def unpersist(self) -> None:
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass


def process_envelope_batch(
    env: DataFrame,
    extractor: Extractor = stub_extractor,
    policy: RetryPolicy = DEFAULT_POLICY,
) -> PipelineResult:
    """The route body (file-pipeline.yaml:23-260) over one envelope batch.

    The validated and extracted frames feed multiple sink legs, so both
    are persisted — standard practice when one micro-batch fans out to
    several sinks (a batch is bounded by maxFilesPerTrigger /
    maxOffsetsPerTrigger, so the cache is bounded too); without it the
    extraction pass re-runs once per leg."""
    # dedup BEFORE the derivations: the ST7 shuffle then moves only the
    # source envelope, not the three derived object-key strings +
    # processing_date it would otherwise carry per row (project-before-
    # the-exchange; the derivations are deterministic per-row
    # projections, so dedup-then-derive ≡ derive-then-dedup), and the
    # derivation work itself runs on the post-shuffle partitions
    env = with_derived(env.dropDuplicates(["correlation_id"]))
    v = with_validation(env).persist()
    accepted = v.filter(F.col("valid")).drop("valid", "reject_reason")
    rejected = v.filter(~F.col("valid")).drop("valid")

    # the route legs need only status/error + the verbatim result_json;
    # the typed nested arrays (texts/tables) are for analytical readers
    # of processed/ (parse_extract_result) — drop them before the
    # persist so the cache holds one JSON string per row, not duplicate
    # struct arrays
    extracted = (
        extract_documents(accepted, "content", extractor)
        .drop("extract_text", "extract_page_count", "extract_n_tables",
              "extract_texts", "extract_tables")
        .persist()
    )
    ok = extracted.filter(F.col("extract_status") == "SUCCESS")
    extract_failed = extracted.filter(F.col("extract_status") != "SUCCESS").withColumn(
        "reject_reason", F.coalesce(F.col("extract_error"), F.lit("EXTRACTION_FAILED"))
    )

    incoming = accepted.select(
        "correlation_id", "transfer_id", "file_name", "content_type", "file_size",
        "checksum", "event_time", "processing_date", "incoming_key", "content",
    )
    # the processed leg stores the extraction result VERBATIM — the
    # reference persists the Docling response JSON untouched
    # (file-pipeline.yaml:207-218); consumers recover the typed nested
    # texts/tables via extract.parse_extract_result (from_json)
    processed = ok.select(
        "correlation_id", "file_name", "processing_date", "processed_key",
        F.col("extract_result_json").alias("result_json"),
        "event_time",
    )

    failure_cols = [
        "correlation_id", "transfer_id", "file_name", "content_type", "file_size",
        "checksum", "event_time", "processing_date", "failed_key", "delivery_count",
        "reject_reason",
    ]
    failures = rejected.select(*failure_cols).unionByName(
        extract_failed.select(*failure_cols)
    )
    cached = (v, extracted)
    retry_buffer, dlq = split_retry_dlq(failures, policy=policy)
    dlq = dlq.withColumn(
        "failure_json",
        failure_report(
            F.col("file_name"), F.col("correlation_id"), F.col("transfer_id"),
            F.col("event_time"), F.col("delivery_count"), F.col("reject_reason"),
            F.col("content_type"), F.col("file_size"), F.col("checksum"),
        ),
    )
    return PipelineResult(incoming, processed, retry_buffer, dlq, cached)


def _has_parquet_files(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds at least one parquet data file — an empty
    leg directory (zero-row dynamic-overwrite leaves metadata only) is
    indistinguishable from 'absent' to a reader, but a populated one
    whose read fails is real corruption the caller must surface."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        if files.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def _partition_col(df: DataFrame) -> DataFrame:
    # hyphenated date for the physical partition column (slash layout stays
    # in the logical keys); prunes cleanly under Catalyst. Repartitioning
    # by dt groups each date's rows before the write so a micro-batch
    # emits O(dates) files per leg instead of O(tasks × dates) — the
    # small-files guard (AQE splits a skewed date back out if one day
    # dominates the batch).
    return df.withColumn("dt", F.date_format("event_time", "yyyy-MM-dd")).repartition("dt")


def _retry_partition_cols(df: DataFrame) -> DataFrame:
    # retry buffer gets a SECOND partition key: the next-attempt hour
    # bucket. due_for_retry prunes on it, so a due-probe scans only the
    # elapsed buckets — at scale the buffer is dominated by far-future
    # backoff rows the probe must not touch. NULL-safe: a row with no
    # next_attempt_time lands in bucket -1 (never pruned IN, matching
    # the row-level filter which also never admits it).
    return _partition_col(df).withColumn("nab", _retry_bucket())


def _retry_bucket():
    """The retry buffer's ``nab`` partition value: the next-attempt hour
    bucket, -1 when there is no next attempt."""
    return F.coalesce(
        F.floor(F.unix_timestamp(F.col("next_attempt_time")) / F.lit(3600)),
        F.lit(-1),
    )


def _write_leg(df: DataFrame, path: str, epoch_id: int | None) -> None:
    df = _partition_col(df)
    if epoch_id is None:
        df.write.mode("append").partitionBy("dt").parquet(path)
    else:
        (
            df.withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "dt")
            .parquet(path)
        )


def _write_route_legs(
    result: PipelineResult, out_dir: str, epoch_id: int | None
) -> None:
    """incoming/, processed/ and failed/ for one route call. The DLQ leg
    is best-effort like the reference (E5, dlq-handler.yaml:116-124): a
    failure there is logged and must not lose the batch."""
    _write_leg(result.incoming, f"{out_dir}/incoming", epoch_id)
    _write_leg(result.processed, f"{out_dir}/processed", epoch_id)
    try:
        _write_leg(result.dlq, f"{out_dir}/failed", epoch_id)
    except Exception:  # E5: swallow DLQ-sink errors, keep the batch
        log.warning("DLQ sink write failed (best-effort, E5)", exc_info=True)


def write_batch_sinks(
    result: PipelineResult, out_dir: str, epoch_id: int | None = None
) -> None:
    """Partitioned parquet sinks for the three S3 prefixes (S4/S5/S6).

    With ``epoch_id`` (foreachBatch passes it) each leg writes via
    DYNAMIC partition overwrite into a ``batch_id`` partition: a
    replayed micro-batch overwrites exactly its own partitions instead
    of appending duplicates — effectively-once on plain parquet (ST1/
    ST7; a transactional table format would subsume this). Without an
    epoch the write is a plain append (ad-hoc batch use).

    ``incoming/`` keeps the raw bytes — it IS the reference's raw file
    store (S4, file-pipeline.yaml:89-96) and the source the retry drain
    re-fetches content from (dlq-handler.yaml:185-188).

    DLQ writes are best-effort like the reference (E5,
    dlq-handler.yaml:116-124): a failure there must not lose the batch.
    """
    _write_route_legs(result, out_dir, epoch_id)
    # the retry buffer stays OUTSIDE the batch_id scheme: the drain
    # rebuilds it ((nab, dt) layout) and a replayed batch's duplicate
    # retry rows collapse at drain time via the correlation_id dedup.
    # Appended last: a failing incoming/processed leg raises first.
    _retry_partition_cols(result.retry_buffer).write.mode("append").partitionBy(
        "nab", "dt"
    ).parquet(f"{out_dir}/retry")


def _swap_buffer(
    spark: SparkSession,
    path: str,
    rows: DataFrame | None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Replace the buffer dir ``path`` with ``rows`` (written to
    ``<path>__rebuild``, then ``publish.replace_dir``-ed in). With no
    rows the dir is removed — an absent dir IS the empty buffer — after
    deleting any stale rebuild a died writer left, so no recovery can
    adopt it and resurrect consumed rows (ADVICE r3 #1)."""
    tmp = f"{path}__rebuild"
    if rows is not None:
        rows.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
        replace_dir(spark, tmp, path)
        return
    discard(spark, tmp)
    replace_dir(spark, None, path)


def _stability_gate(
    spark: SparkSession,
    env: DataFrame,
    out_dir: str,
    min_age_seconds: int,
    clock: Callable | None = None,
) -> tuple[DataFrame, Callable[[], None]]:
    """S9 streaming parity for the monitor's file-stability age
    (goanywhere-config.md:127, 5 s min-age): rows whose modification
    time is younger than ``min_age_seconds`` are DEFERRED — parked in a
    ``deferred/`` buffer (full envelope incl. bytes) and re-admitted on
    a later micro-batch once stable — not dropped, which is what a
    naive post-source filter would do (the file source marks listed
    files as seen, so a filtered row never comes back).

    Returns ``(stable, commit)``: the caller processes ``stable`` and
    invokes ``commit()`` only AFTER the sink writes succeed — a crash
    mid-batch then leaves the old buffer intact and the replayed epoch
    re-admits the same rows (same-epoch overwrite keeps the sinks
    idempotent). The residual window is a crash between ``commit()``
    and the offset commit: the replay would rewrite this epoch's
    partitions without the already-admitted rows — the corner a
    transactional sink (Delta/Iceberg MERGE) closes on a cluster.
    Rebuild goes through ``_swap_buffer`` and commits at its rename,
    so recovery rolls a died swap back and drops a leftover rebuild —
    a replayed epoch sees the old buffer. The cutoff is computed ONCE
    per batch (a literal, not
    ``current_timestamp()`` which re-evaluates per action and could
    classify a row as both fresh and stable). Deferred rows re-enter
    when the next micro-batch fires; in production pair with a
    processing-time trigger so a quiet source still re-polls (the
    reference monitor re-polls every 30 s). ``clock`` injects a time
    source for deterministic tests.
    """
    import datetime as _dt

    path = f"{out_dir}/deferred"
    recover(spark, path)
    discard(spark, f"{path}__rebuild")  # uncommitted: the old buffer wins
    if exists(spark, path):
        # the buffer is a completed non-partitioned parquet write: a
        # read failure here is real corruption and must surface — a
        # swallowed error followed by the rebuild would destroy rows
        env = env.unionByName(spark.read.parquet(path))
    # pin the batch: the rebuild below rewrites deferred/, which env reads
    env = env.localCheckpoint()
    now = clock() if clock is not None else _dt.datetime.now(_dt.timezone.utc).replace(
        tzinfo=None
    )
    cutoff = F.lit(now - _dt.timedelta(seconds=min_age_seconds)).cast("timestamp")
    stable = env.filter(F.col("event_time") <= cutoff)
    fresh = env.filter(F.col("event_time") > cutoff)

    def commit() -> None:
        _swap_buffer(spark, path, fresh if fresh.take(1) else None)

    return stable, commit


def start_file_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    glob: str | None = None,
    extractor: Extractor = stub_extractor,
    policy: RetryPolicy = DEFAULT_POLICY,
    max_files_per_trigger: int = 1000,
    min_age_seconds: int | None = None,
    clock: Callable | None = None,
    trigger_seconds: int | None = None,
):
    """Streaming mode: file-monitor source (S9) → route → partitioned sinks.

    ``min_age_seconds`` enables the monitor's file-stability check in
    streaming mode (batch mode uses ``from_binary_files(min_age=...)``):
    too-fresh files defer to a buffer instead of being processed
    mid-write — see ``_stability_gate`` (``clock`` injects its time
    source for deterministic tests).

    ``trigger_seconds`` sets a processing-time trigger. When
    ``min_age_seconds`` is enabled it DEFAULTS to 30 s (the reference
    monitor's re-poll cadence, goanywhere-config.md:127): deferred
    too-fresh rows are only re-admitted when a micro-batch fires, so
    without a periodic re-poll a quiet source would strand the last
    deferred file forever. A trigger alone is NOT enough — Structured
    Streaming skips no-data micro-batches for stateless queries, so
    ``foreachBatch`` never fires on an idle source (verified on this
    Spark build) — so min-age mode also unions a 1-row/s rate-source
    heartbeat (filtered out inside the sink) to guarantee every trigger
    carries a row and the deferred buffer is re-examined each interval.
    Pass ``trigger_seconds=0`` to opt out of both — tests that drive
    batches explicitly by touching files do, so
    ``processAllAvailable()`` doesn't sit out a trigger wait.

    **Checkpoint compatibility**: the heartbeat union adds a second
    (rate) source to the streaming query, and Structured Streaming pins
    the source count/types in the checkpoint — toggling
    ``min_age_seconds``/``trigger_seconds`` between runs (heartbeat on ↔
    off) therefore requires a FRESH ``checkpoint_dir``; recovery from a
    checkpoint written under the other shape fails by design.

    Returns the StreamingQuery; callers drive it with
    ``processAllAvailable()`` in tests or leave it running in production.
    """
    if trigger_seconds is None and min_age_seconds:
        trigger_seconds = 30
    env = from_binary_files(
        spark, source_dir, glob=glob, stream=True,
        max_files_per_trigger=max_files_per_trigger,
    )
    heartbeat = bool(min_age_seconds) and bool(trigger_seconds)
    if heartbeat:
        # typed-NULL envelope row derived from ENVELOPE_SCHEMA so the
        # glue can't drift if the envelope contract ever changes
        # (delivery_count stays 1: heartbeat rows must never look like
        # redeliveries to the retry policy)
        from ..envelope import ENVELOPE_SCHEMA

        tick = (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .select(
                *[
                    (
                        F.lit(1) if f.name == "delivery_count" else F.lit(None)
                    ).cast(f.dataType).alias(f.name)
                    for f in ENVELOPE_SCHEMA.fields
                ],
                F.lit(True).alias("_hb"),
            )
        )
        env = env.withColumn("_hb", F.lit(False)).unionByName(tick)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if heartbeat:
            batch_df = batch_df.filter(~F.col("_hb")).drop("_hb")
            # idle tick: no new files and nothing parked — skip the route
            if not exists(spark, f"{out_dir}/deferred") and not batch_df.take(1):
                return
        commit_deferred = None
        if min_age_seconds:
            batch_df, commit_deferred = _stability_gate(
                spark, batch_df, out_dir, min_age_seconds, clock
            )
        result = process_envelope_batch(batch_df, extractor=extractor, policy=policy)
        # epoch-tagged dynamic overwrite: a replayed batch rewrites its
        # own partitions instead of appending duplicates (ST1 → ST7)
        write_batch_sinks(result, out_dir, epoch_id=epoch_id)
        result.unpersist()  # release this micro-batch's cached intermediates
        if commit_deferred is not None:
            commit_deferred()  # rebuild deferred/ only after the sinks landed

    writer = env.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def replay_due_retries(
    spark: SparkSession,
    out_dir: str,
    now,
    extractor: Extractor = stub_extractor,
    policy: RetryPolicy = DEFAULT_POLICY,
) -> PipelineResult | None:
    """E6 + E2 drain: re-admit retry-buffer rows whose backoff elapsed and
    push them through the route again (the reference's reprocess TODO,
    dlq-handler.yaml:184-188, done properly).

    The buffer is REBUILT each drain — not-yet-due rows plus the replay's
    new retry rows replace the old directory (``_swap_buffer``). An
    append-only buffer would re-admit already-consumed rows on every
    subsequent drain and multiply them; this is the broker-ack
    analogue. Crash recovery runs first (``publish.recover``): a died
    swap is rolled back, then a COMPLETED rebuild (``_SUCCESS``) is
    published even over a surviving live dir — the drain that wrote it
    had already landed its sink writes, so it is the newer buffer —
    and a partial one is discarded. (A transactional table format
    would collapse read → anti-join → rebuild → swap into one MERGE;
    none ships here — see SCALE.md §Streaming.)

    Content is RE-FETCHED from ``incoming/`` by correlation_id — the
    reference's planned reprocess semantics (dlq-handler.yaml:185-188):
    retry rows carry metadata only, the raw bytes live in the raw-file
    store. Rows that never reached incoming/ (validation rejects) retry
    with empty content and re-reject deterministically.

    Two idempotence guards close the at-least-once corners:

    - **drain sequence**: each drain's sink epoch comes from a counter
      persisted next to the buffer and claimed BEFORE any sink write —
      two drains never share an epoch (wall-clock-second epochs could
      collide, letting a later drain dynamic-overwrite an earlier one's
      partitions). A drain crashed mid-write retries under a fresh
      epoch; its partial incoming/failed output remains as duplicates
      (at-least-once on the failure legs) while processed/ stays
      effectively-once via the guard below.
    - **processed anti-join**: the buffer is deduped against
      ``processed/`` correlation_ids before re-admission, so a retry row
      appended by a replayed micro-batch *after* a drain already pushed
      that row through cannot be reprocessed (on a cluster this is the
      MERGE condition of a transactional retry table; here it's one
      column-pruned scan of processed/ per drain)."""
    from ..operators.retry import due_for_retry
    from ..operators.table import _read_small_file

    buf_path = f"{out_dir}/retry"
    seq_path = f"{out_dir}/retry__drain_seq"
    recover(spark, buf_path, staged=f"{buf_path}__rebuild")
    if not exists(spark, buf_path):
        return None
    now_col = F.lit(now).cast("timestamp")
    # pruned due-probe FIRST: on an idle drain (the common case on a
    # periodic cadence) this touches only the elapsed nab buckets —
    # due_for_retry's partition filter — instead of the whole buffer.
    # The processed/ anti-join below only REMOVES rows, so "probe
    # empty ⇒ nothing to drain" holds without it.
    if not due_for_retry(spark.read.parquet(buf_path), now_col).take(1):
        return None
    buf = spark.read.parquet(buf_path)
    proc_path = f"{out_dir}/processed"
    if _has_parquet_files(spark, proc_path):
        # a real read failure here must ABORT the drain (it retries
        # later) — silently skipping the guard would reprocess rows
        # already in processed/ and break effectively-once
        done_ids = spark.read.parquet(proc_path).select("correlation_id").distinct()
        buf = buf.join(done_ids, "correlation_id", "left_anti")
    buf = buf.persist()
    due = due_for_retry(buf, now_col)
    if not due.take(1):
        buf.unpersist()
        return None
    remaining = buf.filter(~(F.col("next_attempt_time") <= now_col))
    env = due.drop(
        "retry_status", "backoff_seconds", "next_attempt_time", "reject_reason",
        "dt", "nab",
    )
    # E6: recover the original bytes from the raw-file store
    content = F.to_binary(F.lit(""), F.lit("utf-8")).alias("content")
    inc_path = f"{out_dir}/incoming"
    # _has_parquet_files, not exists: a batch whose every row was
    # rejected leaves a metadata-only incoming/ dir (zero-row dynamic
    # overwrite) that a parquet read can't infer a schema from
    if _has_parquet_files(spark, inc_path):
        stored = (
            spark.read.parquet(inc_path)
            .select(F.col("correlation_id").alias("_cid"), F.col("content").alias("_c"))
            .dropDuplicates(["_cid"])
        )
        env = (
            env.join(stored, env.correlation_id == stored._cid, "left")
            .withColumn("content", F.coalesce(F.col("_c"), content))
            .drop("_cid", "_c")
        )
    else:
        env = env.withColumn("content", content)
    # truncate lineage: env's plan reads incoming/ and the retry buffer,
    # both of which the writes below mutate — an eager local checkpoint
    # pins the data so no later action re-reads its own output
    env = env.localCheckpoint()
    result = process_envelope_batch(env, extractor=extractor, policy=policy)

    # non-buffer legs: epoch-tagged writes keyed by the drain sequence
    # (negative so it can't collide with streaming epoch ids). The
    # epoch is CLAIMED before any sink write: successive drains — even
    # within one second — never share one, so a later drain can never
    # dynamic-overwrite an earlier drain's partitions (the loss corner
    # of deriving epochs from wall-clock seconds). The cost is that a
    # drain crashed mid-write is retried under a fresh epoch: its
    # partial incoming/failed output survives as duplicates
    # (at-least-once there), while processed/ stays effectively-once —
    # the anti-join above drops already-processed rows.
    # absent: first drain for this out_dir
    content = (_read_small_file(spark, seq_path) or "0").strip()
    try:
        drain_seq = int(content or 0)
    except ValueError:  # corrupt content: restarting at 0 would REUSE
        # epoch -1 and dynamic-overwrite the first drain's partitions —
        # refuse instead (writes are atomic, so this shouldn't happen)
        raise RuntimeError(f"corrupt drain sequence file {seq_path!r}: {content!r}")
    epoch = -(drain_seq + 1)
    # atomic claim (publish_file: tmp + rename): an in-place
    # truncate-write could be torn by a crash, resetting the counter and
    # letting a later drain reuse — and dynamic-overwrite — a committed
    # drain's epoch
    publish_file(spark, seq_path, str(drain_seq + 1))
    _write_route_legs(result, out_dir, epoch)

    # rebuild the buffer: survivors + this replay's rescheduled rows.
    # Reschedules are re-anchored at DRAIN time (now + backoff) — the
    # reference's redeliveryDelay counts from the failure, not from the
    # original event (application.properties:90); the event-time anchor
    # in with_retry_schedule stays the deterministic batch/oracle form,
    # but here it would make every retry of an old event instantly due.
    rescheduled = result.retry_buffer.withColumn(
        "next_attempt_time",
        F.when(
            F.col("backoff_seconds").isNotNull(),
            F.timestamp_seconds(F.unix_timestamp(now_col) + F.col("backoff_seconds")),
        ),
    )
    new_buf = remaining.unionByName(
        _retry_partition_cols(rescheduled), allowMissingColumns=True
    )
    # nab is RE-DERIVED from next_attempt_time for every row of the
    # rebuild, not trusted from the union: a legacy dt-only buffer (no
    # nab column — due_for_retry supports reading one) would otherwise
    # leave its surviving rows with NULL nab under
    # __HIVE_DEFAULT_PARTITION__, where the next drain's bucket filter
    # (NULL <= h → NULL) excludes them from `due` while `remaining`
    # drops them once elapsed — silently lost, never retried or DLQ'd
    new_buf = new_buf.withColumn("nab", _retry_bucket())
    new_buf = new_buf.persist()
    _swap_buffer(
        spark, buf_path, new_buf if new_buf.count() else None, ("nab", "dt")
    )
    result.unpersist()
    buf.unpersist()
    new_buf.unpersist()
    return result
