"""Pipeline-semantics queries: retry/DLQ state machine, failure reports,
TTL expiry, the replay join, circuit-breaker timeline, extraction, and
multimodal metadata (SURVEY §2.d, §2.f, §2.g, §2.h).

Notably ``pipe_extract_documents`` oracle-checks a *Pandas-UDF* operator:
the stub extractor is a pure function of the content, so DuckDB can
replicate it in SQL even though Spark runs it through mapInPandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..envelope import from_events_table, with_derived
from ..functions.derivations import failure_report
from ..operators import multimodal, retry
from ..operators.extract import extract_documents, stub_extractor
from ..operators.validate import with_validation
from ..sources.tables import load_table
from ..session import scoped_conf
from .base import STREAM_SHUFFLE, Q, local_df
from .envelope_q import ENV_CTE, REJECT_CASE


def _envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_derived(from_events_table(load_table(spark, sf_dir, "events")))


def _q_retry_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3/ST5 — disposition + backoff schedule for every failure
    (delivery_count plays JMSXDeliveryCount, dlq-handler.yaml:41-45)."""
    env = _envelope(spark, sf_dir)
    out = retry.with_retry_schedule(env)
    return out.select(
        "correlation_id",
        F.col("delivery_count"),
        "retry_status",
        "backoff_seconds",
        F.date_format("next_attempt_time", "yyyy-MM-dd HH:mm:ss").alias("next_attempt_at"),
    )


def _q_failure_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/S6 — DLQ failure-report JSON for validation-rejected rows."""
    env = with_validation(_envelope(spark, sf_dir))
    rej = env.filter(~F.col("valid"))
    return rej.select(
        "correlation_id",
        failure_report(
            F.col("file_name"),
            F.col("correlation_id"),
            F.col("transfer_id"),
            F.col("event_time"),
            F.col("delivery_count"),
            F.col("reject_reason"),
            F.col("content_type"),
            F.col("file_size"),
            F.col("checksum"),
        ).alias("failure_json"),
    )


def _q_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4/E3 — TTL expiry split (7-day TTL against max event time)."""
    env = _envelope(spark, sf_dir)
    out = retry.expire_by_ttl(env, ttl_seconds=7 * 24 * 3600)
    return out.groupBy("expiry_status").agg(
        F.count("*").alias("n"),
        F.min(F.date_format("event_time", "yyyy-MM-dd HH:mm:ss")).alias("oldest"),
    )


def _q_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — the reprocess join the reference left as TODO
    (dlq-handler.yaml:184-188): exhausted failures ⋈ incoming payloads on
    correlation_id → rows to re-inject into the main topic."""
    env = with_validation(_envelope(spark, sf_dir))
    failed = env.filter(~F.col("valid") & (F.col("delivery_count") >= 3)).select(
        "correlation_id", "reject_reason"
    )
    incoming = env.select("correlation_id", "file_name", "incoming_key", "file_size")
    return failed.join(incoming, "correlation_id").select(
        "correlation_id", "file_name", "incoming_key", "file_size", "reject_reason"
    )


def _q_cb_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 batch analogue — rolling failure ratio over the last 20 exchanges
    per source partition (user_id % 4): OPEN at ≥ 50 % (the MicroProfile
    threshold, application.properties:80). Keyed windows, not a global
    sort, so it scales: state is per-partition like the reference's
    per-pod breaker."""
    ev = load_table(spark, sf_dir, "events")
    part = (F.col("user_id") % 4).alias("breaker_key")
    fail = F.when(F.col("event_type") == "error", 1.0).otherwise(0.0)
    w = (
        Window.partitionBy("breaker_key")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    return (
        ev.select("event_id", part, F.col("ts"), fail.alias("f"))
        .withColumn("failure_ratio", F.round(F.avg("f").over(w), 6))
        .withColumn(
            "breaker_state",
            F.when(F.col("failure_ratio") >= 0.5, F.lit("OPEN")).otherwise(F.lit("CLOSED")),
        )
        .select("event_id", "breaker_key", "failure_ratio", "breaker_state")
    )


def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/§2.g — the extraction operator (mapInPandas + stub backend) over
    document text-as-bytes. Oracle-checkable because the stub is pure —
    including the NESTED result (texts/tables arrays, SURVEY §1.5),
    covered here through scalar projections of the arrays (first/last
    page text, per-table row totals) that DuckDB rebuilds from the same
    substring/modulo arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.to_binary(F.col("text"), F.lit("utf-8")).alias("content")
    )
    out = extract_documents(docs, "content", stub_extractor)
    return out.select(
        "doc_id",
        F.col("extract_status").alias("status"),
        F.col("extract_text").alias("extracted_text"),
        F.col("extract_page_count").alias("page_count"),
        F.col("extract_n_tables").alias("n_tables"),
        F.size("extract_texts").alias("n_text_items"),
        F.element_at(F.col("extract_texts"), 1)["text"].alias("first_page_text"),
        F.element_at(F.col("extract_texts"), -1)["text"].alias("last_page_text"),
        F.coalesce(
            F.aggregate(
                "extract_tables", F.lit(0), lambda acc, t: acc + t["n_rows"]
            ),
            F.lit(0),
        ).cast("long").alias("tables_total_rows"),
    )


def _q_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream consumer of the NESTED extraction result: explode the
    typed ``texts`` array into one row per page (the chunking step a
    training-data pipeline runs right after extraction). Proves the
    nested schema is usable, not just stored."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.to_binary(F.col("text"), F.lit("utf-8")).alias("content")
    )
    out = extract_documents(docs, "content", stub_extractor)
    pg = F.explode("extract_texts")
    return (
        out.select("doc_id", pg.alias("pg"))
        .select(
            "doc_id",
            F.col("pg.page").alias("page"),
            F.col("pg.text").alias("page_text"),
            F.length("pg.text").alias("page_len"),
        )
    )


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.h multimodal — binary metadata + deterministic fake decode dims."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.to_binary(F.col("text"), F.lit("utf-8")).alias("content")
    )
    w, h = multimodal.fake_dims_sql("CAST(content AS STRING)")
    meta = multimodal.with_media_columns(docs)
    return meta.select(
        "doc_id",
        "media_bytes",
        "media_sha256",
        F.expr(w).alias("img_width"),
        F.expr(h).alias("img_height"),
    )


QUERIES: dict[str, Q] = {
    "pipe_retry_schedule": Q(
        _q_retry_schedule,
        ENV_CTE
        + """
SELECT correlation_id, delivery_count,
       CASE WHEN delivery_count >= 3 THEN 'DLQ' ELSE 'RETRY' END AS retry_status,
       CASE WHEN delivery_count < 3
            THEN least(CAST(floor(5 * power(2, delivery_count - 1)) AS BIGINT), 60) END
         AS backoff_seconds,
       CASE WHEN delivery_count < 3
            THEN strftime(make_timestamp((CAST(floor(epoch(event_time)) AS BIGINT)
                 + least(CAST(floor(5 * power(2, delivery_count - 1)) AS BIGINT), 60)) * 1000000),
                 '%Y-%m-%d %H:%M:%S') END AS next_attempt_at
FROM envelope
""",
        doc="E2/E3 retry-with-backoff schedule (file-pipeline.yaml:269-273)",
    ),
    "pipe_failure_reports": Q(
        _q_failure_reports,
        ENV_CTE
        + f"""
SELECT correlation_id,
       '{{"status":"FAILED","fileName":"' || file_name ||
       '","correlationId":"' || correlation_id ||
       '","transferId":"' || transfer_id ||
       '","failureTimestamp":"' || strftime(event_time, '%Y-%m-%dT%H:%M:%S.')
           || left(strftime(event_time, '%f'), 3) || '+0000' ||
       '","redeliveryCount":' || delivery_count ||
       ',"exception":"' || {REJECT_CASE} ||
       '","headers":{{"contentType":"' || content_type ||
       '","fileSize":"' || file_size ||
       '","checksum":"' || checksum || '"}}}}' AS failure_json
FROM envelope
WHERE {REJECT_CASE} IS NOT NULL
""",
        doc="P10/S6 failure-report JSON (dlq-handler.yaml:69-86)",
    ),
    "pipe_expiry_ttl": Q(
        _q_expiry,
        ENV_CTE
        + """
, mx AS (SELECT max(event_time) AS now FROM envelope)
SELECT CASE WHEN floor(epoch(now)) - floor(epoch(event_time)) > 7*24*3600
            THEN 'EXPIRED' ELSE 'LIVE' END AS expiry_status,
       count(*) AS n,
       min(strftime(event_time, '%Y-%m-%d %H:%M:%S')) AS oldest
FROM envelope, mx
GROUP BY 1
""",
        doc="ST4/E3 message-TTL expiry (amq-address.yaml:43-48)",
    ),
    "pipe_replay_join": Q(
        _q_replay,
        ENV_CTE
        + f"""
, v AS (SELECT *, {REJECT_CASE} AS reject_reason,
               'incoming/' || processing_date || '/' || correlation_id || '/' || file_name
                 AS incoming_key
        FROM envelope)
SELECT f.correlation_id, i.file_name, i.incoming_key, i.file_size, f.reject_reason
FROM (SELECT correlation_id, reject_reason FROM v
      WHERE reject_reason IS NOT NULL AND delivery_count >= 3) f
JOIN (SELECT correlation_id, file_name, incoming_key, file_size FROM v) i
  ON f.correlation_id = i.correlation_id
""",
        doc="E6 replay join — completes the reference's TODO (dlq-handler.yaml:184-188)",
    ),
    "pipe_circuit_breaker_timeline": Q(
        _q_cb_timeline,
        """
SELECT event_id, user_id % 4 AS breaker_key,
       round(avg(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END)
             OVER (PARTITION BY user_id % 4 ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS failure_ratio,
       CASE WHEN avg(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END)
             OVER (PARTITION BY user_id % 4 ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) >= 0.5
            THEN 'OPEN' ELSE 'CLOSED' END AS breaker_state
FROM events
""",
        doc="E4 circuit-breaker failure-ratio timeline (application.properties:79-82)",
    ),
    "pipe_extract_documents": Q(
        _q_extract,
        """
WITH d AS (
  SELECT doc_id, text, length(text) AS len,
         CAST(1 + length(text) % 5 AS INTEGER) AS p
  FROM documents
), e AS (
  SELECT *, CAST(floor(len / p) AS INTEGER) AS step FROM d
)
SELECT doc_id,
       'SUCCESS' AS status,
       left(text, 64) AS extracted_text,
       p AS page_count,
       CAST(len % 3 AS INTEGER) AS n_tables,
       p AS n_text_items,
       substring(text, 1, least(step, 48)) AS first_page_text,
       substring(text, 1 + (p - 1) * step, least(step, 48)) AS last_page_text,
       CAST(coalesce(list_sum(list_transform(range(0, CAST(len % 3 AS INTEGER)),
                                             j -> 2 + (len + j) % 5)), 0) AS BIGINT)
         AS tables_total_rows
FROM e
""",
        doc="S8 extraction operator incl. nested texts/tables (mapInPandas + pure stub)",
    ),
    "pipe_extract_pages": Q(
        _q_extract_pages,
        """
WITH d AS (
  SELECT doc_id, text, length(text) AS len,
         CAST(1 + length(text) % 5 AS INTEGER) AS p
  FROM documents
), e AS (
  SELECT *, CAST(floor(len / p) AS INTEGER) AS step FROM d
), x AS (
  SELECT doc_id, text, step, unnest(range(0, p)) AS i FROM e
)
SELECT doc_id,
       CAST(i + 1 AS INTEGER) AS page,
       substring(text, 1 + i * step, least(step, 48)) AS page_text,
       CAST(length(substring(text, 1 + i * step, least(step, 48))) AS INTEGER)
         AS page_len
FROM x
""",
        doc="nested texts array exploded to per-page rows (post-extract chunking step)",
    ),
    "pipe_multimodal_metadata": Q(
        _q_multimodal,
        # fake_dims_sql text is engine-shared; content here is the utf-8 text
        None,  # placeholder replaced below (needs the generated dims SQL)
        doc="§2.h multimodal: binary metadata + stubbed decode dims",
    ),
}

_w, _h = multimodal.fake_dims_sql("text")
QUERIES["pipe_multimodal_metadata"] = Q(
    _q_multimodal,
    f"""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS media_bytes,
       sha256(text) AS media_sha256,
       {_w} AS img_width,
       {_h} AS img_height
FROM documents
""",
    doc="§2.h multimodal: binary metadata + stubbed decode dims",
)


def _q_stream_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming route, driven to completion (rows-only check —
    streaming state isn't SQL-expressible): materialize 40 documents as
    files (pdf/exe mix so every leg gets traffic), run the
    binaryFile-source pipeline with checkpointing, then summarize the
    partitioned sinks. Mirrors the reference's manual E2E verification
    (docs/deployment.md:248-268)."""
    import os
    import shutil
    import tempfile

    from ..streaming.pipeline import start_file_pipeline

    work = tempfile.mkdtemp(prefix="stream_e2e_")
    src, out, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    os.makedirs(src)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
        .collect()
    )
    for r in docs:
        ext = "pdf" if r.doc_id % 4 else "exe"  # every 4th file hits the reject leg
        with open(f"{src}/doc-{r.doc_id}.{ext}", "w") as f:
            f.write(r.text)
    with scoped_conf(spark, STREAM_SHUFFLE):
        q = start_file_pipeline(spark, src, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    legs = []
    for leg in ("incoming", "processed", "retry", "failed"):
        path = f"{out}/{leg}"
        try:
            n = spark.read.parquet(path).count()
        except Exception:  # leg got no traffic → no files to infer schema from
            n = 0
        legs.append((leg, n))
    shutil.rmtree(work, ignore_errors=True)
    return local_df(spark, legs, "leg string, n_rows long")


# the input set (doc_id < 40) and dispositions are deterministic, so even
# the STREAMING run is oracle-checkable: every 4th doc is .exe → rejected
# at delivery_count=1 → retry leg; the rest flow to incoming+processed.
QUERIES["stream_pipeline_e2e"] = Q(
    _q_stream_e2e,
    """
SELECT 'incoming' AS leg, count(*) AS n_rows FROM documents WHERE doc_id < 40 AND doc_id % 4 != 0
UNION ALL
SELECT 'processed', count(*) FROM documents WHERE doc_id < 40 AND doc_id % 4 != 0
UNION ALL
SELECT 'retry', count(*) FROM documents WHERE doc_id < 40 AND doc_id % 4 = 0
UNION ALL
SELECT 'failed', 0
""",
    doc="S9→route→sinks streaming end-to-end (ST1/ST7; docs/deployment.md:248-268)",
)


def _q_failure_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — exception-message predicate routing (file-pipeline.yaml:180-202).
    Synthesizes per-event error messages from stable event fields, then
    classifies and counts per route leg."""
    from ..operators.routing import classify_failure

    ev = load_table(spark, sf_dir, "events")
    msg = (
        F.when(F.col("event_id") % 5 == 0, F.lit("CircuitBreakerOpenException: circuit breaker open"))
        .when(F.col("event_id") % 5 == 1, F.lit("Docling convert failed: HTTP 500"))
        .when(F.col("event_id") % 5 == 2, F.lit("S3 putObject timeout"))
        .otherwise(F.lit("java.lang.RuntimeException: boom"))
    )
    return (
        ev.select(F.col("event_id"), classify_failure(msg).alias("failure_class"))
        .groupBy("failure_class")
        .agg(F.count("*").alias("n"), F.min("event_id").alias("first_event"))
    )


QUERIES["pipe_failure_routing"] = Q(
    _q_failure_routing,
    """
WITH m AS (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0 THEN 'CircuitBreakerOpenException: circuit breaker open'
              WHEN event_id % 5 = 1 THEN 'Docling convert failed: HTTP 500'
              WHEN event_id % 5 = 2 THEN 'S3 putObject timeout'
              ELSE 'java.lang.RuntimeException: boom' END AS msg
  FROM events
), c AS (
  SELECT event_id,
         CASE WHEN contains(lower(msg), 'circuit breaker') THEN 'CIRCUIT_BREAKER_OPEN'
              WHEN contains(lower(msg), 'docling') OR contains(lower(msg), 'convert')
                   THEN 'EXTRACTION_FAILED'
              WHEN contains(lower(msg), 's3') OR contains(lower(msg), 'storage')
                   THEN 'STORAGE_FAILED'
              ELSE 'UNKNOWN_FAILURE' END AS failure_class
  FROM m
)
SELECT failure_class, count(*) AS n, min(event_id) AS first_event
FROM c GROUP BY 1
""",
    doc="F1 exception-message routing (file-pipeline.yaml:180-202)",
)


def _q_route_all_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE batch route (streaming.pipeline.process_envelope_batch:
    dedup → validate → extract → retry/DLQ split) over every envelope,
    summarized per leg. Oracle-checkable end-to-end because every step is
    deterministic (stub extractor is pure, SURVEY §7 risk c)."""
    from ..streaming.pipeline import process_envelope_batch

    env = _envelope(spark, sf_dir)
    r = process_envelope_batch(env)
    legs = [
        r.processed.select(F.lit("PROCESSED").alias("leg"), "correlation_id"),
        r.retry_buffer.select(F.lit("RETRY").alias("leg"), "correlation_id"),
        r.dlq.select(F.lit("DLQ").alias("leg"), "correlation_id"),
    ]
    u = legs[0].unionByName(legs[1]).unionByName(legs[2])
    out = u.groupBy("leg").agg(
        F.count("*").alias("n"),
        F.min("correlation_id").alias("first_id"),
    )
    # materialize the tiny summary and release the route's cached
    # intermediates (PipelineResult contract) before returning
    rows = out.collect()
    r.unpersist()
    return local_df(spark, rows, out.schema)


QUERIES["pipe_route_all_legs"] = Q(
    _q_route_all_legs,
    ENV_CTE
    + f"""
, disp AS (
  SELECT correlation_id,
         CASE WHEN {REJECT_CASE} IS NULL THEN 'PROCESSED'
              WHEN delivery_count >= 3 THEN 'DLQ'
              ELSE 'RETRY' END AS leg
  FROM envelope
)
SELECT leg, count(*) AS n, min(correlation_id) AS first_id
FROM disp GROUP BY 1
""",
    doc="full batch route E2E: dedup→validate→extract→retry/DLQ (file-pipeline.yaml:23-277)",
)


def _q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7 step 2 — 'arrived but never processed' reconciliation:
    anti-join of the envelope stream against the processed leg.

    Oracle premise: correlation ids are unique in the fixture (true for
    events at every sf), so the route's ST7 dedup is a no-op; with
    duplicate ids the engine-side dedup semantics would be the intended
    behavior and the per-row oracle would diverge."""
    from ..streaming.pipeline import process_envelope_batch

    env = _envelope(spark, sf_dir)
    r = process_envelope_batch(env)
    arrived = env.select("correlation_id", "delivery_count")
    done = r.processed.select("correlation_id")
    out = (
        arrived.join(done, "correlation_id", "left_anti")
        .groupBy("delivery_count")
        .agg(F.count("*").alias("n_unprocessed"), F.min("correlation_id").alias("first_id"))
    )
    rows = out.collect()
    r.unpersist()
    return local_df(spark, rows, out.schema)


QUERIES["pipe_reconciliation_anti"] = Q(
    _q_reconciliation,
    ENV_CTE
    + f"""
SELECT delivery_count, count(*) AS n_unprocessed, min(correlation_id) AS first_id
FROM envelope
WHERE {REJECT_CASE} IS NOT NULL
GROUP BY 1
""",
    doc="arrived-but-never-processed anti-join reconciliation (SURVEY §7.2)",
)


def _drain_stream(out: DataFrame, prefix: str, output_mode: str = "append"):
    """Run a streaming frame to completion through a memory sink and
    return the emitted rows (collected); the uuid-named temp view is
    dropped afterwards so repeated gate runs don't pin emitted rows in
    driver memory. Shared by the streaming-twin e2e oracles
    (``output_mode='complete'`` for full-state sinks like sessionize)."""
    import uuid

    spark = out.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    # state partitioning is pinned at .start() — scope it to the
    # fixture-sized value for every drained e2e stream (base.py)
    with scoped_conf(spark, STREAM_SHUFFLE):
        q = (
            out.writeStream.format("memory").queryName(sink)
            .outputMode(output_mode).start()
        )
        try:
            q.processAllAvailable()
            return spark.table(sink).collect()
        finally:
            q.stop()
            spark.catalog.dropTempView(sink)


def _q_stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming type-1 compaction driven to completion and ORACLE-
    checked (not just unit-paired): the events table is re-written as
    4 parquet files consumed one per micro-batch, the stateful
    latest-state operator runs across those batches (cross-batch state
    store, out-of-order deliveries between batches), and the emitted
    changelog is folded to the final current row per key — which must
    equal DuckDB's window-over-the-whole-table answer exactly."""
    import shutil
    import tempfile

    from ..streaming.state import streaming_latest_state

    work = tempfile.mkdtemp(prefix="stream_latest_")
    try:
        src = f"{work}/events"
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        ev.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("user_id", F.col("user_id").cast("string"))
        )  # LATEST_SCHEMA keys are strings
        out = streaming_latest_state(stream, "user_id", "ts", "event_id", "event_type")
        emitted = local_df(spark, 
            _drain_stream(out, "latest"),
            "key string, last_ts timestamp, last_tiebreak long, last_state string",
        )
        final = emitted.groupBy("key").agg(
            F.max(F.struct("last_ts", "last_tiebreak", "last_state")).alias("m")
        )
        rows = final.select(
            F.col("key").cast("long").alias("user_id"),
            F.col("m.last_tiebreak").alias("last_event_id"),
            F.col("m.last_state").alias("last_event_type"),
            F.date_format("m.last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        ).collect()
        return local_df(spark, 
            rows, "user_id long, last_event_id long, last_event_type string, last_ts string"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_latest_state_e2e"] = Q(
    _q_stream_latest_state,
    """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
    doc="stateful streaming latest-state driven across 4 micro-batches, oracle-checked",
)


def _q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel driven across 4 TIME-ORDERED micro-batches and
    oracle-checked against the batch chained-min formulation: with
    per-key in-order delivery (enforced here by quartile-splitting the
    stream on event time and feeding files in mtime order — the ST2
    ordering contract), the stateful twin's final per-key completion
    count must equal the batch answer exactly."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..streaming.state import streaming_funnel

    work = tempfile.mkdtemp(prefix="stream_funnel_")
    try:
        # NULL keys excluded on BOTH sides (the oracle's IS NOT NULL)
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
        ).select(
            F.col("user_id").cast("string").alias("user_id"),
            "ts",
            "event_id",
            *[
                (F.col("event_type") == s).alias(f"s{i}")
                for i, s in enumerate(("signup", "view", "click", "purchase"))
            ],
        )
        stream = _time_ordered_stream(spark, ev, epoch_seconds(F.col("ts")), work)
        out = streaming_funnel(
            stream, "user_id", "ts", ["s0", "s1", "s2", "s3"],
            max_gap_seconds=259200, tiebreak_col="event_id",
        )
        final = (
            local_df(spark, 
                _drain_stream(out, "funnel"),
                "key string, steps_completed int, step_times array<double>",
            )
            .groupBy("key")
            .agg(F.max("steps_completed").alias("steps"))
            .groupBy("steps")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
            .collect()
        )
        # keys that never advanced past 0 steps never emit: fold them in
        emitted = sum(r.n_keys for r in final)
        total_users = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select("user_id").distinct().count()
        )
        rows = [(int(r.steps), int(r.n_keys)) for r in final]
        if total_users > emitted:
            rows.append((0, total_users - emitted))
        return local_df(spark, rows, "steps_completed int, n_keys long")
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_funnel_e2e"] = Q(
    _q_stream_funnel,
    """
WITH t1 AS (SELECT user_id, min(epoch(ts)) AS t FROM events
            WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, min(epoch(e.ts)) AS t FROM events e
       JOIN t1 ON e.user_id = t1.user_id
       WHERE e.event_type = 'view' AND epoch(e.ts) > t1.t
         AND epoch(e.ts) <= t1.t + 259200 GROUP BY 1),
t3 AS (SELECT e.user_id, min(epoch(e.ts)) AS t FROM events e
       JOIN t2 ON e.user_id = t2.user_id
       WHERE e.event_type = 'click' AND epoch(e.ts) > t2.t
         AND epoch(e.ts) <= t2.t + 259200 GROUP BY 1),
t4 AS (SELECT e.user_id, min(epoch(e.ts)) AS t FROM events e
       JOIN t3 ON e.user_id = t3.user_id
       WHERE e.event_type = 'purchase' AND epoch(e.ts) > t3.t
         AND epoch(e.ts) <= t3.t + 259200 GROUP BY 1)
SELECT CAST(steps_completed AS INTEGER) AS steps_completed,
       count(*)::BIGINT AS n_keys
FROM (
  SELECT CASE WHEN t4.user_id IS NOT NULL THEN 4
              WHEN t3.user_id IS NOT NULL THEN 3
              WHEN t2.user_id IS NOT NULL THEN 2
              WHEN t1.user_id IS NOT NULL THEN 1
              ELSE 0 END AS steps_completed
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL) u
  LEFT JOIN t1 ON u.user_id = t1.user_id
  LEFT JOIN t2 ON u.user_id = t2.user_id
  LEFT JOIN t3 ON u.user_id = t3.user_id
  LEFT JOIN t4 ON u.user_id = t4.user_id
)
GROUP BY 1
""",
    doc="stateful streaming funnel across time-ordered micro-batches, oracle-checked",
)


def _time_ordered_stream(spark: SparkSession, df: DataFrame, order_expr, work: str):
    """Write ``df`` as 4 time-quartile parquet files with ascending
    mtimes and open them as a 1-file-per-trigger stream — the ST2
    in-order-delivery harness the streaming-twin e2e oracles share."""
    import os
    import shutil

    bounds = (
        df.withColumn("_sec", order_expr)
        .agg(
            F.expr("percentile(_sec, 0.25)").alias("q0"),
            F.expr("percentile(_sec, 0.5)").alias("q1"),
            F.expr("percentile(_sec, 0.75)").alias("q2"),
        )
        .first()
    )
    src = f"{work}/stream"
    os.makedirs(src)
    cuts = [None, bounds.q0, bounds.q1, bounds.q2, None]
    for i in range(4):
        part = df
        if cuts[i] is not None:
            part = part.filter(order_expr >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(order_expr < cuts[i + 1])
        tmp = f"{work}/part{i}"
        part.coalesce(1).write.parquet(tmp)
        pf = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f"{tmp}/{pf}", dst)
        os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _q_stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful streaming z-score spike detector driven across 4
    time-ordered micro-batches of the bucketed series, oracle-checked
    against the batch rolling-window SQL (the twin-parity contract,
    now certified by the gate and not just a unit test)."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..streaming.state import streaming_zscore_spikes

    work = tempfile.mkdtemp(prefix="stream_zscore_")
    try:
        ev = load_table(spark, sf_dir, "events")
        b = ev.groupBy(
            F.col("event_type").alias("group_key"),
            F.window(F.col("ts"), "5 minutes").start.alias("bucket_start"),
        ).agg(F.count("*").cast("long").alias("n_events"))
        stream = _time_ordered_stream(
            spark, b, epoch_seconds(F.col("bucket_start")), work
        )
        out = streaming_zscore_spikes(stream, "group_key", "bucket_start", "n_events")
        from ..streaming.state import SPIKE_SCHEMA

        rows = (
            local_df(spark, _drain_stream(out, "zs"), SPIKE_SCHEMA)
            .select(
                F.col("group_key").alias("event_type"),
                F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "bucket_start"
                ),
                "n_events",
                "mean_prev",
                "std_prev",
                "zscore",
                "spike",
            )
            .collect()
        )
        return local_df(spark, 
            rows,
            "event_type string, bucket_start string, n_events long, "
            "mean_prev double, std_prev double, zscore double, spike int",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_zscore_e2e"] = Q(
    _q_stream_zscore,
    """
WITH b AS (
  SELECT event_type,
         strftime(time_bucket(INTERVAL '5 minutes', ts),
                  '%Y-%m-%d %H:%M:%S') AS bucket_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, bucket_start, n_events,
         count(n_events) OVER w AS n,
         CAST(sum(n_events) OVER w AS BIGINT) AS s1,
         CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
), c AS (
  SELECT event_type, bucket_start, n_events, n,
         CAST(s1 AS DOUBLE) / n AS mean,
         (CAST(s2 AS DOUBLE) - CAST(s1 * s1 AS DOUBLE) / n) / (n - 1) AS var
  FROM r
), f AS (
  SELECT event_type, bucket_start, n_events,
         (n >= 5 AND var > 0) AS ok, mean, sqrt(var) AS std
  FROM c
)
SELECT event_type, bucket_start, n_events,
       round(CASE WHEN ok THEN mean END, 4) AS mean_prev,
       round(CASE WHEN ok THEN std END, 4) AS std_prev,
       round(CASE WHEN ok THEN (n_events - mean) / std END, 4) AS zscore,
       CAST(coalesce(abs(CASE WHEN ok THEN (n_events - mean) / std END) >= 3.0,
                     FALSE) AS INTEGER) AS spike
FROM f
""",
    doc="stateful streaming z-score spikes across time-ordered micro-batches, oracle-checked",
)


def _q_stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful `for: N` debounce twin driven across time-ordered
    micro-batches of the A1 error-rate series, oracle-checked against
    a gaps-and-islands SQL formulation of its consecutive-run
    semantics (run length resets on any non-breach row)."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..operators.monitoring import error_rate
    from ..streaming.state import ALERT_SCHEMA, debounced_alerts

    work = tempfile.mkdtemp(prefix="stream_debounce_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("ts").alias("event_time"),
            F.when(F.col("event_type") == "error", F.lit("FAILED"))
            .otherwise(F.lit("COMPLETED"))
            .alias("status"),
        )
        series = error_rate(ev, window="5 minutes").select(
            F.lit("error_rate").alias("alert_key"),
            F.col("window_start"),
            F.round("error_rate", 6).alias("value"),
        )
        stream = _time_ordered_stream(
            spark, series, epoch_seconds(F.col("window_start")), work
        )
        out = debounced_alerts(
            stream, "alert_key", "window_start", "value",
            threshold=0.1, consecutive=5,
        )
        rows = (
            local_df(spark, _drain_stream(out, "db"), ALERT_SCHEMA)
            .select(
                "alert_key",
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                F.round("value", 6).alias("value"),
                F.col("breach_run").cast("int").alias("breach_run"),
                "alert",
            )
            .collect()
        )
        return local_df(spark, 
            rows,
            "alert_key string, window_start string, value double, "
            "breach_run int, alert boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_debounce_e2e"] = Q(
    _q_stream_debounce,
    """
WITH pe AS (
  SELECT ts AS event_time,
         CASE WHEN event_type = 'error' THEN 'FAILED' ELSE 'COMPLETED' END AS status
  FROM events
), b AS (
  SELECT time_bucket(INTERVAL '5 minutes', event_time) AS w,
         round(sum(CASE WHEN status = 'FAILED' THEN 1 ELSE 0 END) / count(*), 6) AS value
  FROM pe GROUP BY 1
), r AS (
  SELECT w, value,
         row_number() OVER (ORDER BY w) AS rn,
         CASE WHEN value > 0.1 THEN 1 ELSE 0 END AS breach
  FROM b
), g AS (
  SELECT w, value, rn, breach,
         coalesce(max(CASE WHEN breach = 0 THEN rn END)
                  OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  0) AS last_ok
  FROM r
)
SELECT 'error_rate' AS alert_key,
       strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       value,
       CAST(CASE WHEN breach = 1 THEN rn - last_ok ELSE 0 END AS INTEGER) AS breach_run,
       (CASE WHEN breach = 1 THEN rn - last_ok ELSE 0 END) >= 5 AS alert
FROM g
""",
    doc="stateful for:N debounce across time-ordered micro-batches, oracle-checked (gaps-and-islands run)",
)


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming duplicate suppression (ST7) driven e2e and
    oracle-checked: every event is delivered TWICE (the union models
    at-least-once redelivery), the watermarked
    dropDuplicatesWithinWatermark pass must reduce the stream back to
    exactly the distinct ids — certified as per-type survivor counts
    against plain SQL distinct."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..streaming.dedupe import suppress_redeliveries

    work = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            # watermarks require TIMESTAMP (LTZ); the UTC-pinned session
            # makes the NTZ→LTZ cast value-preserving (derivations.py)
            F.col("ts").cast("timestamp_ltz").alias("ts"),
            "event_type",
        )
        doubled = ev.unionByName(ev)  # at-least-once: every row twice
        stream = _time_ordered_stream(
            spark, doubled, epoch_seconds(F.col("ts")), work
        )
        out = suppress_redeliveries(
            stream, time_col="ts", key_col="event_id", watermark="1 hour"
        )
        rows = local_df(spark, 
            _drain_stream(out, "dedup"), "event_id long, ts timestamp, event_type string"
        )
        summary = (
            rows.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
            .collect()
        )
        return local_df(spark, 
            [(r.event_type, r.n_unique) for r in summary],
            "event_type string, n_unique long",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_dedup_e2e"] = Q(
    _q_stream_dedup,
    """
SELECT event_type, count(DISTINCT event_id)::BIGINT AS n_unique
FROM events GROUP BY 1
""",
    doc="streaming redelivery suppression (ST7) e2e: doubled stream reduced to distinct ids",
)


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation run as a STREAM across 4
    time-ordered micro-batches and oracle-checked against the batch
    gaps-and-islands SQL: sessions opened in one batch must merge with
    activity arriving in later batches (cross-batch session-state
    merge, the part a batch test can't exercise). Complete output mode
    re-emits the whole session table each trigger, so the final sink
    content IS the converged session set — no watermark flush trick
    needed, and every session (including those touching the stream's
    last event) is certified."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds

    work = tempfile.mkdtemp(prefix="stream_sessionize_")
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        stream = _time_ordered_stream(spark, ev, epoch_seconds(F.col("ts")), work)
        out = stream.groupBy(
            F.session_window(F.col("ts"), "5 minutes").alias("sw"), "user_id"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        emitted = local_df(spark, 
            _drain_stream(out, "sess", output_mode="complete"),
            "sw struct<start: timestamp, end: timestamp>, user_id long, n_events bigint",
        )
        rows = emitted.select(
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "user_id",
            "n_events",
        ).collect()
        return local_df(spark, 
            rows, "session_start string, user_id long, n_events bigint"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_sessionize_e2e"] = Q(
    _q_stream_sessionize,
    """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events WHERE ts IS NOT NULL  -- session_window drops NULL-ts rows
), m AS (
  SELECT user_id, ts,
         CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) >= 300 THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       user_id, CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
    doc="native session_window streamed across micro-batches (cross-batch session merge) vs gaps-and-islands oracle",
)


def _q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics certified END-TO-END over daily
    tumbling counts (``withWatermark('ts', '2 days')``, append mode).

    Spark's stateful operators use TWO watermark values per batch
    (SPARK-40925): rows are dropped with the LATE-EVENTS watermark —
    the eviction watermark of the PREVIOUS batch, i.e. the value
    computed at the end of batch N−2 — while emission/eviction uses
    the value from batch N−1. Verified empirically on this engine
    (a 2-batch split drops nothing); the stream therefore uses THREE
    micro-batches: mid days [06,16), then [16,26), then a final file
    carrying the newest days AND the oldest days re-delivered late.
    During batch 3 the late filter is max(batch-1 ts) − 2 d ≈ day 14,
    so the re-delivered days 1–5 are DROPPED; emission covers window
    end ≤ max(all ts) − 2 d, so the newest ~2 days stay open forever.
    The oracle replicates this arithmetic exactly — every dropped row,
    emitted window, and held-open window is hash-checked.
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="stream_wm_")
    try:
        # watermark needs TIMESTAMP (LTZ); the fixture loads as NTZ.
        # Session TZ is pinned UTC so the cast is value-preserving.
        ev = load_table(spark, sf_dir, "events").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        c1 = F.lit("2024-01-06").cast("timestamp")
        c2 = F.lit("2024-01-16").cast("timestamp")
        c3 = F.lit("2024-01-26").cast("timestamp")
        parts = [
            ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
            ev.filter((F.col("ts") >= c2) & (F.col("ts") < c3)),
            ev.filter((F.col("ts") < c1) | (F.col("ts") >= c3)),
        ]
        src = f"{work}/stream"
        os.makedirs(src)
        for i, part in enumerate(parts):
            tmp = f"{work}/part{i}"
            part.coalesce(1).write.parquet(tmp)
            pf = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            dst = f"{src}/{i:03d}.parquet"
            shutil.copy(f"{tmp}/{pf}", dst)
            os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = (
            stream.withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        )
        rows = local_df(spark, 
            _drain_stream(out, "wm"),
            "w struct<start: timestamp, end: timestamp>, event_type string, n_events bigint",
        )
        final = rows.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        ).collect()
        return local_df(spark, 
            final, "day string, event_type string, n_events bigint"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_watermark_drops_e2e"] = Q(
    _q_stream_watermark,
    """
WITH b1 AS (
  SELECT ts, event_type FROM events
  WHERE ts >= TIMESTAMP '2024-01-06' AND ts < TIMESTAMP '2024-01-16'
), b3 AS (
  SELECT ts, event_type FROM events
  WHERE ts < TIMESTAMP '2024-01-06' OR ts >= TIMESTAMP '2024-01-26'
), late_wm AS (
  -- the late-events watermark in effect during batch 3 = eviction
  -- watermark of batch 2 = value computed at the END of batch 1
  SELECT max(ts) - INTERVAL 2 DAY AS w FROM b1
), kept3 AS (
  SELECT b3.ts, b3.event_type FROM b3, late_wm
  WHERE date_trunc('day', b3.ts) + INTERVAL 1 DAY > late_wm.w
), allk AS (
  SELECT ts, event_type FROM events
  WHERE ts >= TIMESTAMP '2024-01-06' AND ts < TIMESTAMP '2024-01-26'
  UNION ALL SELECT * FROM kept3
), final_wm AS (SELECT max(ts) - INTERVAL 2 DAY AS w FROM events),
agg AS (
  SELECT date_trunc('day', ts) AS d, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM allk GROUP BY 1, 2
)
SELECT strftime(d, '%Y-%m-%d') AS day, event_type, n_events
FROM agg, final_wm WHERE d + INTERVAL 1 DAY <= final_wm.w
""",
    doc="watermark late-data contract e2e: lagged late-events filter drops re-delivered days, newest windows held open — exact-arithmetic oracle",
)


def _q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join certified end-to-end: signups and
    purchases are two filtered views of the same 4-file micro-batched
    stream, joined per user with a 3-day event-time range condition
    and watermarks on both sides. A purchase can arrive BATCHES before
    or after its signup — both sides buffer in the join state store
    and the match emits when the partner lands, which is exactly what
    a batch join can't exercise. The watermark delay (40 days) exceeds
    the fixture's span, so no state is evicted and the converged
    output must equal the batch join EXACTLY — the oracle is that
    plain join. (Eviction-side semantics are certified separately by
    ``stream_watermark_drops_e2e``'s lag arithmetic.)"""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds

    work = tempfile.mkdtemp(prefix="stream_ssj_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
        ).filter(F.col("user_id").isNotNull())
        stream = _time_ordered_stream(spark, ev, epoch_seconds(F.col("ts")), work)
        signups = (
            stream.filter(F.col("event_type") == "signup")
            .select(
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("s_ts"),
                F.col("event_id").alias("signup_id"),
            )
            .withWatermark("s_ts", "40 days")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", "40 days")
        )
        joined = signups.join(
            purchases,
            F.expr(
                "s_user = p_user AND p_ts > s_ts"
                " AND p_ts <= s_ts + interval 3 days"
            ),
        ).select("s_user", "signup_id", "purchase_id")
        rows = _drain_stream(joined, "ssj")
        return local_df(spark, 
            rows, "s_user long, signup_id long, purchase_id long"
        ).withColumnRenamed("s_user", "user_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_stream_join_e2e"] = Q(
    _q_stream_stream_join,
    """
SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3 DAY
WHERE s.user_id IS NOT NULL
""",
    doc="stream-stream windowed inner join across micro-batches (cross-batch buffering) == batch join oracle",
)


def _q_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.h multimodal, REAL decode: build spec-valid 24-bpp BMP blobs
    engine-side (pure Catalyst hex/concat — bmp_bytes_sql), then parse
    them back through the Arrow-batched decode_images path. The oracle
    recomputes the dims arithmetically, so a parser that misreads the
    header cannot hash-match. Certifies the real BMP decoder end-to-end
    (round-8 upgrade of the r7 'decode backends honestly stubbed' gap)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    w_expr = "CAST(1 + n_chars % 16 AS INTEGER)"
    h_expr = "CAST(1 + n_chars % 13 AS INTEGER)"
    blob = multimodal.bmp_bytes_sql(w_expr, h_expr)
    df = docs.selectExpr("doc_id", f"{blob} AS content")
    out = multimodal.decode_images(df, "content")
    return out.select(
        "doc_id", "img_width", "img_height", "img_n_pixels", "img_format"
    )


QUERIES["multimodal_decode_bmp"] = Q(
    _q_decode_bmp,
    """
SELECT doc_id,
       CAST(1 + n_chars % 16 AS INTEGER) AS img_width,
       CAST(1 + n_chars % 13 AS INTEGER) AS img_height,
       CAST((1 + n_chars % 16) * (1 + n_chars % 13) AS BIGINT) AS img_n_pixels,
       'bmp' AS img_format
FROM documents
WHERE n_chars IS NOT NULL
""",
    doc="REAL BMP decode: engine-built blobs parsed back via mapInPandas; oracle recomputes dims",
)


def _q_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.h multimodal, REAL audio decode: spec-valid PCM16 WAV blobs
    built engine-side (wav_bytes_sql), parsed back through
    extract_audio_features — RIFF chunk walk recovers sample rate,
    channels, and duration = data_bytes/byte_rate; the zeroed payload
    makes true int16 RMS exactly 0.0 (nonzero-PCM RMS is unit-tested
    against numpy in tests/test_multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    rate = "CAST(8000 * (1 + n_chars % 3) AS INTEGER)"
    ch = "CAST(1 + n_chars % 2 AS INTEGER)"
    nsamp = "CAST(1 + n_chars % 50 AS INTEGER)"
    blob = multimodal.wav_bytes_sql(rate, ch, nsamp)
    df = docs.selectExpr("doc_id", f"{blob} AS content")
    out = multimodal.extract_audio_features(df, "content")
    return out.select(
        "doc_id",
        "audio_sample_rate",
        "audio_channels",
        "audio_duration_seconds",
        "audio_rms_level",
    )


QUERIES["multimodal_decode_wav"] = Q(
    _q_decode_wav,
    """
SELECT doc_id,
       CAST(8000 * (1 + n_chars % 3) AS INTEGER) AS audio_sample_rate,
       CAST(1 + n_chars % 2 AS INTEGER) AS audio_channels,
       CAST(1 + n_chars % 50 AS DOUBLE)
             / (8000 * (1 + n_chars % 3)) AS audio_duration_seconds,
       CAST(0.0 AS DOUBLE) AS audio_rms_level
FROM documents
WHERE n_chars IS NOT NULL
""",
    doc="REAL WAV decode: engine-built RIFF/PCM16 blobs parsed back; oracle recomputes rate/channels/duration",
)


def _q_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.h multimodal, REAL decode, PPM leg (round 8): build binary-PPM
    headers engine-side — magic, a '#' comment line (exercising the
    comment-skip branch), ASCII width/height/maxval — encode to bytes,
    and parse them back through the same Arrow-batched decode_images
    path as the BMP leg. The oracle recomputes dims arithmetically, so
    a parser that misreads whitespace/comment structure cannot
    hash-match. Together with multimodal_decode_bmp (binary little-
    endian header) and _wav (RIFF chunk walk) this certifies all three
    real pure-Python decoder families end-to-end."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    w = (1 + F.col("n_chars") % 23).cast("int")
    h = (1 + F.col("n_chars") % 17).cast("int")
    nl = F.lit("\n")
    header = F.concat(
        F.lit("P6"), nl,
        F.lit("# engine-built fixture"), nl,
        w.cast("string"), F.lit(" "), h.cast("string"), nl,
        F.lit("255"), nl,
    )
    df = docs.select(
        "doc_id", F.encode(header, "UTF-8").alias("content")
    )
    out = multimodal.decode_images(df, "content")
    return out.select(
        "doc_id", "img_width", "img_height", "img_n_pixels", "img_format"
    )


QUERIES["multimodal_decode_ppm"] = Q(
    _q_decode_ppm,
    """
SELECT doc_id,
       CAST(1 + n_chars % 23 AS INTEGER) AS img_width,
       CAST(1 + n_chars % 17 AS INTEGER) AS img_height,
       CAST((1 + n_chars % 23) * (1 + n_chars % 17) AS BIGINT) AS img_n_pixels,
       'ppm' AS img_format
FROM documents
WHERE n_chars IS NOT NULL
""",
    doc="REAL PPM decode: ASCII headers with comment lines parsed back via mapInPandas; oracle recomputes dims",
)


def _q_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stream_cdc_merge(spark, sf_dir, layout="hive")


def _q_stream_cdc_merge_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 9: the SAME end-to-end CDC stream as stream_cdc_merge_e2e,
    but the sink bootstraps a MANIFEST table (layout='manifest'), so
    every micro-batch commit is the atomic manifest/pointer swap — a
    reader concurrent with the sink sees whole-batch-before or
    whole-batch-after, never a partition-granular tear. Same relational
    oracle (the protocols must agree on semantics), read back through
    read_table with the deterministic final version (bootstrap + 3
    merges = v4) folded into every row so a sink that skipped or
    double-applied a batch cannot hash-match."""
    return _stream_cdc_merge(spark, sf_dir, layout="manifest")


def _stream_cdc_merge(
    spark: SparkSession, sf_dir: str, layout: str
) -> DataFrame:
    """Streaming CDC MERGE sink driven end-to-end (round 8): the events
    table becomes a changelog (op = tombstone on 'error', else upsert;
    key = user_id; partition = user_id % 8), delivered in 4 time-ordered
    micro-batches through foreachBatch → ordered merge_into_partitioned
    (streaming/merge_sink.py). The FINAL TABLE must equal the batch
    oracle: each user's (ts, event_id)-latest event, absent when that
    event is a tombstone. Certifies cross-batch upsert/delete ordering,
    bootstrap, and partition-pruned per-batch merges across real
    micro-batch boundaries.

    Scale shape: per micro-batch work is delta-sized (contested-key
    window + touched partitions only); the final read is a plain scan."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..streaming.merge_sink import start_changelog_merge_sink

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("pt", (F.col("user_id") % 8).cast("int"))
    )
    work = tempfile.mkdtemp(prefix="cdc_merge_")
    table = f"{work}/state"
    try:
        stream = _time_ordered_stream(
            spark, ev, epoch_seconds(F.col("ts")), work
        )
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_changelog_merge_sink(
                spark,
                stream,
                table,
                "user_id",
                ["pt"],
                "ts",
                "op",
                f"{work}/ckpt",
                tiebreak_cols=("event_id",),
                layout=layout,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        from ..operators.table import ManifestTable, read_table

        final = read_table(spark, table)  # layout-agnostic reader
        rows = (
            final.select("user_id", "pt", "event_id", "event_type")
            .collect()
        )
        out = local_df(spark, 
            rows, "user_id long, pt int, event_id long, event_type string"
        ).withColumnRenamed("event_id", "last_event_id")
        if layout == "manifest":
            version = ManifestTable(spark, table).current_version()
            out = out.withColumn(
                "table_version", F.lit(version).cast("int")
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_cdc_merge_e2e"] = Q(
    _q_stream_cdc_merge,
    """
WITH ranked AS (
  SELECT user_id, CAST(user_id % 8 AS INTEGER) AS pt, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, pt, event_id AS last_event_id, event_type
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="streaming CDC merge sink across micro-batches == batch latest-state-with-tombstones oracle",
)


QUERIES["stream_cdc_merge_manifest_e2e"] = Q(
    _q_stream_cdc_merge_manifest,
    """
WITH ranked AS (
  SELECT user_id, CAST(user_id % 8 AS INTEGER) AS pt, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, pt, event_id AS last_event_id, event_type,
       CAST(4 AS INT) AS table_version
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="manifest-layout CDC sink: atomic per-batch commits across micro-batches == same relational oracle + version count",
)


def _q_stream_table_changes_tail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming commit-feed tail driven end-to-end (round 9): the
    read side of the manifest-table loop. Persist events as a manifest
    table, START the changes tail (streaming/table_tail.py — file
    stream source over the manifest dir, per-commit diffs emitted
    JVM-side into idempotent feed dirs), then commit the standard
    update/delete/insert delta WHILE the tail runs. The accumulated
    feed must contain commit 1 as a full initial snapshot (every row
    an insert) and commit 2 as exactly the relational diff — an
    emitted duplicate, a skipped version, or a leaked unchanged row
    all break the hash. Completes the CDC story: atomic commits in,
    O(delta) streaming change feeds out.

    Scale shape: the stream moves manifest METADATA only (one tiny
    JSON row per commit); each diff is manifest-pruned to the changed
    partitions and one shuffle; the feed read is a single
    explicit-schema scan over complete dirs."""
    import shutil
    import tempfile

    from ..operators.sampling import rate_bucket
    from ..operators.scale import merge_into_partitioned
    from ..operators.table import ManifestTable
    from ..streaming.table_tail import (
        read_changes_feed,
        start_table_changes_tail,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    b = rate_bucket(F.col("event_id"))
    touched = F.col("event_type").isin("click", "error")
    work = tempfile.mkdtemp(prefix="table_tail_")
    path = f"{work}/events_by_type"
    feed = f"{work}/feed"
    try:
        ManifestTable(spark, path).create(ev, ["event_type"])
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_table_changes_tail(spark, path, feed, f"{work}/ckpt")
        try:
            q.processAllAvailable()  # commit 1: initial snapshot
            upd = ev.filter(touched & (b < 1000)).withColumn(
                "props", F.concat(F.col("props"), F.lit(" [v2]"))
            ).withColumn("op", F.lit("U"))
            dele = ev.filter(
                touched & (b >= 1000) & (b < 1500)
            ).withColumn("op", F.lit("D"))
            ins = (
                ev.filter(touched & (b < 300))
                .withColumn(
                    "event_id", F.col("event_id") + F.lit(10_000_000)
                )
                .withColumn(
                    "props", F.concat(F.col("props"), F.lit(" [new]"))
                )
                .withColumn("op", F.lit("U"))
            )
            merge_into_partitioned(
                spark, path, upd.unionByName(dele).unionByName(ins),
                ["event_id"], ["event_type"], op_col="op",
            )
            q.processAllAvailable()  # commit 2: the delta diff
        finally:
            q.stop()
        rows = (
            read_changes_feed(spark, path, feed)
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                "event_type",
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
            )
            .collect()  # materialize before the temp dirs are removed
        )
        return local_df(spark, 
            rows,
            "commit_version int, event_type string, change_type string,"
            " n_rows bigint, id_checksum bigint",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


from .relational_q import _EBUCKET as _TAIL_EBUCKET  # noqa: E402


QUERIES["stream_table_changes_tail_e2e"] = Q(
    _q_stream_table_changes_tail,
    f"""
WITH ev AS (SELECT event_id, event_type, props, {_TAIL_EBUCKET} AS bk,
                   event_type IN ('click', 'error') AS touched
            FROM events),
upd AS (SELECT event_id, event_type FROM ev WHERE touched AND bk < 1000
          AND props || ' [v2]' IS DISTINCT FROM props),
del AS (SELECT event_id, event_type FROM ev
        WHERE touched AND bk >= 1000 AND bk < 1500),
ins AS (SELECT event_id + 10000000 AS event_id, event_type
        FROM ev WHERE touched AND bk < 300),
deletes AS (SELECT event_type, event_id FROM upd
            UNION ALL SELECT event_type, event_id FROM del),
inserts AS (SELECT event_type, event_id FROM upd
            UNION ALL SELECT event_type, event_id FROM ins)
SELECT CAST(1 AS INT) AS commit_version, event_type,
       'insert' AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM ev GROUP BY 2
UNION ALL
SELECT CAST(2 AS INT), event_type, 'delete',
       CAST(count(*) AS BIGINT), CAST(sum(event_id) AS BIGINT)
FROM deletes GROUP BY 2
UNION ALL
SELECT CAST(2 AS INT), event_type, 'insert',
       CAST(count(*) AS BIGINT), CAST(sum(event_id) AS BIGINT)
FROM inserts GROUP BY 2
""",
    doc="streaming commit-feed tail e2e: initial snapshot + live-merge diff == relational oracle",
)


def _q_stream_feed_prune_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-feed retention end-to-end (round 10): three manifest
    commits (create, update merge, delete merge) tailed with
    ``feed_retain_versions=1`` and one commit per micro-batch — after
    the drain the feed must hold ONLY the newest version's diff (the
    older feed dirs pruned after each batch) and the
    ``_PRUNED_THROUGH`` high-water must record the newest pruned
    version, which is what lets the lag guard keep working on a
    pruned feed. A leaked old dir, an over-pruned newest dir, or a
    wrong high-water each break a column.

    Scale shape: a long-lived tail's feed footprint becomes O(N
    retained) instead of O(all commits ever); each prune is one feed
    listing plus one delete per expired dir."""
    import shutil
    import tempfile

    from ..operators.sampling import rate_bucket
    from ..operators.scale import merge_into_partitioned
    from ..operators.table import ManifestTable
    from ..streaming.table_tail import (
        _pruned_through,
        read_changes_feed,
        start_table_changes_tail,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    b = rate_bucket(F.col("event_id"))
    touched = F.col("event_type").isin("click", "error")
    work = tempfile.mkdtemp(prefix="feed_prune_")
    path = f"{work}/events_by_type"
    feed = f"{work}/feed"
    try:
        ManifestTable(spark, path).create(ev, ["event_type"])
        upd = ev.filter(touched & (b < 500)).withColumn(
            "props", F.concat(F.col("props"), F.lit(" [v2]"))
        ).withColumn("op", F.lit("U"))
        merge_into_partitioned(
            spark, path, upd, ["event_id"], ["event_type"], op_col="op",
            retain_versions=10,
        )
        dele = ev.filter(touched & (b >= 500) & (b < 800)).withColumn(
            "op", F.lit("D")
        )
        merge_into_partitioned(
            spark, path, dele, ["event_id"], ["event_type"], op_col="op",
            retain_versions=10,
        )
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_table_changes_tail(
                spark, path, feed, f"{work}/ckpt",
                max_versions_per_trigger=1, feed_retain_versions=1,
            )
        try:
            q.processAllAvailable()  # 3 batches, pruned after each
        finally:
            q.stop()
        pruned_hw = _pruned_through(spark, feed)
        rows = (
            read_changes_feed(
                spark, path, feed, allow_pruned_feed=True
            )
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                "event_type",
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
            )
            .withColumn(
                "pruned_through", F.lit(pruned_hw).cast("int")
            )
            .collect()  # materialize before the temp dirs are removed
        )
        return local_df(spark, 
            rows,
            "commit_version int, event_type string, change_type string,"
            " n_rows bigint, id_checksum bigint, pruned_through int",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_feed_prune_tail_e2e"] = Q(
    _q_stream_feed_prune_tail,
    f"""
WITH ev AS (SELECT event_id, event_type, props, {_TAIL_EBUCKET} AS bk,
                   event_type IN ('click', 'error') AS touched
            FROM events)
-- only commit 3 survives the per-batch prune: the deletes of the
-- bucket [500, 800) rows, whose v2 state is their ORIGINAL row (the
-- v2 update touched only bk < 500)
SELECT CAST(3 AS INT) AS commit_version, event_type,
       'delete' AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_checksum,
       CAST(2 AS INT) AS pruned_through
FROM ev WHERE touched AND bk >= 500 AND bk < 800
GROUP BY 2
""",
    doc="tail with feed_retain_versions=1: feed holds only the newest diff, high-water records the pruned boundary",
)


def _q_stream_ttl_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC sink with EVENT-TIME RETENTION (round 14): the
    same time-ordered 4-batch changelog as stream_cdc_merge_manifest_
    e2e, with ``ttl_keep=864000`` (10 days, in the epoch-seconds
    units of the ordering column) and a sweep after every batch. The
    sink expires rows whose ``ets`` falls more than 10 days behind
    the table's own high watermark — the watermark comes from the
    manifest's entry bounds (``stats_extent``, zero data I/O), the
    expiry is ONE atomic ``delete_where`` commit (stats-pruned,
    file-granular where bounds allow), and a quiet sweep publishes no
    version.

    Determinism across batch boundaries: batches are time-ordered, so
    the watermark is monotone — any row an INTERMEDIATE sweep expires
    is also expired by the FINAL cutoff, and a later batch can only
    re-insert newer rows. The final table therefore equals the batch
    oracle: per-user latest non-tombstone event, kept iff its epoch
    lies within 10 days of the max epoch over that same final state
    (the newest surviving event IS the watermark: tombstoned or
    expired rows cannot carry it, by the same monotonicity).

    Scale shape: per batch one delta-sized merge + one O(metadata)
    watermark fold; the sweep itself touches only the entries/files
    whose bounds admit the cutoff — on a time-clustered table that is
    the oldest files only (the retention cost class every CDC table
    pays weekly at 100 TB)."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..operators.table import ManifestTable
    from ..streaming.merge_sink import start_changelog_merge_sink

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("ets", epoch_seconds(F.col("ts")))
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("pt", (F.col("user_id") % 8).cast("int"))
        .drop("ts", "props")
    )
    work = tempfile.mkdtemp(prefix="cdc_ttl_")
    table = f"{work}/state"
    try:
        stream = _time_ordered_stream(spark, ev, F.col("ets"), work)
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_changelog_merge_sink(
                spark,
                stream,
                table,
                "user_id",
                ["pt"],
                "ets",
                "op",
                f"{work}/ckpt",
                tiebreak_cols=("event_id",),
                layout="manifest",
                retain_versions=10,
                ttl_keep=864000.0,
                ttl_delete_every=1,
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        mt = ManifestTable(spark, table)
        final = mt.read()
        rows = final.select(
            "user_id", "pt", "event_id", "event_type"
        ).collect()
        return local_df(spark, 
            rows,
            "user_id long, pt int, event_id long, event_type string",
        ).withColumnRenamed("event_id", "last_event_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_ttl_retention_e2e"] = Q(
    _q_stream_ttl_retention,
    """
WITH ranked AS (
  SELECT user_id, CAST(user_id % 8 AS INTEGER) AS pt, event_id,
         event_type, epoch(ts) AS ets,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
final AS (
  SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error'
),
wm AS (SELECT MAX(ets) AS hi FROM final)
SELECT user_id, pt, event_id AS last_event_id, event_type
FROM final, wm
WHERE ets >= wm.hi - 864000.0
""",
    doc="streaming CDC sink with event-time TTL: per-user latest state minus rows older than 10 days behind the manifest-stats watermark, expired as atomic DML the feed observes",
)


def _q_stream_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC sink across a SCHEMA-EVOLUTION boundary (round
    15): the state table is pre-created WITHOUT the ``plen`` column
    (the legacy deployment), then the time-ordered 4-batch changelog
    streams WITH it — the producer-upgrade shape. With
    ``schema_evolution=True`` the first merged batch appends ``plen``
    nullable and every later batch writes it; rows the stream never
    touches (users ≡ 0 mod 3 here, withheld from the stream) keep
    their legacy state and read back NULL — the manifest's
    explicit-schema scan backfills files that predate the column.
    In-function pins: v1 lacks the column, the final schema has it
    nullable, and the feed crosses the boundary (add-only contract).

    Determinism: the legacy table is the changelog fold of the WHOLE
    corpus (per-user latest non-tombstone), so a streamed user's
    final row is their latest event — the legacy row ties on (ets,
    event_id) and loses to the update by the update-beats-current
    tiebreak — and a withheld user keeps the legacy row verbatim.
    The oracle recomputes both classes from ``events``.

    Scale shape: evolution costs zero data I/O mid-stream — no pause,
    no rewrite, the history NULL-backfills at scan time; this is how
    a 100 TB CDC state table survives a producer deploy."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..operators.cdc import apply_changelog
    from ..operators.table import ManifestTable
    from ..streaming.merge_sink import start_changelog_merge_sink

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("ets", epoch_seconds(F.col("ts")))
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("pt", (F.col("user_id") % 8).cast("int"))
    )
    work = tempfile.mkdtemp(prefix="cdc_evo_")
    table = f"{work}/state"
    try:
        legacy = apply_changelog(
            ev.select(
                "user_id", "pt", "event_id", "event_type", "ets", "op"
            ),
            "user_id",
            "ets",
            "op",
            tiebreak_cols=("event_id",),
            delete_op="D",
        ).drop("op")
        mt = ManifestTable(spark, table)
        mt.create(legacy, ["pt"])
        assert "plen" not in mt.read().columns
        streamed = ev.filter(F.col("user_id") % 3 != 0).select(
            "user_id",
            "pt",
            "event_id",
            "event_type",
            "ets",
            F.length("props").cast("int").alias("plen"),
            "op",
        )
        stream = _time_ordered_stream(
            spark, streamed, F.col("ets"), work
        )
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_changelog_merge_sink(
                spark,
                stream,
                table,
                "user_id",
                ["pt"],
                "ets",
                "op",
                f"{work}/ckpt",
                tiebreak_cols=("event_id",),
                layout="manifest",
                retain_versions=10,
                schema_evolution=True,
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        last = mt.schema().fields[-1]
        assert last.name == "plen" and last.nullable, last
        assert "plen" not in mt.read(version=1).columns
        # the feed crosses the evolution boundary add-only
        assert "plen" in mt.changes(1, mt.current_version()).columns
        rows = mt.read().select(
            "user_id", "pt", "event_id", "event_type", "plen"
        ).collect()
        return local_df(spark, 
            rows,
            "user_id long, pt int, event_id long, event_type string,"
            " plen int",
        ).withColumnRenamed("event_id", "last_event_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_schema_evolution_e2e"] = Q(
    _q_stream_schema_evolution,
    """
WITH ranked AS (
  SELECT user_id, CAST(user_id % 8 AS INTEGER) AS pt, event_id,
         event_type, props,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch(ts) DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, pt, event_id AS last_event_id, event_type,
       CASE WHEN user_id % 3 <> 0
            THEN CAST(LENGTH(props) AS INTEGER) END AS plen
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="streaming CDC sink across a schema-evolution boundary: mid-stream add-only column append, streamed users carry values, withheld users NULL-backfill",
)


def _q_stream_type_widening(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC sink across a TYPE-WIDENING boundary (round 16):
    the state table is pre-created with ``vcents`` as INT (integer
    cents — the legacy deployment), then the time-ordered changelog
    streams it as BIGINT offset by 2^40 — out of int range, the shape
    that silently WRAPPED before the r16 cast guard. With
    ``schema_evolution=True`` the first merged batch WIDENS the
    stored type zero-rewrite (manifest schema update; narrow history
    reads through the wide schema via the Spark 4 parquet widening
    read) and every later batch writes wide; users the stream never
    touches (≡ 0 mod 3, withheld) keep their narrow bytes and read
    back exact. In-function pins: v1 is int, the final schema is
    bigint, the feed crosses the boundary wide.

    Determinism: the legacy table is the changelog fold of the whole
    corpus, so a streamed user's final row is their latest event (the
    legacy row ties on (ets, event_id) and loses by the
    update-beats-current tiebreak) and a withheld user keeps the
    legacy row verbatim. The oracle recomputes both classes from
    ``events``.

    Scale shape: a type widening that rewrote a 100 TB state table
    mid-stream would stall the pipeline for hours; this one is
    O(first touched batch) — the bytes stay, the schema moves."""
    import shutil
    import tempfile

    from ..functions.derivations import epoch_seconds
    from ..operators.cdc import apply_changelog
    from ..operators.table import ManifestTable
    from ..streaming.merge_sink import start_changelog_merge_sink

    OFFSET = 2**40
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("ets", epoch_seconds(F.col("ts")))
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("pt", (F.col("user_id") % 8).cast("int"))
    )
    work = tempfile.mkdtemp(prefix="cdc_widen_")
    table = f"{work}/state"
    try:
        legacy = apply_changelog(
            ev.select(
                "user_id", "pt", "event_id", "ets",
                F.round(F.col("value") * 100)
                .cast("int")
                .alias("vcents"),
                "op",
            ),
            "user_id",
            "ets",
            "op",
            tiebreak_cols=("event_id",),
            delete_op="D",
        ).drop("op")
        mt = ManifestTable(spark, table)
        mt.create(legacy, ["pt"])
        assert (
            mt.schema()["vcents"].dataType.simpleString() == "int"
        )
        streamed = ev.filter(F.col("user_id") % 3 != 0).select(
            "user_id",
            "pt",
            "event_id",
            "ets",
            (
                F.round(F.col("value") * 100).cast("bigint")
                + F.lit(OFFSET).cast("bigint")
            ).alias("vcents"),
            "op",
        )
        stream = _time_ordered_stream(
            spark, streamed, F.col("ets"), work
        )
        with scoped_conf(spark, STREAM_SHUFFLE):
            q = start_changelog_merge_sink(
                spark,
                stream,
                table,
                "user_id",
                ["pt"],
                "ets",
                "op",
                f"{work}/ckpt",
                tiebreak_cols=("event_id",),
                layout="manifest",
                retain_versions=10,
                schema_evolution=True,
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # pins: widened in place, narrow history shape preserved
        assert (
            mt.schema()["vcents"].dataType.simpleString() == "bigint"
        )
        assert (
            mt.read(version=1)
            .schema["vcents"]
            .dataType.simpleString()
            == "int"
        )
        assert (
            mt.changes(1, mt.current_version())
            .schema["vcents"]
            .dataType.simpleString()
            == "bigint"
        )
        rows = mt.read().select(
            "user_id", "pt", "event_id", "vcents"
        ).collect()
        return local_df(spark, 
            rows,
            "user_id long, pt int, event_id long, vcents bigint",
        ).withColumnRenamed("event_id", "last_event_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["stream_type_widening_e2e"] = Q(
    _q_stream_type_widening,
    """
WITH ranked AS (
  SELECT user_id, CAST(user_id % 8 AS INTEGER) AS pt, event_id,
         value, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch(ts) DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, pt, event_id AS last_event_id,
       CAST(CAST(ROUND(value * 100) AS BIGINT) + CASE
            WHEN user_id % 3 <> 0 THEN 1099511627776 ELSE 0 END
            AS BIGINT) AS vcents
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="streaming CDC sink across a type-widening boundary: mid-stream int→bigint stored-type widening (zero rewrite), streamed users carry wide values, withheld users' narrow bytes read exact through the wide schema",
)
