"""Streaming window aggregations — the live form of operators.monitoring.

Adds watermarks to the A1-A6 aggregations so state is bounded and late
rows beyond the tolerance are dropped (the engine's analogue of the
broker's expiry address, ST4). The aggregation bodies are shared with
the batch forms — only the watermark wrapper differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.monitoring import error_rate, p95_processing_time


def streaming_error_rate(
    events: DataFrame,
    time_col: str = "event_time",
    status_col: str = "status",
    failed_value: str = "FAILED",
    window: str = "5 minutes",
    slide: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """A1 live: sliding error-rate with bounded state.

    Append-mode emits each window once its watermark passes — the
    streaming equivalent of Prometheus evaluating rate() every 30 s
    (alerts.yaml:16).
    """
    return error_rate(
        events.withWatermark(time_col, watermark),
        time_col, status_col, failed_value, window, slide,
    )


def streaming_dlq_counts(
    dlq: DataFrame,
    file_col: str = "file_name",
    time_col: str = "event_time",
    watermark: str = "1 hour",
    window: str = "1 day",
) -> DataFrame:
    """A6 live: per-file DLQ counter (update mode), the micrometer counter
    S11 (dlq-handler.yaml:129-132) as a streaming aggregation.

    Grouping includes a time window so the watermark actually EVICTS
    state: a plain groupBy(file) would hold one state entry per distinct
    file name forever (file names are mostly unique here)."""
    return (
        dlq.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"), F.col(file_col))
        .agg(F.count("*").alias("dlq_messages_total"))
        .select(F.col("w.start").alias("window_start"), file_col, "dlq_messages_total")
    )


def streaming_p95(
    events: DataFrame,
    time_col: str = "event_time",
    duration_col: str = "processing_seconds",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """A3/A4 live: the p95 latency quantile per (window, dims) with
    bounded state — `percentile_approx` is a MERGEABLE sketch, so each
    micro-batch folds its partial digest into the window's state
    exactly like Prometheus merges histogram buckets
    (alerts.yaml:51-60,76-85). Pass ``group_cols=["path"]`` for A4's
    per-path dimension. State is evicted once the watermark passes."""
    return p95_processing_time(
        events.withWatermark(time_col, watermark),
        time_col, duration_col, window, exact=False, group_cols=group_cols,
    )


def observed_counters(df: DataFrame, status_col: str = "status") -> DataFrame:
    """S11/S12 — zero-cost pipeline counters via `observe`: metrics ride
    the existing job (no extra pass) and surface in QueryProgress /
    listener events, like the reference's micrometer integration."""
    return df.observe(
        "pipeline_metrics",
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col(status_col) == "FAILED", 1).otherwise(0)).alias("n_failed"),
    )


class PipelineMetricsListener:
    """S11/A5/A7 — query-progress metrics collector (the engine-side
    replacement for the reference's Prometheus scrape,
    k8s/monitoring/servicemonitors.yaml): per-trigger rows/sec, batch
    durations, state-store size, and any `observe` metrics.

    Register with ``spark.streams.addListener(listener)``; read
    ``listener.progress`` (list of dicts, driver-side only — no data
    path impact).
    """

    def __init__(self) -> None:
        self.progress: list[dict] = []

    # StreamingQueryListener duck-type (PySpark accepts any object with
    # these methods via the py4j bridge only for the class-based API, so
    # we also provide an `attach` helper using the public class).
    def on_progress(self, p) -> None:
        row = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": p.inputRowsPerSecond,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs or {}),
            "observed_metrics": {
                k: v.asDict() if hasattr(v, "asDict") else v
                for k, v in (p.observedMetrics or {}).items()
            },
        }
        self.progress.append(row)

    def attach(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                outer.on_progress(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        return self._listener

    def detach(self, spark) -> None:
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None
