"""``batch_upkeep``: the batch side of the route, a closed loop with one
caller.

Each round takes the next ``SLICE_EVENTS`` events of the seeded events
table (ids in order) and does four things:

1. routes them: ``from_events_table`` → ``process_envelope_batch`` →
   ``write_batch_sinks(epoch=round)``;
2. drains the retry buffer: ``replay_due_retries`` with ``now`` one
   hour per round past the backoff;
3. merges a delta into a table of all events partitioned by
   ``event_type``: the round's events as updates, older events as
   deletes and copies under new ids as inserts;
4. runs the alert queries over the merged table: sliding error rate,
   exact and approximate p95, running backlog.

The next round starts when the previous one ends, while the window
lasts. Every event of a slice is handed over at the start of its round
and is in the alert outputs at its end, so an event's latency is the
wall time of its round.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time

import numpy as np

from . import checks, fixtures
from .harness import cpu_since, tree_cpu
from .trace import span_or_null

# the most files one micro-batch of start_file_pipeline routes by default
# (its max_files_per_trigger), so a round routes what one full trigger would
SLICE_EVENTS = 1000
INSERT_ID_OFFSET = 10_000_000
REPLAY_BASE = dt.datetime(2024, 2, 1)


def _delta_ids(seed: int, rnd: int, lo: int, hi: int) -> tuple[list[int], list[int]]:
    """Seeded (deletes, inserts) for the round that routes ids [lo, hi):
    deletes are 1% of the slice size drawn from older ids, inserts copy
    2% of the slice under new ids."""
    rng = np.random.default_rng([seed, rnd])
    n = hi - lo
    dels = rng.choice(lo, size=min(lo, max(1, n // 100)), replace=False) if lo else []
    ins = rng.choice(np.arange(lo, hi), size=max(1, n // 50), replace=False)
    return sorted(int(i) for i in dels), sorted(int(i) for i in ins)


class BatchUpkeep:
    name = "batch_upkeep"

    def __init__(self, seed: int, seconds: int, work: str, tracer) -> None:
        self.seed, self.seconds, self.work, self.tracer = seed, seconds, work, tracer

    # -- set-up -------------------------------------------------------
    def setup(self, spark, rep: int) -> None:
        """Write the fixture tables and build the partitioned events table."""
        from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

        base = os.path.join(self.work, f"upkeep{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.sf_dir = os.path.join(base, "sf")
        self.out = os.path.join(base, "out")
        self.table = os.path.join(base, "events_by_type")
        self.tables = fixtures.write_tables(self.seed, self.sf_dir, curation=self.tracer is not None)
        self.events = load_table(spark, self.sf_dir, "events")
        self.events.write.partitionBy("event_type").parquet(self.table)
        self.rounds: list[dict] = []
        self.alert_rows: list[dict] = []
        self.op_walls: dict[str, list[float]] = {k: [] for k in ("route", "replay", "merge", "alerts")}

    def warm(self, spark) -> None:
        """One round over a warm-up slice, so no operation runs cold in
        the window. It writes into the first set-up's directories, which
        the measured set-up replaces."""
        self.round(spark, 0, 0, SLICE_EVENTS)

    def close(self) -> None:
        pass

    # -- one round ----------------------------------------------------
    def round(self, spark, rnd: int, lo: int, hi: int) -> None:
        self.route(rnd, lo, hi)
        self.upkeep(spark, rnd, lo, hi)

    def route(self, rnd: int, lo: int, hi: int) -> None:
        from pyspark.sql import functions as F

        from fbg_kafka_stream_file_transfer_spark.envelope import from_events_table
        from fbg_kafka_stream_file_transfer_spark.streaming import pipeline

        ev = self.events
        t0 = time.perf_counter()
        env = from_events_table(ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)))
        res = pipeline.process_envelope_batch(env)
        pipeline.write_batch_sinks(res, self.out, epoch_id=rnd)
        res.unpersist()
        self.op_walls["route"].append(time.perf_counter() - t0)
        self.routed = hi

    def upkeep(self, spark, rnd: int, lo: int, hi: int) -> None:
        from pyspark.sql import functions as F

        from fbg_kafka_stream_file_transfer_spark.operators import scale
        from fbg_kafka_stream_file_transfer_spark.streaming import pipeline

        ev = self.events
        now = REPLAY_BASE + dt.timedelta(hours=rnd)
        dels, ins = _delta_ids(self.seed, rnd, lo, hi)
        if self.tracer is not None and self.tracer.active:
            self.count_inputs(spark, now, hi - lo + len(dels) + len(ins))
        t0 = time.perf_counter()
        pipeline.replay_due_retries(spark, self.out, now=now)
        t1 = time.perf_counter()

        upd = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).withColumns(
            {"props": F.concat(F.col("props"), F.lit(f" [r{rnd}]")), "op": F.lit("U")}
        )
        delete = ev.filter(F.col("event_id").isin(dels)).withColumn("op", F.lit("D"))
        insert = ev.filter(F.col("event_id").isin(ins)).withColumns(
            {
                "event_id": F.col("event_id") + F.lit(INSERT_ID_OFFSET),
                "props": F.concat(F.col("props"), F.lit(f" [new{rnd}]")),
                "op": F.lit("U"),
            }
        )
        scale.merge_into_partitioned(
            spark, self.table, upd.unionByName(delete).unionByName(insert),
            ["event_id"], ["event_type"], op_col="op",
        )
        t2 = time.perf_counter()
        self.alert_rows.append(self.alerts(spark))
        t3 = time.perf_counter()
        for k, v in (("replay", t1 - t0), ("merge", t2 - t1), ("alerts", t3 - t2)):
            self.op_walls[k].append(v)
        self.rounds.append({"round": rnd, "lo": lo, "hi": hi, "dels": dels, "ins": ins})

    def count_inputs(self, spark, now, delta_rows: int) -> None:
        """Traced run only: the retry buffer the drain will rewrite, the
        rows of it that are due, and the merge delta's size."""
        from pyspark.sql import functions as F

        buf = os.path.join(self.out, "retry")
        if os.path.isdir(buf):
            b = spark.read.parquet(buf)
            n, due = b.agg(
                F.count("*"), F.sum((F.col("next_attempt_time") <= F.lit(now)).cast("int"))
            ).first()
            self.tracer.count("replay.rows_before", n)
            self.tracer.count("replay.rows_due", due or 0)
        self.tracer.count("scale.delta_rows", delta_rows)

    def alerts(self, spark) -> dict:
        """The alert rules over the merged table, formatted like the
        package's monitoring queries so their DuckDB mirrors apply."""
        from pyspark.sql import functions as F

        from fbg_kafka_stream_file_transfer_spark.operators import monitoring

        t = spark.read.parquet(self.table)
        pe = t.select(
            F.col("ts").alias("event_time"),
            F.when(F.col("event_type") == "error", F.lit("FAILED"))
            .otherwise(F.lit("COMPLETED"))
            .alias("status"),
            F.col("value").alias("processing_seconds"),
        )
        fmt = lambda c: F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")  # noqa: E731
        out = {}
        df = monitoring.error_rate(pe, window="5 minutes", slide="1 minute")
        out["error_rate"] = df.withColumns(
            {"window_start": fmt("window_start"), "error_rate": F.round("error_rate", 6)}
        )
        for name, exact in (("p95_exact", True), ("p95_approx", False)):
            df = monitoring.p95_processing_time(pe, window="1 day", exact=exact)
            out[name] = df.withColumns(
                {"window_start": fmt("window_start"), "p95_seconds": F.round("p95_seconds", 6)}
            )
        df = monitoring.backlog_running_count(
            pe, arrival_status="FAILED", drain_status="COMPLETED", bucket="1 day"
        )
        out["backlog"] = df.withColumn("bucket_start", fmt("bucket_start")).select(
            "bucket_start", "arrivals", "drains", "backlog"
        )
        rows = {}
        with span_or_null(self.tracer, "monitoring.pass"):
            for k, df in out.items():
                with span_or_null(self.tracer, f"monitoring.{k}"):
                    rows[k] = (df.columns, [tuple(r) for r in df.collect()])
        return rows

    # -- measured phase -----------------------------------------------
    def run(self, spark) -> None:
        """Rounds run while they fit in the window, at least one; round
        ``r`` routes ids ``[(r - 1) * SLICE_EVENTS, r * SLICE_EVENTS)``.
        Each round's wall and CPU time are read."""
        self.window_start = t0 = time.time()
        walls: list[float] = []
        cpus: list[dict] = []
        rnd = 1
        # a round starts only if, as long as the last one, it ends in the
        # window: a window that held one round in some runs and two in
        # others read slow or fast by how many it fitted (the first round
        # after set-up is the slowest)
        while not walls or time.time() - t0 + walls[-1] <= self.seconds:
            start, c0 = time.perf_counter(), tree_cpu()
            self.round(spark, rnd, (rnd - 1) * SLICE_EVENTS, rnd * SLICE_EVENTS)
            walls.append(time.perf_counter() - start)
            cpus.append(cpu_since(c0))
            ops = " ".join(f"{k}={v[-1]:.3f}" for k, v in self.op_walls.items())
            print(f"# perfbench: round {rnd}: {walls[-1]:.3f}s, CPU {sum(cpus[-1].values()):.2f}s ({ops})", file=sys.stderr)
            rnd += 1
        self.window_end = time.time()
        self.walls, self.cpus = walls, cpus

    # -- results ------------------------------------------------------
    def results(self) -> dict:
        failed = self.check_route() + checks.upkeep_tables(self)
        p50 = {k: statistics.median(v) for k, v in self.op_walls.items()}
        print(
            f"# perfbench: {len(self.walls)} rounds; per-call medians "
            + " ".join(f"{k}={v:.3f}s" for k, v in p50.items()),
            file=sys.stderr,
        )
        return {
            "attempted": self.routed + 3 * len(self.rounds),
            "failed": failed,
            "latency_p50_s": statistics.median(self.walls),
            "drain_per_s": SLICE_EVENTS / p50["route"],
            "cpu_ms_per_file": {
                k: 1000 * statistics.median(c[k] for c in self.cpus) / SLICE_EVENTS for k in self.cpus[0]
            },
            "samples": len(self.walls),
        }

    def check_route(self) -> int:
        """Each routed event lands exactly once where the route sends it:
        valid ones in ``incoming`` and ``processed``; rejected ones
        (``.exe`` or empty) in the retry buffer or the DLQ, not both."""
        ev = self.tables["events"]
        routed = self.routed
        ids = ev.column("event_id").to_numpy()[:routed]
        types = ev.column("event_type").to_numpy(zero_copy_only=False)[:routed]
        values = ev.column("value").to_numpy()[:routed]
        rejected = (types == "error") | (np.floor(values) <= 0)
        legs = {leg: checks.leg_ids(self.out, leg) for leg in checks.STREAM_LEGS}
        failed = 0
        for cid, rej in zip(map(str, ids), rejected):
            if rej:
                ok = legs["incoming"][cid] == legs["processed"][cid] == 0 and (
                    legs["retry"][cid] + legs["failed"][cid] == 1
                )
            else:
                ok = legs["incoming"][cid] == legs["processed"][cid] == 1 and (
                    legs["retry"][cid] + legs["failed"][cid] == 0
                )
            failed += not ok
        known = set(map(str, ids))
        failed += sum(n for leg in legs.values() for cid, n in leg.items() if cid not in known)
        return failed
