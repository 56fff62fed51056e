"""``stream_small``: open-loop file arrivals into ``start_file_pipeline``,
then a fixed-size burst drained at a fixed ``max_files_per_trigger``.
The burst lands while the query is stopped and is drained when it
restarts from its checkpoint, so every run drains it in the same
micro-batches. The drain rate is the median over those micro-batches
(after the first, which also pays for the restart) of files ÷ the time
since the previous commit. The burst goes after the window, so its
micro-batches run in a warm JVM.

The generator runs in the calling thread with its schedule fixed in
advance. Each file is written outside the source directory and renamed
in, so the ``binaryFile`` source never lists a half-written file.
Latency runs from a file's due time to the commit of the micro-batch
that routed it. Both come from outside the program: the checkpoint's
``sources/0`` log says which batch listed each path, and the mtime of
``commits/<batchId>`` is that batch's commit time.
"""

from __future__ import annotations

import collections
import json
import math
import os
import shutil
import statistics
import sys
import time

from . import checks, fixtures
from .harness import cpu_since, quantile, tree_cpu

RATE = 20.0  # files/s: about half the drain capacity on 4 cores (~40 files/s at 100-150 files per trigger)
BODY_BYTES = 300
# never binds in the window: 40-60 files arrive per trigger, and 150 only
# if a trigger takes 7.5 s, three times its time on an idle 4-core host
MAX_FILES_PER_TRIGGER = 150
BURST_FILES = 240
BURST_FILES_PER_TRIGGER = 60  # the burst drains in four micro-batches
SETUP_FILES = 8


def generate(files, stage: str, src: str, rate: float, start: float) -> tuple[list[float], list[float]]:
    """Writes ``files`` on a fixed schedule of ``rate`` files/s from
    ``start`` (a ``time.time()`` instant); never slows down when the
    system does. Returns each file's due and actual write time."""
    due, written = [], []
    for i, (name, body) in enumerate(files):
        t = start + i / rate
        delay = t - time.time()
        if delay > 0:
            time.sleep(delay)
        put(stage, src, name, body)
        due.append(t)
        written.append(time.time())
    return due, written


def put(stage: str, src: str, name: str, body: bytes) -> None:
    tmp = os.path.join(stage, name)
    with open(tmp, "wb") as fh:
        fh.write(body)
    os.rename(tmp, os.path.join(src, name))


def batch_membership(ckpt: str) -> dict[str, int]:
    """file name → id of the micro-batch whose source log listed it
    (``sources/0/<id>`` and its ``.compact`` rollups)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the log version
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {
        int(fn): os.stat(os.path.join(d, fn)).st_mtime_ns / 1e9
        for fn in os.listdir(d)
        if fn.isdigit()
    }


class StreamSmall:
    name = "stream_small"

    def __init__(self, seed: int, seconds: int, work: str, tracer) -> None:
        self.seed, self.seconds, self.work, self.tracer = seed, seconds, work, tracer
        self.query = None

    # -- set-up -------------------------------------------------------
    def setup(self, spark, rep: int) -> None:
        """A fresh query over fresh directories, run through its first
        micro-batch. The query of the last repetition is the one measured."""
        base = os.path.join(self.work, f"stream{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.dirs = {k: os.path.join(base, k) for k in ("stage", "src", "out", "ckpt")}
        for k in ("stage", "src"):
            os.makedirs(self.dirs[k])
        self.setup_files = fixtures.stream_files(self.seed + 1000 * rep, SETUP_FILES, f"setup{rep}", BODY_BYTES)
        for name, body in self.setup_files:
            put(self.dirs["stage"], self.dirs["src"], name, body)
        self.start_query(spark)
        self.query.processAllAvailable()

    def start_query(self, spark, max_files: int = MAX_FILES_PER_TRIGGER) -> None:
        from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
            start_file_pipeline,
        )

        self.query = start_file_pipeline(
            spark, self.dirs["src"], self.dirs["out"], self.dirs["ckpt"],
            max_files_per_trigger=max_files,
        )

    def warm(self, spark) -> None:
        """Nothing beyond the set-up: the set-up queries' first
        micro-batches warm up the JVM before the window."""

    def close(self) -> None:
        self.stop_query()

    def stop_query(self) -> None:
        q = self.query
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")

    # -- measured phase -----------------------------------------------
    def run(self, spark) -> None:
        n = math.ceil(RATE * self.seconds)
        window = fixtures.stream_files(self.seed, n, "doc", BODY_BYTES)
        burst = fixtures.stream_files(self.seed, BURST_FILES, "burst", BODY_BYTES)
        stage, src = self.dirs["stage"], self.dirs["src"]

        q = self.query  # the set-up's query, idle after its first micro-batch
        first = q.lastProgress["batchId"] + 1
        self.window_start = time.time()
        self.due, self.written = generate(window, stage, src, RATE, self.window_start + 0.2)
        q.processAllAvailable()
        self.window_end = time.time()
        self.progress = [
            p for p in map(json.loads, (p.json for p in q.recentProgress)) if p["batchId"] >= first
        ]
        self.stop_query()

        for name, body in burst:
            put(stage, src, name, body)
        c0 = tree_cpu()
        self.start_query(spark, BURST_FILES_PER_TRIGGER)
        self.query.processAllAvailable()
        self.burst_cpu = cpu_since(c0)
        self.stop_query()
        self.window, self.burst = window, burst

    # -- results ------------------------------------------------------
    def results(self) -> dict:
        batch_of = batch_membership(self.dirs["ckpt"])
        committed = commit_times(self.dirs["ckpt"])

        def commit_of(name: str) -> float | None:
            b = batch_of.get(name)
            return committed.get(b) if b is not None else None

        lat = []
        for (name, _), due in zip(self.window, self.due):
            c = commit_of(name)
            if c is not None:
                lat.append(c - due)
        sizes = collections.Counter(batch_of[n] for n, _ in self.burst if n in batch_of)
        ends = [(committed[b], sizes[b]) for b in sorted(sizes) if b in committed]
        rates = [n / (t - t_prev) for (t_prev, _), (t, n) in zip(ends, ends[1:])]
        trig = [p["durationMs"]["triggerExecution"] / 1000 for p in self.progress if p["numInputRows"]]
        print(
            f"# perfbench: window triggers {[round(t, 2) for t in trig]}; "
            f"burst batches {[n for _, n in ends]}, files/s {[round(r, 1) for r in rates]}; "
            f"{len(lat)} files, latency p95 {quantile(lat, 0.95):.3f}s; "
            f"burst CPU {sum(self.burst_cpu.values()):.2f}s",
            file=sys.stderr,
        )

        files = self.setup_files + self.window + self.burst
        failed = checks.stream_legs(self.dirs["out"], files)
        failed += sum(1 for name, _ in files if name not in batch_of)
        self.lat, self.batch_of = lat, batch_of
        return {
            "attempted": len(files),
            "failed": failed,
            "latency_p50_s": quantile(lat, 0.50),
            "drain_per_s": statistics.median(rates),
            "cpu_ms_per_file": {k: 1000 * v / len(self.burst) for k, v in self.burst_cpu.items()},
            "samples": len(lat),
        }
