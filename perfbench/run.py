#!/usr/bin/env python3
"""Fileflow benchmark: one command per workload run.

    python3 perfbench/run.py --workload stream_small --seed 1 --seconds 6 --trace 0

Runs one workload against the package's public entry points, checks every
output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the same workload runs with span-recording wrappers and the Spark UI on,
and the metrics are the per-layer ones. Progress and the host-contention
labels go to stderr. Workloads, metrics and the layer → end-to-end
prediction table are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

SETUP_REPS = 4  # one cold, three warm
WORKLOADS = ("stream_small", "batch_upkeep")


def _log(msg: str) -> None:
    print(f"# perfbench: {time.perf_counter() - T_PROCESS:7.2f}s {msg}", file=sys.stderr, flush=True)


def _workload(name: str):
    if name == "stream_small":
        from perfbench.stream import StreamSmall

        return StreamSmall
    from perfbench.upkeep import BatchUpkeep

    return BatchUpkeep


def run(args, work: str) -> dict:
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
    wl = _workload(args.workload)(args.seed, args.seconds, work, tracer)
    with harness.RssSampler() as rss:
        spark = harness.start_session(work, ui=bool(args.trace))
        setups = []
        for rep in range(SETUP_REPS):
            # the first repetition also launches the JVM and runs every
            # operation once cold; it moves with the host by tens of
            # seconds, so setup_s is the median of the warm ones
            t0 = T_PROCESS if rep == 0 else time.perf_counter()
            if rep:
                wl.close()
            wl.setup(spark, rep)
            if rep == 0:
                wl.warm(spark)
            setups.append(time.perf_counter() - t0)
            _log(f"set-up {rep}: {setups[-1]:.3f}s")
        harness.spark_control_s(spark)  # warm-up: compile the control job
        labels = [harness.host_labels(spark)]
        if tracer is not None:
            tracer.install(spark)
        try:
            wl.run(spark)
        finally:
            if tracer is not None:
                tracer.uninstall()
        _log("measured phase done")
        labels.append(harness.host_labels(spark))
        res = wl.results()
        _log("outputs checked")
        if tracer is not None:
            layers, checked, wrong = trace.per_layer(spark, tracer, wl, res)
            res["attempted"] += checked
            res["failed"] += wrong
    _log(
        "labels "
        + json.dumps(
            {
                "host": labels,
                "setups_s": setups,
                "samples": res.get("samples"),
                "latency_p50_s": res["latency_p50_s"],
                "drain_per_s": res["drain_per_s"],
                "cpu_ms_per_file": res["cpu_ms_per_file"],
                "op_failure_ratio": res["failed"] / res["attempted"],
            }
        )
    )
    if tracer is not None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups[1:]), "unit": "s"},
            "cpu_ms_per_file": {"value": sum(res["cpu_ms_per_file"].values()), "unit": "ms"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, harness.PACKAGE)):
        _log(f"package source {harness.PACKAGE}/ not found under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    try:
        out = run(args, work)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
