"""Traced run: spans around the calls into each layer, Spark job/stage/SQL
metrics from the local REST API, and the per-layer metrics built from them.

Spans are recorded from the benchmark's own files. ``Tracer.install``
rebinds module attributes of the package to span-recording wrappers
(the pipeline's ``process_envelope_batch``, ``write_batch_sinks``,
``_write_leg`` and ``replay_due_retries``; ``operators.scale``'s
``merge_into_partitioned``), so the package's own calls between them are
seen too. Each span sets a Spark job group and description, so every
Spark job maps to the innermost span that submitted it. Spans stay in
memory; the REST API is read once, when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import os
import statistics
import threading
import time
import urllib.parse
import urllib.request

from .harness import quantile, spark_cpus

GROUP_PREFIX = "perfbench-span-"


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.time()
        self.end = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None
        self.active = False  # True during the measured phase

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, stack[-1].id if stack else None, attrs)
        prev = [self.sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")]
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.spans.append(s)
            for k, v in zip(("spark.jobGroup.id", "spark.job.description"), prev):
                self.sc.setLocalProperty(k, v)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def _wrap(self, module, attr: str, name: str, attrs_of=None) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, **(attrs_of(*args, **kwargs) if attrs_of else {})):
                return fn(*args, **kwargs)

        self._patches.append((module, attr, fn))
        setattr(module, attr, traced)

    def install(self, spark) -> None:
        from fbg_kafka_stream_file_transfer_spark.operators import scale
        from fbg_kafka_stream_file_transfer_spark.streaming import pipeline

        self.sc = spark.sparkContext
        self.active = True
        self.t_start = time.time()
        self._wrap(pipeline, "process_envelope_batch", "pipeline.plan")
        self._wrap(pipeline, "write_batch_sinks", "pipeline.sinks")
        self._wrap(
            pipeline, "_write_leg", "pipeline.leg",
            lambda df, path, epoch_id: {"leg": path.rstrip("/").rsplit("/", 1)[-1]},
        )
        self._wrap(pipeline, "replay_due_retries", "replay")
        self._wrap(scale, "merge_into_partitioned", "scale.merge")

    def uninstall(self) -> None:
        self.t_end = time.time()
        self.active = False
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # -- span queries ---------------------------------------------------
    def named(self, name: str, top_level_only: bool = False) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if top_level_only:
            out = [s for s in out if s.parent is None]
        return sorted(out, key=lambda s: s.start)

    def descendants(self, span: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [span.id]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k.id)
        return out


def span_or_null(tracer, name: str, **attrs):
    """A span while ``tracer`` records the measured phase, else nothing."""
    if tracer is not None and tracer.active:
        return tracer.span(name, **attrs)
    return contextlib.nullcontext()


# -- the local REST API ---------------------------------------------------


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class Rest:
    """Jobs, stages and SQL executions of this application, read once."""

    def __init__(self, sc) -> None:
        url = urllib.parse.urlparse(sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
        # the UI store fills from the listener bus; wait until it settles
        prev = None
        for _ in range(50):
            jobs = self._get("jobs")
            sig = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if sig == prev and sig[1] == 0:
                break
            prev = sig
            time.sleep(0.2)
        self.jobs = {j["jobId"]: j for j in jobs}
        self.stages = {s["stageId"]: s for s in self._get("stages") if s["status"] == "COMPLETE"}
        self.sql = self._get("sql?details=true&planDescription=false&length=100000")
        for j in self.jobs.values():
            j["t0"], j["t1"] = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs_of(self, spans: list[Span]) -> list[dict]:
        groups = {f"{GROUP_PREFIX}{s.id}" for s in spans}
        return [j for j in self.jobs.values() if j.get("jobGroup") in groups]

    def stage_sum(self, jobs: list[dict], field: str) -> float:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return float(sum(self.stages[i].get(field, 0) for i in ids if i in self.stages))

    def sql_metric(self, jobs: list[dict], metric: str) -> float:
        ids = {j["jobId"] for j in jobs}
        total = 0.0
        for e in self.sql:
            if ids.isdisjoint(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == metric:
                        total += _num(m["value"])
        return total


def _num(v: str) -> float:
    """The total of a UI metric string: "12", "1,024", or for per-task
    metrics "total (min, med, max ...)\\n3.2 KiB (...)"."""
    parts = v.strip().splitlines()[-1].split()
    scale = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "ms": 1e-3}
    unit = scale.get(parts[1], 1.0) if len(parts) > 1 else 1.0
    return float(parts[0].replace(",", "")) * unit


def _uncovered(span: Span, jobs: list[dict]) -> float:
    """Seconds of ``span`` during which none of ``jobs`` ran."""
    iv = sorted(
        (max(j["t0"], span.start), min(j["t1"], span.end))
        for j in jobs
        if j["t0"] is not None and j["t1"] is not None and j["t1"] > span.start and j["t0"] < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall - covered


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# -- layer probes (traced run only, after the measured phase) -----------------


def _timed_noop(df, reps: int = 3) -> float:
    df.write.format("noop").mode("overwrite").save()  # warm
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def prefix_probe(tracer: Tracer, source, envelope) -> dict:
    """Self time of the fused route layers on one recorded batch. Each
    successive prefix of the route is forced with a ``noop`` write; a
    layer's self time is the difference between consecutive prefixes.
    ``source`` is the recorded batch as read, ``envelope`` the same batch
    as the envelope builder returns it."""
    from pyspark.sql import functions as F

    from fbg_kafka_stream_file_transfer_spark.envelope import with_derived
    from fbg_kafka_stream_file_transfer_spark.operators.extract import (
        extract_documents,
        stub_extractor,
    )
    from fbg_kafka_stream_file_transfer_spark.operators.retry import split_retry_dlq
    from fbg_kafka_stream_file_transfer_spark.operators.validate import with_validation

    env = with_derived(envelope.dropDuplicates(["correlation_id"]))
    v = with_validation(env)
    accepted = v.filter(F.col("valid")).drop("valid", "reject_reason")
    x = extract_documents(accepted, "content", stub_extractor)
    cols = ["correlation_id", "event_time", "delivery_count", "reject_reason"]
    failures = v.filter(~F.col("valid")).select(*cols).unionByName(
        x.filter(F.col("extract_status") != "SUCCESS")
        .withColumn("reject_reason", F.coalesce(F.col("extract_error"), F.lit("EXTRACTION_FAILED")))
        .select(*cols)
    )
    retry, dlq = split_retry_dlq(failures)

    t = {}
    with tracer.span("probe.prefix"):
        for name, df in (
            ("source", source), ("envelope", env), ("validate", v),
            ("extract", x), ("retry", retry.unionByName(dlq)),
        ):
            with tracer.span(f"probe.{name}"):
                t[name] = _timed_noop(df)
    n = env.count()
    n_ok = accepted.count()
    hashed = env.agg(
        F.sum(F.length("file_name") + 2 * F.coalesce(F.length("content"), F.lit(0)))
    ).first()[0]
    return {
        "envelope.self_s": (t["envelope"] - t["source"], "s"),
        "envelope.bytes_hashed": (float(hashed or 0), "bytes"),
        "validate.self_s": (t["validate"] - t["envelope"], "s"),
        "validate.reject_ratio": ((n - n_ok) / n if n else 0.0, "ratio"),
        "extract.self_s": (t["extract"] - t["validate"], "s"),
        "extract.rows_per_s": (n_ok / t["extract"], "rows/s"),
        "retry.self_s": (t["retry"] - t["extract"], "s"),
        "retry.rows_retry": (float(retry.count()), "rows"),
        "retry.rows_dlq": (float(dlq.count()), "rows"),
    }


CURATION = {
    "dedup_exact": "dedup.exact_s",
    "dedup_minhash_verified": "dedup.minhash_s",
    "dedup_semantic_lsh": "dedup.semantic_s",
    "sim_topk_bruteforce_arrow": "similarity.topk_arrow_s",
    "sim_ann_lsh_topk": "similarity.ann_lsh_s",
    "text_quality_scores": "text.quality_s",
    "text_boilerplate_removal": "text.boilerplate_s",
    "corpus_curation_top_per_lang": "curation.top_per_lang_s",
}


def curation_probe(tracer: Tracer, spark, sf_dir: str, seed: int) -> tuple[dict, int]:
    """The eight curation headliners over the generated documents and
    embeddings, in a seeded order. Each first runs collected and is
    hash-compared with its DuckDB oracle, then is timed forced with a
    ``noop`` write. Returns (metrics, number of wrong results)."""
    import random

    import duckdb

    from fbg_kafka_stream_file_transfer_spark.queries import REGISTRY

    from .checks import same_result

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    names = sorted(CURATION)
    random.Random(seed).shuffle(names)
    out, wrong = {}, 0
    for name in names:
        q = REGISTRY[name]
        sdf = q.spark(spark, sf_dir)
        rows = [tuple(r) for r in sdf.collect()]
        wrong += not same_result(sdf.columns, rows, con.execute(q.oracle))
        with tracer.span(f"curation.{name}"):
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[CURATION[name]] = (time.perf_counter() - t0, "s")
    return out, wrong


# -- per-layer metrics --------------------------------------------------------

#: every per-layer metric and its unit; a layer the workload does not
#: exercise reports 0
UNITS = {
    "checkpoint.wal_commit_p50_s": "s",
    "checkpoint.commit_offsets_p50_s": "s",
    "pipeline.trigger_p50_s": "s",
    "pipeline.trigger_p95_s": "s",
    "pipeline.add_batch_p50_s": "s",
    "pipeline.phase_sum_ratio": "ratio",
    "pipeline.plan_s": "s",
    "pipeline.sinks_s": "s",
    "pipeline.leg_incoming_s": "s",
    "pipeline.leg_processed_s": "s",
    "pipeline.leg_failed_s": "s",
    "pipeline.leg_retry_s": "s",
    "pipeline.jobs_per_trigger": "count",
    "pipeline.tasks_per_trigger": "count",
    "pipeline.files_written_per_trigger": "count",
    "pipeline.bytes_written_per_trigger": "bytes",
    "pipeline.driver_share": "ratio",
    "sources.latest_offset_p50_s": "s",
    "sources.get_batch_p50_s": "s",
    "sources.backlog_max_files": "count",
    "loadgen.lag_max_s": "s",
    "loadgen.files": "count",
    "loadgen.bytes": "bytes",
    "envelope.self_s": "s",
    "envelope.bytes_hashed": "bytes",
    "validate.self_s": "s",
    "validate.reject_ratio": "ratio",
    "extract.self_s": "s",
    "extract.python_bytes_sent": "bytes",
    "extract.rows_per_s": "rows/s",
    "retry.self_s": "s",
    "retry.rows_retry": "rows",
    "retry.rows_dlq": "rows",
    "pipeline.route_call_p50_s": "s",
    "replay.call_p50_s": "s",
    "replay.jobs": "count",
    "replay.rows_due": "rows",
    "replay.rows_rewritten": "rows",
    "replay.useful_ratio": "ratio",
    "scale.merge_call_p50_s": "s",
    "scale.merge_jobs": "count",
    "scale.merge_shuffle_bytes": "bytes",
    "scale.merge_bytes_written": "bytes",
    "scale.merge_rewrite_ratio": "ratio",
    "scale.table_files": "count",
    "monitoring.error_rate_s": "s",
    "monitoring.p95_exact_s": "s",
    "monitoring.p95_approx_s": "s",
    "monitoring.backlog_s": "s",
    "monitoring.pass_p50_s": "s",
    "monitoring.files_scanned": "count",
    **{m: "s" for m in CURATION.values()},
    "curation.shuffle_bytes": "bytes",
    "spark.executor_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.jobs": "count",
    "trace.latency_p50_s": "s",
    "trace.drain_per_s": "1/s",
    "cpu.driver_ms_per_file": "ms",
    "cpu.jvm_ms_per_file": "ms",
    "cpu.workers_ms_per_file": "ms",
}


def _route_metrics(tracer: Tracer, rest: Rest, plans: list[Span], sinks: list[Span]) -> dict:
    """Span timings of the route calls (one per trigger or round)."""
    legs = {leg: [] for leg in ("incoming", "processed", "failed", "retry")}
    per_call = []
    for p, s in zip(plans, sinks):
        kids = tracer.descendants(s)
        by_leg = {k.attrs.get("leg"): k.wall for k in kids if k.name == "pipeline.leg"}
        for leg in ("incoming", "processed", "failed"):
            legs[leg].append(by_leg.get(leg, 0.0))
        legs["retry"].append(s.wall - sum(by_leg.values()))
        spans = [p, s, *tracer.descendants(p), *kids]
        jobs = rest.jobs_of(spans)
        per_call.append(
            {
                "jobs": len(jobs),
                "tasks": sum(j["numTasks"] for j in jobs),
                "files": rest.sql_metric(jobs, "number of written files"),
                "bytes": rest.stage_sum(jobs, "outputBytes"),
                "uncovered": _uncovered(p, jobs) + _uncovered(s, jobs),
                "wall": p.wall + s.wall,
            }
        )
    return {
        "pipeline.plan_s": _med(p.wall for p in plans),
        "pipeline.sinks_s": _med(s.wall for s in sinks),
        **{f"pipeline.leg_{leg}_s": _med(v) for leg, v in legs.items()},
        "pipeline.jobs_per_trigger": _med(c["jobs"] for c in per_call),
        "pipeline.tasks_per_trigger": _med(c["tasks"] for c in per_call),
        "pipeline.files_written_per_trigger": _med(c["files"] for c in per_call),
        "pipeline.bytes_written_per_trigger": _med(c["bytes"] for c in per_call),
        "pipeline.driver_share": (
            sum(c["uncovered"] for c in per_call) / sum(c["wall"] for c in per_call)
            if per_call else 0.0
        ),
    }


def _stream_metrics(wl) -> dict:
    prog = [p for p in wl.progress if p["numInputRows"] > 0]
    d = lambda k: [p["durationMs"].get(k, 0) / 1000.0 for p in prog]  # noqa: E731
    trig = d("triggerExecution")
    phases = sum(
        sum(d(k)) for k in ("addBatch", "commitOffsets", "getBatch", "latestOffset", "queryPlanning", "walCommit")
    )
    # backlog at each trigger start: files already renamed in, not yet
    # listed by an earlier batch
    backlog = 0
    names = [n for n, _ in wl.window]
    for p in prog:
        t = _ts(p["timestamp"].replace("Z", "GMT"))
        waiting = sum(
            1 for n, w in zip(names, wl.written) if w <= t and wl.batch_of.get(n, 1 << 30) >= p["batchId"]
        )
        backlog = max(backlog, waiting)
    return {
        "checkpoint.wal_commit_p50_s": _med(d("walCommit")),
        "checkpoint.commit_offsets_p50_s": _med(d("commitOffsets")),
        "pipeline.trigger_p50_s": quantile(trig, 0.5),
        "pipeline.trigger_p95_s": quantile(trig, 0.95),
        "pipeline.add_batch_p50_s": _med(d("addBatch")),
        "pipeline.phase_sum_ratio": phases / sum(trig),
        "sources.latest_offset_p50_s": _med(d("latestOffset")),
        "sources.get_batch_p50_s": _med(d("getBatch")),
        "sources.backlog_max_files": float(backlog),
        "loadgen.lag_max_s": max(w - due for w, due in zip(wl.written, wl.due)),
        "loadgen.files": float(len(wl.window)),
        "loadgen.bytes": float(sum(len(b) for _, b in wl.window)),
    }


def _upkeep_metrics(tracer: Tracer, rest: Rest, wl) -> dict:
    out = {"pipeline.route_call_p50_s": _med(wl.op_walls["route"])}
    replays = tracer.named("replay")
    rjobs = [rest.jobs_of([r, *tracer.descendants(r)]) for r in replays]
    before = tracer.counts.get("replay.rows_before", [])
    due = tracer.counts.get("replay.rows_due", [])
    out["replay.call_p50_s"] = _med(r.wall for r in replays)
    out["replay.jobs"] = _med(len(j) for j in rjobs)
    out["replay.rows_due"] = _med(due)
    out["replay.rows_rewritten"] = _med(before)
    out["replay.useful_ratio"] = sum(due) / sum(before) if sum(before) else 0.0

    merges = tracer.named("scale.merge")
    mjobs = [rest.jobs_of([m, *tracer.descendants(m)]) for m in merges]
    rows = tracer.counts.get("scale.delta_rows", [])
    out["scale.merge_call_p50_s"] = _med(m.wall for m in merges)
    out["scale.merge_jobs"] = _med(len(j) for j in mjobs)
    out["scale.merge_shuffle_bytes"] = _med(rest.stage_sum(j, "shuffleWriteBytes") for j in mjobs)
    out["scale.merge_bytes_written"] = _med(rest.stage_sum(j, "outputBytes") for j in mjobs)
    out["scale.merge_rewrite_ratio"] = _med(
        rest.stage_sum(j, "outputRecords") / n for j, n in zip(mjobs, rows)
    )
    out["scale.table_files"] = float(
        sum(
            f.endswith(".parquet")
            for root, dirs, files in os.walk(wl.table)
            if not os.path.basename(root).startswith("_")
            for f in files
        )
    )
    for key in ("error_rate", "p95_exact", "p95_approx", "backlog"):
        out[f"monitoring.{key}_s"] = _med(s.wall for s in tracer.named(f"monitoring.{key}"))
    passes = tracer.named("monitoring.pass")
    out["monitoring.pass_p50_s"] = _med(p.wall for p in passes)
    out["monitoring.files_scanned"] = _med(
        rest.sql_metric(rest.jobs_of([p, *tracer.descendants(p)]), "number of files read")
        for p in passes
    )
    return out


def per_layer(spark, tracer: Tracer, wl, res: dict) -> tuple[dict, int, int]:
    """Run the layer probes, read the REST API and build every per-layer
    metric. Returns (metrics as name → (value, unit), probe results
    checked, wrong probe results)."""
    checked = wrong = 0
    if wl.name == "stream_small":
        from fbg_kafka_stream_file_transfer_spark.envelope import from_binary_files

        src = wl.dirs["src"]
        probe = prefix_probe(
            tracer,
            spark.read.format("binaryFile").load(src),
            from_binary_files(spark, src),
        )
    else:
        from pyspark.sql import functions as F

        from fbg_kafka_stream_file_transfer_spark.envelope import from_events_table

        sl = wl.events.filter(F.col("event_id") < wl.routed)
        probe = prefix_probe(tracer, sl, from_events_table(sl))
        cur, wrong = curation_probe(tracer, spark, wl.sf_dir, wl.seed)
        checked = len(CURATION)
        probe.update(cur)

    rest = Rest(spark.sparkContext)
    m = {k: 0.0 for k in UNITS}
    m.update({k: v for k, (v, _) in probe.items()})
    window = [j for j in rest.jobs.values() if j["t0"] and tracer.t_start <= j["t0"] <= tracer.t_end]
    wall = tracer.t_end - tracer.t_start
    m["spark.jobs"] = float(len(window))
    m["spark.executor_busy_ratio"] = rest.stage_sum(window, "executorRunTime") / 1000.0 / (wall * spark_cpus())
    m["spark.gc_s"] = rest.stage_sum(window, "jvmGcTime") / 1000.0
    m["spark.shuffle_write_bytes"] = rest.stage_sum(window, "shuffleWriteBytes")
    m["trace.latency_p50_s"] = res["latency_p50_s"]
    m["trace.drain_per_s"] = res["drain_per_s"]
    m.update({f"cpu.{k}_ms_per_file": v for k, v in res["cpu_ms_per_file"].items()})
    x_spans = tracer.named("probe.extract")
    m["extract.python_bytes_sent"] = rest.sql_metric(
        rest.jobs_of(x_spans), "data sent to Python workers"
    ) / max(1, 4 * len(x_spans))  # per forced run: one warm-up + three timed
    cur_spans = [s for s in tracer.spans if s.name.startswith("curation.")]
    m["curation.shuffle_bytes"] = rest.stage_sum(rest.jobs_of(cur_spans), "shuffleWriteBytes")

    # route calls of the window only (not the stream's burst drain)
    in_window = lambda s: wl.window_start <= s.start <= wl.window_end  # noqa: E731
    plans = [s for s in tracer.named("pipeline.plan", top_level_only=True) if in_window(s)]
    sinks = [s for s in tracer.named("pipeline.sinks", top_level_only=True) if in_window(s)]
    m.update(_route_metrics(tracer, rest, plans, sinks))
    if wl.name == "stream_small":
        m.update(_stream_metrics(wl))
    else:
        m.update(_upkeep_metrics(tracer, rest, wl))
    return {k: (float(v), UNITS[k]) for k, v in m.items()}, checked, wrong
