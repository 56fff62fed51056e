"""Retry/DLQ state machine (E2/E3/ST4/ST5): the reference's redelivery
policy — 3 attempts, 5 s initial, ×2 backoff, 60 s cap
(file-pipeline.yaml:269-273) — as deterministic scenario tests."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators.retry import (
    DEFAULT_POLICY,
    RetryPolicy,
    due_for_retry,
    expire_by_ttl,
    split_retry_dlq,
    with_retry_schedule,
)

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)


def _failures(spark, attempts):
    return spark.createDataFrame(
        [(str(i), a, TS) for i, a in enumerate(attempts)],
        "correlation_id string, delivery_count int, event_time timestamp",
    )


def test_backoff_schedule(spark):
    df = _failures(spark, [1, 2, 3, 4])
    out = {r.delivery_count: r for r in with_retry_schedule(df).collect()}
    # 5 s, then 10 s; attempts >= 3 are exhausted (no backoff, DLQ)
    assert out[1].retry_status == "RETRY" and out[1].backoff_seconds == 5
    assert out[2].retry_status == "RETRY" and out[2].backoff_seconds == 10
    assert out[3].retry_status == "DLQ" and out[3].backoff_seconds is None
    assert out[4].retry_status == "DLQ"
    assert out[1].next_attempt_time == TS + datetime.timedelta(seconds=5)


def test_backoff_cap(spark):
    policy = RetryPolicy(max_attempts=10, initial_delay_s=5, multiplier=2.0, max_delay_s=60)
    df = _failures(spark, [1, 3, 5, 6])
    out = {r.delivery_count: r.backoff_seconds for r in
           with_retry_schedule(df, policy=policy).collect()}
    assert out == {1: 5, 3: 20, 5: 60, 6: 60}  # 5,20,80→60,160→60


def test_poison_message_exactly_three_attempts(spark):
    """ST5: N poison rows surface in DLQ after exactly max_attempts."""
    df = _failures(spark, [1, 1, 2, 3, 3])
    retry, dlq = split_retry_dlq(df)
    assert retry.count() == 3 and dlq.count() == 2


def test_due_for_retry_increments_attempt(spark):
    df = _failures(spark, [1, 2])
    buf, _ = split_retry_dlq(df)
    now = F.lit((TS + datetime.timedelta(seconds=7)).isoformat()).cast("timestamp")
    due = due_for_retry(buf, now).collect()
    # only the 5 s backoff row is due at +7 s; its attempt count advanced
    assert len(due) == 1 and due[0].delivery_count == 2


def test_ttl_expiry(spark):
    old = TS - datetime.timedelta(days=10)
    df = spark.createDataFrame(
        [("old", 1, old), ("new", 1, TS)],
        "correlation_id string, delivery_count int, event_time timestamp",
    )
    got = {r.correlation_id: r.expiry_status
           for r in expire_by_ttl(df, ttl_seconds=7 * 24 * 3600).collect()}
    assert got == {"old": "EXPIRED", "new": "LIVE"}


def test_due_probe_partition_prunes_on_nab_bucket(spark, tmp_path):
    """The retry buffer is written PARTITIONED BY the next-attempt hour
    bucket (nab); due_for_retry's bucket predicate must reach the scan
    as a partition filter so an idle-drain probe touches only elapsed
    buckets, not the whole buffer."""
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        _retry_partition_cols,
    )

    rows = [
        ("a", 1, TS, TS + datetime.timedelta(hours=h)) for h in range(6)
    ]
    buf = spark.createDataFrame(
        rows,
        "correlation_id string, delivery_count int, event_time timestamp,"
        " next_attempt_time timestamp",
    )
    path = str(tmp_path / "retry")
    _retry_partition_cols(buf).write.partitionBy("nab", "dt").parquet(path)

    due = due_for_retry(
        spark.read.parquet(path),
        F.lit(TS + datetime.timedelta(hours=2, minutes=30)).cast("timestamp"),
    )
    # buckets at hours 0,1,2 are elapsed; 3,4,5 must be pruned out
    assert {r.next_attempt_time.hour for r in due.collect()} == {12, 13, 14}
    plan = due._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "nab" in plan.split("PartitionFilters")[1][:200]


def test_full_poison_lifecycle_through_drains(spark, tmp_path):
    """The complete E2/ST5 journey: a poison file fails validation at
    delivery 1 → retry buffer; two drains re-admit it with backoff
    (5 s, 10 s) as deliveries 2 and 3; the third attempt exhausts the
    policy → DLQ failure report, and the buffer is EMPTY afterwards
    (consumed rows must not survive a drain — the rebuild-and-swap)."""
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        replay_due_retries,
        start_file_pipeline,
    )

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "poison.exe").write_bytes(b"rejected forever")
    (src / "fine.pdf").write_bytes(b"a good document")
    q = start_file_pipeline(spark, str(src), str(out), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    buf = spark.read.parquet(str(out / "retry")).collect()
    assert len(buf) == 1 and buf[0].delivery_count == 1
    t0 = buf[0].event_time

    # drain 1: due at +5 s → attempt 2, rescheduled +10 s
    r1 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=6))
    assert r1 is not None
    buf = spark.read.parquet(str(out / "retry")).collect()
    assert len(buf) == 1 and buf[0].delivery_count == 2

    # drain too early: nothing due, buffer untouched
    assert replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=7)) is None

    # drain 2: attempt 3 → exhausted → DLQ; buffer now empty
    r2 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=60))
    assert r2 is not None and r2.dlq.count() == 1
    import os

    assert not os.path.exists(str(out / "retry"))  # drained dry

    failed = spark.read.parquet(str(out / "failed")).collect()
    assert len(failed) == 1
    assert failed[0].delivery_count == 3
    assert '"status":"FAILED"' in failed[0].failure_json
    # the good file was processed exactly once through all of this
    assert spark.read.parquet(str(out / "processed")).count() == 1


class _LocalPath:
    def __init__(self, path):
        self.path = path.rstrip("/")

    def getParent(self):
        return _LocalPath(os.path.dirname(self.path))


class _LocalFs:
    """The slice of the Hadoop FileSystem API the publish protocol
    calls, over the local disk — so the on-disk recovery cases below
    run without a JVM."""

    def exists(self, p):
        return os.path.exists(p.path)

    def delete(self, p, recursive):
        if not os.path.exists(p.path):
            return False
        (shutil.rmtree if os.path.isdir(p.path) else os.remove)(p.path)
        return True

    def rename(self, src, dst):
        if os.path.exists(dst.path):
            return False
        os.rename(src.path, dst.path)
        return True

    def mkdirs(self, p):
        os.makedirs(p.path, exist_ok=True)
        return True


@pytest.fixture()
def local_fs(monkeypatch):
    from fbg_kafka_stream_file_transfer_spark.operators import publish

    monkeypatch.setattr(
        publish, "_hadoop_fs", lambda spark, path: (_LocalFs(), _LocalPath(path))
    )


def test_recover_discards_partial_rebuild_even_when_live_exists(
    local_fs, tmp_path
):
    """A marker-less __rebuild left by a drain that died mid-write must
    be discarded by recovery EVEN IF the live dir survived — otherwise
    a later drained-dry commit would rename the torn partial into place
    and resurrect already-consumed retry rows (ADVICE r3 #1)."""
    import os
    from pathlib import Path

    from fbg_kafka_stream_file_transfer_spark.operators.publish import recover

    path, tmp = str(tmp_path / "retry"), str(tmp_path / "retry__rebuild")
    os.makedirs(path)
    Path(path, "part-live").write_text("live rows")
    os.makedirs(tmp)
    Path(tmp, "part-torn").write_text("partial rebuild")  # no _SUCCESS

    recover(None, path, staged=tmp)
    assert not os.path.exists(tmp)
    assert Path(path, "part-live").read_text() == "live rows"


def test_recover_adopts_complete_rebuild_over_live_dir(local_fs, tmp_path):
    """A _SUCCESS-marked rebuild is the NEWER buffer (the drain that
    wrote it had already landed its sink writes before the swap was
    interrupted) — recovery must publish it even when the live dir is
    still present, or the next drain re-admits consumed rows."""
    import os
    from pathlib import Path

    from fbg_kafka_stream_file_transfer_spark.operators.publish import recover

    path, tmp = str(tmp_path / "retry"), str(tmp_path / "retry__rebuild")
    os.makedirs(path)
    Path(path, "part-old").write_text("pre-drain rows")
    os.makedirs(tmp)
    Path(tmp, "part-new").write_text("rebuilt rows")
    Path(tmp, "_SUCCESS").write_text("")

    recover(None, path, staged=tmp)
    assert not os.path.exists(tmp)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-new"]
    assert not [n for n in os.listdir(tmp_path) if n.endswith(".stale")]


def test_drained_dry_commit_never_adopts_stale_tmp(local_fs, tmp_path):
    """Belt-and-braces on the drained-dry swap itself: draining dry with
    a stale marker-less tmp on disk must delete BOTH dirs (absent dir ==
    empty buffer), not rename the partial into place (ADVICE r3 #1)."""
    import os
    from pathlib import Path

    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        _swap_buffer,
    )

    path, tmp = str(tmp_path / "retry"), str(tmp_path / "retry__rebuild")
    os.makedirs(path)
    Path(path, "part-live").write_text("consumed this drain")
    os.makedirs(tmp)
    Path(tmp, "part-torn").write_text("stale partial")  # no _SUCCESS

    _swap_buffer(None, path, None)  # drained dry: nothing to keep
    assert os.listdir(tmp_path) == []


def test_legacy_dt_only_buffer_rows_survive_drains(spark, tmp_path):
    """A buffer written before the nab bucket column existed (dt-only
    partitioning — a shape due_for_retry explicitly supports) must not
    lose rows across drains: pre-fix, a surviving row picked up a NULL
    nab from the rebuild union, landed under __HIVE_DEFAULT_PARTITION__,
    and the next drain's bucket filter (NULL <= h → NULL) excluded it
    from `due` while `remaining` dropped it once elapsed — vanished
    without retry or DLQ (ADVICE r3 #2)."""
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        replay_due_retries,
        start_file_pipeline,
    )

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "poison_a.exe").write_bytes(b"rejected forever a")
    (src / "poison_b.exe").write_bytes(b"rejected forever b")
    q = start_file_pipeline(spark, str(src), str(out), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    raw = spark.read.parquet(str(out / "retry"))
    rows, schema = raw.collect(), raw.schema
    assert len(rows) == 2
    t0 = min(r.event_time for r in rows)
    # rewrite as a LEGACY buffer: no nab column, dt-only layout; push b's
    # next attempt out so it must SURVIVE the first drain as `remaining`
    legacy = spark.createDataFrame(rows, schema).drop("nab").withColumn(
        "next_attempt_time",
        F.when(
            F.col("file_name") == "poison_b.exe",
            F.col("next_attempt_time") + F.expr("INTERVAL 100 SECONDS"),
        ).otherwise(F.col("next_attempt_time")),
    )
    legacy.write.mode("overwrite").partitionBy("dt").parquet(str(out / "retry"))

    # drain 1 at +6 s: a is due (attempt 2), b survives via `remaining`
    r1 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=6))
    assert r1 is not None
    rebuilt = {r.file_name: r for r in spark.read.parquet(str(out / "retry")).collect()}
    assert set(rebuilt) == {"poison_a.exe", "poison_b.exe"}
    # the legacy survivor's bucket was re-derived, not left NULL
    assert rebuilt["poison_b.exe"].nab is not None
    assert rebuilt["poison_b.exe"].delivery_count == 1

    # drain 2 at +200 s: both due — a exhausts (attempt 3 → DLQ), b
    # retries as attempt 2; pre-fix b vanished here instead
    r2 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=200))
    assert r2 is not None
    survivors = spark.read.parquet(str(out / "retry")).collect()
    assert len(survivors) == 1
    assert survivors[0].file_name == "poison_b.exe"
    assert survivors[0].delivery_count == 2
    failed = spark.read.parquet(str(out / "failed"))
    assert failed.filter(F.col("file_name") == "poison_a.exe").count() == 1


def test_drain_skips_already_processed_rows_and_numbers_epochs(spark, tmp_path):
    """Idempotence guards on the drain: (1) a stale retry row whose
    correlation_id already reached processed/ (the replayed-append
    corner of at-least-once) is anti-joined away, not reprocessed;
    (2) drain epochs come from the persisted sequence, not wall-clock
    seconds, so successive drains never share a batch_id."""
    from fbg_kafka_stream_file_transfer_spark.operators.extract import stub_extractor
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        replay_due_retries,
        start_file_pipeline,
    )

    marker = tmp_path / "down"
    marker.touch()
    marker_path = str(marker)

    def flaky(content: bytes) -> dict:
        import os

        if os.path.exists(marker_path):
            raise RuntimeError("docling unavailable")
        return stub_extractor(content)

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "doc.pdf").write_bytes(b"body")
    q = start_file_pipeline(spark, str(src), str(out), str(ckpt), extractor=flaky)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stale = spark.read.parquet(str(out / "retry"))
    stale_rows, stale_schema = stale.collect(), stale.schema
    t0 = stale_rows[0].event_time

    marker.unlink()  # backend heals → drain 1 processes the row
    r1 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(seconds=6),
                            extractor=flaky)
    assert r1 is not None
    done = spark.read.parquet(str(out / "processed"))
    assert done.count() == 1
    # epoch from the committed drain sequence, not timegm(now)
    assert (tmp_path / "out" / "retry__drain_seq").read_text() == "1"
    assert done.select("batch_id").first().batch_id == -1

    # a replayed micro-batch's append lands late: same retry row reappears
    spark.createDataFrame(stale_rows, stale_schema).write.mode("overwrite").partitionBy(
        "dt"
    ).parquet(str(out / "retry"))
    r2 = replay_due_retries(spark, str(out), t0 + datetime.timedelta(days=1),
                            extractor=flaky)
    assert r2 is None  # anti-join vs processed/ leaves nothing due
    assert spark.read.parquet(str(out / "processed")).count() == 1  # no duplicate


def test_extraction_retry_recovers_original_content(spark, tmp_path):
    """An accepted file whose EXTRACTION fails must retry with its
    ORIGINAL bytes (re-fetched from incoming/, the reference's planned
    reprocess semantics) — and succeed once the backend heals."""
    from fbg_kafka_stream_file_transfer_spark.operators.extract import stub_extractor
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        replay_due_retries,
        start_file_pipeline,
    )

    marker = tmp_path / "backend_down"
    marker.touch()
    marker_path = str(marker)

    def flaky_extractor(content: bytes) -> dict:
        import os

        if os.path.exists(marker_path):
            raise RuntimeError("docling unavailable")
        return stub_extractor(content)

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "doc.pdf").write_bytes(b"the real document body")
    q = start_file_pipeline(spark, str(src), str(out), str(ckpt), extractor=flaky_extractor)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # extraction failed -> retry leg; incoming/ holds the raw bytes
    buf = spark.read.parquet(str(out / "retry")).collect()
    assert len(buf) == 1 and "docling unavailable" in buf[0].reject_reason
    inc = spark.read.parquet(str(out / "incoming")).collect()
    assert bytes(inc[0].content) == b"the real document body"

    marker.unlink()  # backend heals
    r = replay_due_retries(
        spark, str(out), buf[0].event_time + datetime.timedelta(seconds=6),
        extractor=flaky_extractor,
    )
    assert r is not None
    done = spark.read.parquet(str(out / "processed")).collect()
    assert len(done) == 1
    # the extracted text is from the ORIGINAL bytes, not fabricated emptiness
    assert '"text":"the real document body"' in done[0].result_json


def test_drain_into_a_uri_out_dir_numbers_epochs_and_keeps_rows(spark, tmp_path):
    """The drain probes its buffer, processed/ and the drain sequence
    through the Hadoop FileSystem, like its writes: with a ``file://``
    out_dir a Python ``os.path`` probe answers 'absent', so the drain
    never ran, and a sequence read that way restarted at 0 on every
    drain, reusing epoch -1 and overwriting the previous drain's
    processed/ partitions. Two drains here must each re-admit their
    due row, under epochs -1 and -2, and both rows must stay in
    processed/."""
    from fbg_kafka_stream_file_transfer_spark.envelope import from_binary_files
    from fbg_kafka_stream_file_transfer_spark.operators.extract import stub_extractor
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        process_envelope_batch,
        replay_due_retries,
        write_batch_sinks,
    )

    down = {name: tmp_path / f"down_{name}" for name in ("a", "b")}
    for marker in down.values():
        marker.touch()
    down_paths = {f"doc {k}".encode(): str(v) for k, v in down.items()}

    def flaky(content: bytes) -> dict:
        import os

        if os.path.exists(down_paths[bytes(content)]):
            raise RuntimeError("docling unavailable")
        return stub_extractor(content)

    src = tmp_path / "in"
    src.mkdir()
    for name in down:
        (src / f"{name}.pdf").write_bytes(f"doc {name}".encode())
    out = f"file://{tmp_path / 'out'}"
    env = from_binary_files(spark, str(src))
    result = process_envelope_batch(env, extractor=flaky)
    write_batch_sinks(result, out, epoch_id=0)
    result.unpersist()
    t0 = min(r.event_time for r in spark.read.parquet(f"{out}/retry").collect())

    down["a"].unlink()  # a heals: drain 1 processes it, b fails again
    r1 = replay_due_retries(spark, out, t0 + datetime.timedelta(seconds=6), extractor=flaky)
    assert r1 is not None
    down["b"].unlink()  # b heals: its rescheduled row is due 10 s later
    r2 = replay_due_retries(spark, out, t0 + datetime.timedelta(seconds=20), extractor=flaky)
    assert r2 is not None

    done = spark.read.parquet(f"{out}/processed").select("file_name", "batch_id").collect()
    assert sorted((r.file_name, r.batch_id) for r in done) == [("a.pdf", -1), ("b.pdf", -2)]
    assert (tmp_path / "out" / "retry__drain_seq").read_text() == "2"
