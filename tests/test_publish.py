"""The one replace-a-directory protocol (operators/publish.py) under
failure: every directory the engine swaps itself must come back to
old-or-new after a filesystem call fails at ANY step, and a re-run
must then match a clean run with no committed row lost.

Faults are injected by wrapping the FileSystem handle the publish
module hands out, so a test fails exactly the k-th call the protocol
makes, for every k, at each site that uses it."""

from __future__ import annotations

import datetime
import logging
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators import publish
from fbg_kafka_stream_file_transfer_spark.operators.scale import (
    merge_into_partitioned,
)
from fbg_kafka_stream_file_transfer_spark.operators.table import (
    ManifestTable,
    _read_small_file,
    _write_small_file,
)

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)


class _Plan:
    fail_at: int | None = None
    calls = 0
    hit = False


class _FaultyFs:
    """Proxy over a Hadoop FileSystem that raises on the plan's k-th
    call, counted across every handle the publish module gives out."""

    def __init__(self, fs, plan: _Plan):
        self._fs, self._plan = fs, plan

    def __getattr__(self, name):
        member = getattr(self._fs, name)

        def call(*args):
            plan = self._plan
            plan.calls += 1
            if plan.calls == plan.fail_at:
                plan.hit = True
                raise IOError(f"injected fault at fs call {plan.calls} ({name})")
            return member(*args)

        return call


@pytest.fixture()
def faults(monkeypatch):
    real = publish._hadoop_fs
    plan = _Plan()

    def faulty(spark, path):
        fs, jpath = real(spark, path)
        return _FaultyFs(fs, plan), jpath

    monkeypatch.setattr(publish, "_hadoop_fs", faulty)
    return plan


def _each_fault(plan: _Plan, faulty_run, recover_and_check) -> int:
    """For k = 1, 2, …: run ``faulty_run`` with the k-th publish call
    failing, then ``recover_and_check`` with faults off — until a run
    makes fewer than k calls. Returns the number of steps covered."""
    k = 0
    while True:
        k += 1
        plan.fail_at, plan.calls, plan.hit = k, 0, False
        try:
            faulty_run()
        except Exception:
            if not plan.hit:
                raise  # a real failure, not the injected one
        plan.fail_at = None
        recover_and_check(k)
        if not plan.hit:
            return k - 1


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _hidden_asides(root: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(root)
        for n in dirs
        if n.endswith(".stale")
    ]


# --- plain-layout merge publish ------------------------------------------


def _plain_table(spark, path):
    spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c"), (4, 2, "d"), (5, 3, "e")],
        "id long, p int, v string",
    ).write.partitionBy("p").parquet(path)


def _plain_delta(spark):
    # p=1 keeps a survivor, p=2 is untouched, p=3 is emptied
    return spark.createDataFrame(
        [(1, 1, "A", "U"), (5, 3, None, "D")],
        "id long, p int, v string, op string",
    )


def _merge(spark, path):
    return merge_into_partitioned(
        spark, path, _plain_delta(spark), ["id"], ["p"], op_col="op"
    )


def test_failed_partition_rename_keeps_pre_merge_rows(spark, tmp_path, monkeypatch):
    """ADVICE medium #1: the staged rename of one partition fails during
    a two-partition plain merge. That partition's pre-merge rows must
    stay readable (the old publish deleted it first and then dropped
    staging), and the next merge must recover to a clean run."""
    clean, path = str(tmp_path / "clean"), str(tmp_path / "t")
    _plain_table(spark, clean)
    _plain_table(spark, path)
    delta = spark.createDataFrame(
        [(1, 1, "A", "U"), (3, 2, "C", "U")],
        "id long, p int, v string, op string",
    )
    merge_into_partitioned(spark, clean, delta, ["id"], ["p"], op_col="op")

    real = publish._hadoop_fs

    class _RefuseP2(_FaultyFs):
        def __getattr__(self, name):
            member = getattr(self._fs, name)
            if name != "rename":
                return member
            return lambda src, dst: (
                False
                if "_merge_staging" in src.toString() and "p=2" in src.toString()
                else member(src, dst)
            )

    monkeypatch.setattr(
        publish,
        "_hadoop_fs",
        lambda s, p: (_RefuseP2(real(s, p)[0], None), real(s, p)[1]),
    )
    with pytest.raises(RuntimeError, match="merge publish .* failed") as err:
        merge_into_partitioned(spark, path, delta, ["id"], ["p"], op_col="op")
    monkeypatch.setattr(publish, "_hadoop_fs", real)
    assert "upsert/delete merges only" in str(err.value)
    assert "_merge_staging" in str(err.value)

    got = spark.read.parquet(path)
    assert _rows(got.filter("p = 2"), "id", "v") == [(3, "c"), (4, "d")]

    merge_into_partitioned(spark, path, delta, ["id"], ["p"], op_col="op")
    want = _rows(spark.read.parquet(clean), "id", "p", "v")
    assert _rows(spark.read.parquet(path), "id", "p", "v") == want
    assert not os.path.exists(f"{path}/_merge_staging")
    assert _hidden_asides(path) == []


def test_merge_publish_survives_a_fault_at_every_step(spark, tmp_path, faults):
    clean = str(tmp_path / "clean")
    _plain_table(spark, clean)
    _merge(spark, clean)
    want = _rows(spark.read.parquet(clean), "id", "p", "v")
    assert want == [(1, 1, "A"), (2, 1, "b"), (3, 2, "c"), (4, 2, "d")]
    base, path = str(tmp_path / "base"), str(tmp_path / "t")
    _plain_table(spark, base)

    def run():
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(base, path)
        _merge(spark, path)

    def check(k):
        # every partition is old-or-new right after the failure …
        got = _rows(spark.read.parquet(path), "id", "p", "v")
        pre = {(1, 1, "a"), (2, 1, "b"), (3, 2, "c"), (4, 2, "d"), (5, 3, "e")}
        assert {r[0] for r in got} >= {2, 4}, (k, got)  # never lost
        assert set(got) <= pre | set(want), (k, got)
        # … and the re-run (recovery first) converges to the clean run
        _merge(spark, path)
        assert _rows(spark.read.parquet(path), "id", "p", "v") == want, k
        assert _hidden_asides(path) == [], k

    assert _each_fault(faults, run, check) >= 8


# --- retry buffer drain ----------------------------------------------------


def _retry_base(spark, src, out):
    """An out dir whose retry buffer holds b.exe (attempt 1) and c.exe
    (attempt 2), both due at TS + 60 s; a.pdf is processed."""
    from fbg_kafka_stream_file_transfer_spark.envelope import from_binary_files
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        process_envelope_batch,
        write_batch_sinks,
    )

    os.makedirs(src)
    for name in ("a.pdf", "b.exe", "c.exe"):
        with open(f"{src}/{name}", "wb") as fh:
            fh.write(f"body of {name}".encode())
    env = from_binary_files(spark, src).withColumn(
        "event_time", F.lit(TS).cast("timestamp")
    ).withColumn(
        "delivery_count",
        F.when(F.col("file_name") == "c.exe", 2).otherwise(1),
    )
    res = process_envelope_batch(env)
    write_batch_sinks(res, out, epoch_id=0)
    res.unpersist()


def test_retry_drain_survives_a_fault_at_every_step(spark, tmp_path, faults):
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        replay_due_retries,
    )

    base, out = str(tmp_path / "base"), str(tmp_path / "out")
    _retry_base(spark, str(tmp_path / "src"), base)
    now = TS + datetime.timedelta(seconds=60)

    def state(d):
        buf = _rows(
            spark.read.parquet(f"{d}/retry"),
            "file_name", "delivery_count", "next_attempt_time",
        )
        dlq = {r.file_name for r in spark.read.parquet(f"{d}/failed").collect()}
        done = _rows(spark.read.parquet(f"{d}/processed"), "file_name")
        return buf, dlq, done

    shutil.copytree(base, out)
    assert replay_due_retries(spark, out, now) is not None
    want = state(out)
    # the rescheduled row (attempt 2) lands in the rebuilt buffer
    assert [(r[0], r[1]) for r in want[0]] == [("b.exe", 2)]
    assert want[1] == {"c.exe"} and want[2] == [("a.pdf",)]

    def run():
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(base, out)
        replay_due_retries(spark, out, now)

    def check(k):
        replay_due_retries(spark, out, now)
        assert state(out) == want, k
        assert _hidden_asides(out) == [], k
        assert not os.path.exists(f"{out}/retry__rebuild"), k

    assert _each_fault(faults, run, check) >= 8


# --- deferred buffer (streaming min-age gate) --------------------------------


def test_deferred_commit_survives_a_fault_at_every_step(spark, tmp_path, faults):
    """A failed commit is a failed micro-batch: the epoch replays and
    must see the OLD buffer (the documented commit point), then land
    the same buffer a clean batch would."""
    from fbg_kafka_stream_file_transfer_spark.streaming.pipeline import (
        _stability_gate,
    )

    schema = "correlation_id string, event_time timestamp"
    now = TS + datetime.timedelta(hours=1)
    old_buf = [("parked-stable", TS), ("parked-fresh", now)]
    batch = [("new-stable", TS), ("new-fresh", now)]
    out = str(tmp_path / "out")

    def fresh_out():
        shutil.rmtree(out, ignore_errors=True)
        spark.createDataFrame(old_buf, schema).write.parquet(f"{out}/deferred")

    def epoch():
        env = spark.createDataFrame(batch, schema)
        stable, commit = _stability_gate(spark, env, out, 60, lambda: now)
        admitted = _rows(stable, "correlation_id")
        commit()
        return admitted

    fresh_out()
    want_admitted = epoch()
    want = _rows(spark.read.parquet(f"{out}/deferred"), "correlation_id")
    assert want == [("new-fresh",), ("parked-fresh",)]
    assert want_admitted == [("new-stable",), ("parked-stable",)]

    failed = {}

    def run():
        fresh_out()
        failed.clear()
        try:
            epoch()
        except Exception:
            failed["yes"] = True
            raise

    def check(k):
        if failed:  # the batch failed: the source replays the epoch
            assert epoch() == want_admitted, k
        else:  # committed; the next batch's gate recovers first
            publish.recover(spark, f"{out}/deferred")
        got = _rows(spark.read.parquet(f"{out}/deferred"), "correlation_id")
        assert got == want, k
        assert _hidden_asides(out) == [], k

    assert _each_fault(faults, run, check) >= 5


# --- changes-feed stale-replay swap ------------------------------------------


def test_feed_stale_replay_swap_survives_a_fault_at_every_step(
    spark, tmp_path, faults
):
    from fbg_kafka_stream_file_transfer_spark.streaming.table_tail import (
        _FEED_MARKER,
        read_changes_feed,
        start_table_changes_tail,
    )

    def drain(feed, ckpt):
        q = start_table_changes_tail(spark, path, feed, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    path = str(tmp_path / "t")
    ManifestTable(spark, path).create(
        spark.createDataFrame(
            [(1, "a", "x1"), (2, "b", "x2")], "id int, pt string, v string"
        ),
        ["pt"],
    )
    base = str(tmp_path / "base_feed")
    drain(base, str(tmp_path / "ck_base"))
    marker = f"{base}/v00000001/{_FEED_MARKER}"
    want_marker = _read_small_file(spark, marker)
    want = _rows(read_changes_feed(spark, path, base), "id", "v")
    # a diverged feed dir: the recorded commit differs from the
    # manifest's, so the next batch re-emits v1 through the swap
    _write_small_file(spark, marker, "0" * 32)
    feed, n = str(tmp_path / "feed"), [0]

    def tail_once():
        n[0] += 1  # a fresh checkpoint re-delivers every manifest
        drain(feed, str(tmp_path / f"ck{n[0]}"))

    def run():
        shutil.rmtree(feed, ignore_errors=True)
        shutil.copytree(base, feed)
        tail_once()

    def state():
        return (
            _read_small_file(spark, f"{feed}/v00000001/{_FEED_MARKER}"),
            _rows(read_changes_feed(spark, path, feed), "id", "v"),
        )

    run()  # faults are not armed yet: the clean correction
    assert state() == (want_marker, want)

    def check(k):
        tail_once()
        assert state() == (want_marker, want), k
        assert _hidden_asides(feed) == [], k

    assert _each_fault(faults, run, check) >= 5


# --- manifest commit --------------------------------------------------------


@pytest.mark.parametrize("optimistic", [False, True])
def test_manifest_publish_survives_a_fault_at_every_step(
    spark, tmp_path, faults, optimistic
):
    """The locked commit publishes a generation it staged in place; the
    optimistic one also renames its staging in, so both are faulted."""
    upd = spark.createDataFrame(
        [(1, "a", "X1", "U"), (3, "b", "x3", "U")],
        "id int, pt string, v string, op string",
    )

    def table(path):
        shutil.rmtree(path, ignore_errors=True)
        ManifestTable(spark, path).create(
            spark.createDataFrame(
                [(1, "a", "x1"), (2, "b", "x2")], "id int, pt string, v string"
            ),
            ["pt"],
        )

    def merge(path):
        merge_into_partitioned(
            spark, path, upd, ["id"], ["pt"], op_col="op", optimistic=optimistic
        )

    table(str(tmp_path / "clean"))
    merge(str(tmp_path / "clean"))
    clean = ManifestTable(spark, str(tmp_path / "clean"))
    want = (clean.current_version(), _rows(clean.read(), "id", "pt", "v"))
    path = str(tmp_path / "t")

    def run():
        fail_at, faults.fail_at = faults.fail_at, None
        table(path)
        faults.fail_at, faults.calls = fail_at, 0
        merge(path)

    def check(k):
        mt = ManifestTable(spark, path)
        got = _rows(mt.read(), "id", "pt", "v")
        assert got in (want[1], [(1, "a", "x1"), (2, "b", "x2")]), k
        if mt.current_version() != want[0]:
            merge(path)
        assert (mt.current_version(), _rows(mt.read(), "id", "pt", "v")) == want, k

    assert _each_fault(faults, run, check) >= 4


# --- logged best-effort failures -------------------------------------------


def test_failing_dlq_leg_logs_and_other_legs_land(spark, tmp_path, caplog, monkeypatch):
    from fbg_kafka_stream_file_transfer_spark.envelope import from_binary_files
    from fbg_kafka_stream_file_transfer_spark.streaming import pipeline

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    for name in ("a.pdf", "b.exe"):
        with open(f"{src}/{name}", "wb") as fh:
            fh.write(f"body of {name}".encode())
    real_leg = pipeline._write_leg

    def leg(df, path, epoch_id):
        if path.endswith("/failed"):
            raise IOError("DLQ store unavailable")
        real_leg(df, path, epoch_id)

    monkeypatch.setattr(pipeline, "_write_leg", leg)
    res = pipeline.process_envelope_batch(from_binary_files(spark, src))
    with caplog.at_level(logging.WARNING, logger=pipeline.__name__):
        pipeline.write_batch_sinks(res, out, epoch_id=0)
    res.unpersist()

    recs = [r for r in caplog.records if "DLQ sink write failed" in r.getMessage()]
    assert len(recs) == 1 and recs[0].exc_info is not None
    assert "DLQ store unavailable" in str(recs[0].exc_info[1])
    for leg_dir, n in (("incoming", 1), ("processed", 1), ("retry", 1)):
        assert spark.read.parquet(f"{out}/{leg_dir}").count() == n, leg_dir
    assert not os.path.exists(f"{out}/failed")
