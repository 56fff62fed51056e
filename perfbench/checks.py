"""Output checks. Each returns the number of failed operations, so the
counts add straight into the run's ``failed``."""

from __future__ import annotations

import collections
import os

import pyarrow.dataset as ds

from .fixtures import correlation_id

STREAM_LEGS = ("incoming", "processed", "retry", "failed")


def leg_ids(out_dir: str, leg: str) -> collections.Counter:
    """correlation_id multiset of one sink leg, read without Spark."""
    path = os.path.join(out_dir, leg)
    if not os.path.isdir(path):
        return collections.Counter()
    d = ds.dataset(path, format="parquet", partitioning="hive")
    if not d.files:  # a leg no row reached holds metadata only
        return collections.Counter()
    t = d.to_table(columns=["correlation_id"])
    return collections.Counter(t.column("correlation_id").to_pylist())


def stream_legs(out_dir: str, files: list[tuple[str, bytes]]) -> int:
    """Every file lands exactly once in its expected legs and nowhere
    else: a valid file in ``incoming`` and ``processed``, an ``.exe`` in
    ``retry``. The expected id is SHA-256(name ‖ content), computed here."""
    legs = {leg: leg_ids(out_dir, leg) for leg in STREAM_LEGS}
    failed = 0
    expected = set()
    for name, body in files:
        cid = correlation_id(name, body)
        expected.add(cid)
        want = ("retry",) if name.endswith(".exe") else ("incoming", "processed")
        if any(legs[leg][cid] != (1 if leg in want else 0) for leg in STREAM_LEGS):
            failed += 1
    # rows nobody sent
    failed += sum(
        n for leg in legs.values() for cid, n in leg.items() if cid not in expected
    )
    return failed


_TABLE_COLS = "event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props"
_MIRRORS = {
    "error_rate": "a1_error_rate_sliding",
    "p95_exact": "a3_p95_processing_time",
    "backlog": "a2_backlog_running",
}
#: rank slack allowed to the approximate p95 (the sketch's accuracy is
#: 1/10000 of the rank; this is far looser and still catches a wrong value)
_APPROX_RANK_SLACK = 0.002


def upkeep_tables(wl) -> int:
    """batch_upkeep: replay every round's delta on DuckDB with
    last-writer-wins, check each round's alert outputs against the
    package's DuckDB mirror SQL over that round's table state, and the
    final merged table row for row. One failure per wrong alert pass,
    one for a wrong final table."""
    import duckdb
    from pyspark.sql import SparkSession

    from fbg_kafka_stream_file_transfer_spark.queries.monitoring_q import QUERIES

    from .upkeep import INSERT_ID_OFFSET

    con = duckdb.connect()
    ev0 = wl.tables["events"]
    con.register("ev0", ev0)
    con.execute("CREATE TABLE events AS SELECT * FROM ev0")
    failed = 0
    for rd, alerts in zip(wl.rounds, wl.alert_rows):
        r, lo, hi = rd["round"], rd["lo"], rd["hi"]
        ins = ",".join(map(str, rd["ins"])) or "NULL"
        dels = ",".join(map(str, rd["dels"])) or "NULL"
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE delta AS
            SELECT event_id, ts, user_id, event_type, value, props || ' [r{r}]' AS props
              FROM ev0 WHERE event_id >= {lo} AND event_id < {hi}
            UNION ALL
            SELECT event_id + {INSERT_ID_OFFSET}, ts, user_id, event_type, value,
                   props || ' [new{r}]' FROM ev0 WHERE event_id IN ({ins})"""
        )
        con.execute(
            f"""DELETE FROM events WHERE event_id IN (SELECT event_id FROM delta)
                OR event_id IN ({dels})"""
        )
        con.execute("INSERT INTO events SELECT * FROM delta")
        ok = all(
            same_result(*alerts[k], con.execute(QUERIES[q].oracle))
            for k, q in _MIRRORS.items()
        )
        ok = ok and _approx_p95_ok(con, alerts["p95_approx"])
        failed += not ok

    spark = SparkSession.getActiveSession()
    con.register("actual", spark.read.parquet(wl.table).toArrow())
    diff = con.execute(
        f"""SELECT count(*) FROM (
              (SELECT {_TABLE_COLS} FROM actual EXCEPT ALL SELECT {_TABLE_COLS} FROM events)
              UNION ALL
              (SELECT {_TABLE_COLS} FROM events EXCEPT ALL SELECT {_TABLE_COLS} FROM actual))"""
    ).fetchone()[0]
    return failed + (diff > 0)


def _approx_p95_ok(con, approx) -> bool:
    """Each day's sketch p95 lies between the exact values at ranks
    0.95 ∓ slack, and every day is present with its exact count."""
    cols, rows = approx
    got = {r[cols.index("window_start")]: (r[cols.index("p95_seconds")], r[cols.index("n")]) for r in rows}
    lo_q, hi_q = 0.95 - _APPROX_RANK_SLACK, 0.95 + _APPROX_RANK_SLACK
    want = con.execute(
        f"""SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S'),
                   quantile_disc(value, {lo_q}), quantile_disc(value, {hi_q}), count(*)
            FROM events GROUP BY 1"""
    ).fetchall()
    return len(got) == len(want) and all(
        w in got and lo <= got[w][0] <= hi and got[w][1] == n for w, lo, hi, n in want
    )


def same_result(spark_cols, spark_rows, duck_cursor) -> bool:
    """Row count, column names and the order-insensitive value hash of the
    project's oracle check."""
    from oracle_check import frame_digest

    dcols = [d[0] for d in duck_cursor.description]
    drows = duck_cursor.fetchall()
    return (
        sorted(spark_cols) == sorted(dcols)
        and len(spark_rows) == len(drows)
        and frame_digest(list(spark_cols), spark_rows) == frame_digest(dcols, drows)
    )
