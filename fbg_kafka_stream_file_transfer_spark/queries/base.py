"""Shared conventions for oracle-checked queries.

Cross-engine determinism rules (Spark ↔ DuckDB):

- **Doubles**: every aggregated/computed double in the output is
  ``round(x, N)`` on BOTH sides (2 for money-like sums, 6 for ratios).
- **Money sums are DECIMAL-exact**: ``sum(double)`` is summation-order
  dependent — at sf0.1+ big revenue groups land on the cent rounding
  boundary and engines diverge. Money aggregates therefore quantize
  each term (``CAST(x AS DECIMAL(18,4))`` for 2-4dp columns,
  ``DECIMAL(28,8)`` for price×discount products), sum exactly, ROUND
  WHILE STILL DECIMAL (both engines round decimal ties half-away-
  from-zero; rounding the cast double instead diverges — Spark rounds
  the shortest string repr, DuckDB the exact binary), and only then
  cast to DOUBLE for the output schema. Verified identical at sf0.01
  and sf0.1 across the whole relational family.
- **Negative zero**: ``round()`` of a tiny negative double yields IEEE
  ``-0.0``, rendered "-0" by some format paths; any rounded output
  that can straddle zero adds ``+ 0.0`` on both sides to canonicalize.
- **Ordering/top-k**: rank on the rounded value with an explicit unique
  tie-break key, so near-equal doubles can't flip membership.
- **Timestamps**: window starts are emitted as formatted strings
  (``yyyy-MM-dd HH:mm:ss``) — avoids hashing engine-specific timestamp
  encodings. Session TZ is pinned UTC.
- **Int casts**: ``floor()`` before any double→int cast (Spark truncates,
  DuckDB rounds); DuckDB ``sum(int)`` is HUGEINT, so oracles cast sums
  back to BIGINT.
- **Hashes as portable primitives**: md5/sha256 hex strings are identical
  in both engines, so MinHash/fingerprint-style operators hash with md5
  and compare lexicographically — portable by construction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table


import os as _os

#: shuffle/state partitions for the streaming e2e fixtures, scoped with
#: ``session.scoped_conf`` around a streaming query's start→drain window
#: (the conf is captured at ``.start()``). A stateful micro-batch query
#: pins its state-store partitioning to spark.sql.shuffle.partitions at
#: FIRST start; the e2e fixtures push a few thousand rows per batch, so
#: 32 state partitions is pure per-batch task/commit overhead
#: (measured: dedup 7.6→5.4 s, zscore 7.1→5.4 s, debounce 5.0→3.9 s at
#: 8). Parameterized because the right production value follows STATE
#: VOLUME (keys × state bytes; size like any shuffle, 2-3× executor
#: cores), never the local core count.
STREAM_SHUFFLE = {
    "spark.sql.shuffle.partitions": _os.environ.get(
        "SPARK_GRAFT_STREAM_SHUFFLE", "8"
    )
}


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for an already-collected local summary.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` slices, so every later action on the tiny
    frame schedules one task — and one Python-worker round-trip — per
    core (measured 0.31 s vs 0.17 s for a 3-row frame on local[32]).
    A single slice keeps the exact pickled-row conversion path with one
    task. Use for driver-side summaries only, never for real data."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


@dataclass(frozen=True)
class Q:
    """One oracle-checked query: Spark impl + optional DuckDB oracle SQL."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


def shared_sql(
    sql: str, tables: tuple[str, ...], parallel: tuple[str, ...] = ()
) -> Q:
    """A query whose SQL parses and means the same in Spark SQL and DuckDB:
    run the identical string on both engines.

    ``parallel`` names the fact tables to route through
    ``ensure_parallelism`` before registering the view: the driver's
    testdata files are single-row-group parquet, so their scans are
    ONE task and every map-side cost above them (decimal money
    aggregation, join probes) runs on one core. The guard repartitions
    to cluster parallelism only when the scan is coarser than that —
    at 100 TB the inputs have thousands of splits and it is a no-op
    (sources/tables.ensure_parallelism). Only list tables that stream
    (probe/aggregate); broadcast-bound dimensions must NOT be listed —
    repartitioning a table that is about to be broadcast is pure
    overhead. Results are unaffected: every aggregate in the suite is
    order-independent by the module conventions above (exact decimal
    money sums, explicit tie-breaks)."""
    from ..sources.tables import ensure_parallelism

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            df = load_table(spark, sf_dir, t)
            if t in parallel:
                df = ensure_parallelism(df)
            df.createOrReplaceTempView(t)
        return spark.sql(sql)

    return Q(spark=run, oracle=sql)
