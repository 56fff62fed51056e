"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]`` (default 32); on a
real cluster the same builder applies minus the master override. The
settings below are chosen for 100 TB-scale behavior:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct
  when per-partition sizes are wrong at scale,
- UTC session timezone so results are deterministic and oracle-comparable,
- Arrow enabled so every pandas-UDF operator is vectorized,
- shuffle partitions sized to cores locally; on a cluster this should be
  2-3x total executor cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "fbg_kafka_stream_file_transfer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # NULL-on-error arithmetic (x/0 → NULL like DuckDB/classic SQL):
        # Spark 4's ANSI default would instead abort the job on the first
        # zero-norm vector or overflow — the oracle conventions and the
        # pipeline's keep-processing posture assume NULL semantics
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: The engine's documented expression semantics (ANSI off: NULL-on-error
#: arithmetic, wrap-on-overflow explicit casts — see ``get_spark``),
#: scoped around DML/merge so they hold on a caller's ANSI-on session.
ENGINE_SQL_CONF = {"spark.sql.ansi.enabled": "false"}


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the ``with`` body, then restore
    each key's previous value (unset if it had none). Re-entrant.

    This mutates the caller's session, so the session must be
    single-threaded for the duration: a query another thread (or a
    running stream's ``foreachBatch``) analyzes inside the window gets
    these values too. Scope plan construction as well as the action —
    ANSI cast/arithmetic modes are baked in when a DataFrame is built."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
