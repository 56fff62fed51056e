"""Round-17 pins: queries run on the CALLER's SparkSession, which on
Spark 4 defaults to ANSI ON — the engine's documented DML semantics
(ANSI off: wrap-on-overflow explicit casts, NULL-on-error arithmetic)
must hold regardless of that session conf (r16 verdict, dml_cast_guard
CAST_OVERFLOW under the driver's ANSI-on session)."""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators.scale import (
    merge_into_partitioned,
)
from fbg_kafka_stream_file_transfer_spark.operators.table import ManifestTable
from fbg_kafka_stream_file_transfer_spark.session import (
    ENGINE_SQL_CONF,
    scoped_conf,
)

WRAP = 2**40 + 7


@contextmanager
def ansi_on(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="r17_ansi_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _make_table(spark, path):
    df = spark.createDataFrame(
        [Row(pt=i % 2, event_id=i, vc=100 + i) for i in range(8)],
        "pt int, event_id bigint, vc int",
    )
    mt = ManifestTable(spark, path)
    mt.create(df, ["pt"])
    return mt


class TestDmlAnsiIndependence:
    """update_where / merge evaluate SET expressions under the engine's
    documented ANSI-off semantics even when the session runs ANSI on."""

    def test_update_where_wrap_under_ansi_on(self, spark, workdir):
        mt = _make_table(spark, f"{workdir}/t1")
        with ansi_on(spark):
            mt.update_where(
                [("event_id", ">=", 0)],
                {"vc": f"cast(vc + {WRAP} as int)"},
            )
        got = {r.event_id: r.vc for r in mt.read().collect()}
        # two's-complement wrap: (100+i) + 2^40+7 mod 2^32 keeps low bits
        assert got[0] == 100 + 7, got
        assert got[5] == 105 + 7, got

    def test_update_where_unguarded_still_refuses(self, spark, workdir):
        mt = _make_table(spark, f"{workdir}/t2")
        with ansi_on(spark):
            with pytest.raises(ValueError, match="wraps/truncates"):
                mt.update_where(
                    [("event_id", ">=", 0)], {"vc": f"vc + {WRAP}"}
                )
        assert mt.current_version() == 1

    def test_merge_clause_wrap_under_ansi_on(self, spark, workdir):
        mt = _make_table(spark, f"{workdir}/t3")
        delta = spark.createDataFrame(
            [Row(pt=0, event_id=0)], "pt int, event_id bigint"
        )
        with ansi_on(spark):
            merge_into_partitioned(
                spark, mt.path, delta, ["event_id"], ["pt"],
                when_matched_update={
                    "vc": f"cast(t.vc + {WRAP} as int)"
                },
            )
        got = {r.event_id: r.vc for r in mt.read().collect()}
        assert got[0] == 100 + 7, got
        assert got[1] == 101, got  # untouched

    def test_session_conf_restored(self, spark, workdir):
        mt = _make_table(spark, f"{workdir}/t4")
        with ansi_on(spark):
            mt.delete_where([("event_id", ">=", 6)])
            assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert mt.read().count() == 6

    def test_scope_reentrant_and_restoring(self, spark):
        key = "spark.sql.ansi.enabled"
        base = spark.conf.get(key)
        with ansi_on(spark):
            with scoped_conf(spark, ENGINE_SQL_CONF):
                assert spark.conf.get(key) == "false"
                with scoped_conf(spark, ENGINE_SQL_CONF):
                    assert spark.conf.get(key) == "false"
                assert spark.conf.get(key) == "false"
            assert spark.conf.get(key) == "true"
        assert spark.conf.get(key) == base


class TestPlainMergeRenamePublish:
    """r17: the plain-layout merge publishes by renaming staged
    partition dirs into place (one data write) instead of re-reading
    staging and dynamic-overwriting. Pin the publish on the shapes the
    rename mirror must get right: %-escaped partition values,
    multi-level partitions, emptied partitions."""

    def test_escaped_partition_values(self, spark, workdir):
        import os

        path = f"{workdir}/esc"
        vals = ["plain", "with space", "a:b", "p%20q"]
        rows = [(i, vals[i % 4], f"v{i}") for i in range(16)]
        spark.createDataFrame(
            rows, "id long, pt string, props string"
        ).write.partitionBy("pt").parquet(path)
        upd = spark.createDataFrame(
            [(1, "with space", "UPDATED", "U"), (2, "a:b", None, "D")],
            "id long, pt string, props string, op string",
        )
        n = merge_into_partitioned(
            spark, path, upd, ["id"], ["pt"], op_col="op"
        )
        assert n == 2
        got = {r.id: (r.pt, r.props) for r in spark.read.parquet(path).collect()}
        assert got[1] == ("with space", "UPDATED")
        assert 2 not in got
        assert len(got) == 15
        assert not os.path.exists(f"{path}/_merge_staging")
        # each touched value still lives under ONE directory (no
        # escape/unescape drift creating a twin dir)
        dirs = [d for d in os.listdir(path) if d.startswith("pt=")]
        assert len(dirs) == 4, dirs

    def test_multilevel_partitions(self, spark, workdir):
        import os

        path = f"{workdir}/ml"
        rows = [(i, i % 2, f"d{i % 3}", f"v{i}") for i in range(18)]
        spark.createDataFrame(
            rows, "id long, a int, b string, props string"
        ).write.partitionBy("a", "b").parquet(path)
        upd = spark.createDataFrame(
            [(0, 0, "d0", "UPDATED", "U"), (7, 1, "d1", None, "D")],
            "id long, a int, b string, props string, op string",
        )
        n = merge_into_partitioned(
            spark, path, upd, ["id"], ["a", "b"], op_col="op"
        )
        assert n == 2
        got = {r.id: r.props for r in spark.read.parquet(path).collect()}
        assert got[0] == "UPDATED"
        assert 7 not in got
        assert len(got) == 17
        assert not os.path.exists(f"{path}/_merge_staging")

    def test_emptied_partition_dir_removed(self, spark, workdir):
        import os

        path = f"{workdir}/empt"
        rows = [(i, "p0" if i < 3 else "p1", f"v{i}") for i in range(6)]
        spark.createDataFrame(
            rows, "id long, pt string, props string"
        ).write.partitionBy("pt").parquet(path)
        upd = spark.createDataFrame(
            [(0, "p0", None, "D"), (1, "p0", None, "D"), (2, "p0", None, "D")],
            "id long, pt string, props string, op string",
        )
        merge_into_partitioned(spark, path, upd, ["id"], ["pt"], op_col="op")
        assert not os.path.exists(f"{path}/pt=p0")
        got = sorted(r.id for r in spark.read.parquet(path).collect())
        assert got == [3, 4, 5]


class TestExactQuantileValues:
    """r17: `_quantile_bounds`/`clip_outliers` compute exact quantiles
    via bounded histogram refinement instead of the percentile UDAF's
    single-reduce value-counts map. The contract is BIT-IDENTITY with
    Spark's `percentile` — pinned here over adversarial value sets."""

    PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

    def _check(self, spark, values, probs=None):
        import math

        from fbg_kafka_stream_file_transfer_spark.operators import profile

        probs = probs or self.PROBS
        df = spark.createDataFrame([(v,) for v in values], "v double")
        arr = ", ".join(repr(p) for p in probs)
        expected = df.agg(
            F.expr(f"percentile(v, array({arr}))").alias("q")
        ).collect()[0]["q"]
        got = profile._exact_quantile_values(df, "v", probs)
        assert len(got) == len(expected)
        for g, e in zip(got, expected):
            if e is None:
                assert g is None
            elif isinstance(e, float) and math.isnan(e):
                assert math.isnan(g)
            else:
                assert g == e, (g, e)  # bit-identical, no tolerance

    def test_random_with_duplicates(self, spark):
        import random

        rng = random.Random(17)
        vals = [round(rng.uniform(-1e6, 1e6), 3) for _ in range(5000)]
        vals += vals[:500]  # heavy duplicates
        self._check(spark, vals)

    def test_tiny_n(self, spark):
        self._check(spark, [42.0])
        self._check(spark, [2.0, 1.0])
        self._check(spark, [3.0, 3.0, 3.0])

    def test_empty_and_nulls(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            _exact_quantile_values,
        )

        df = spark.createDataFrame([(None,), (None,)], "v double")
        got = _exact_quantile_values(df, "v", [0.5, 0.9])
        assert got == [None, None]

    def test_integer_column(self, spark):
        import math

        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            _exact_quantile_values,
        )

        df = spark.createDataFrame([(i % 97,) for i in range(2000)], "v long")
        expected = df.agg(
            F.expr("percentile(v, array(0.1, 0.5, 0.9))").alias("q")
        ).collect()[0]["q"]
        got = _exact_quantile_values(df, "v", [0.1, 0.5, 0.9])
        assert got == list(expected)

    def test_matches_on_lineitem_prices(self, spark, sf_dir):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            _exact_quantile_values,
        )
        from fbg_kafka_stream_file_transfer_spark.sources.tables import (
            load_table,
        )

        li = load_table(spark, sf_dir, "lineitem")
        probs = [i / 10 for i in range(1, 10)]
        arr = ", ".join(repr(p) for p in probs)
        expected = li.agg(
            F.expr(f"percentile(l_extendedprice, array({arr}))").alias("q")
        ).collect()[0]["q"]
        got = _exact_quantile_values(li, "l_extendedprice", probs)
        assert got == list(expected)

    def test_refinement_path_exercised(self, spark):
        """Force row counts past the collect threshold so the histogram
        refinement loop (not just the small-interval collect) runs."""
        import math

        from fbg_kafka_stream_file_transfer_spark.operators import profile

        n = (1 << 17) + 5000  # just past _THRESH
        df = spark.range(n).select(
            (F.col("id").cast("double") * 0.7 - 31.0).alias("v")
        )
        probs = [0.05, 0.5, 0.95]
        arr = ", ".join(repr(p) for p in probs)
        expected = df.agg(
            F.expr(f"percentile(v, array({arr}))").alias("q")
        ).collect()[0]["q"]
        got = profile._exact_quantile_values(df, "v", probs)
        assert got == list(expected)

    def test_input_changing_between_passes(
        self, spark, tmp_path, monkeypatch
    ):
        """An upstream that returns different rows once the stats pass
        is done: every pass must read the one snapshot taken before
        it, so the answer is that snapshot's exact quantiles."""
        from fbg_kafka_stream_file_transfer_spark.operators import profile

        shift = tmp_path / "shift"
        shift.write_text("0")
        shift_path = str(shift)

        @F.udf("double")
        def shifted(x):
            with open(shift_path) as fh:
                return x + float(fh.read())

        df = spark.range(3000).select(
            shifted(F.col("id").cast("double")).alias("v")
        )
        select = profile._select_order_stats

        def after_stats_pass(*args, **kwargs):
            shift.write_text("1000000")  # the upstream changes here
            return select(*args, **kwargs)

        monkeypatch.setattr(
            profile, "_select_order_stats", after_stats_pass
        )
        got = profile._exact_quantile_values(df, "v", [0.1, 0.5, 0.9])
        expected = (
            spark.range(3000)
            .select(F.col("id").cast("double").alias("v"))
            .agg(F.expr("percentile(v, array(0.1, 0.5, 0.9))"))
            .collect()[0][0]
        )
        assert got == list(expected)

    def test_disagreeing_pass_counts_raise(self, spark):
        """Bucket counts that do not add up to the interval's row count
        (the input changed between passes) fail loudly, on both the
        value-counts collect and a refinement level."""
        from fbg_kafka_stream_file_transfer_spark.operators import profile

        s = spark.range(10).select(F.col("id").cast("double").alias("_v"))
        for claimed in (11, 1 << 18):
            with pytest.raises(ValueError, match="changed between passes"):
                profile._select_order_stats(s, [5], claimed, 0.0, 9.0)

    def test_streaming_input_refused(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            clip_outliers,
            equidepth_histogram,
            psi_drift,
        )

        stream = (
            spark.readStream.format("rate")
            .load()
            .select(F.col("value").cast("double").alias("v"))
        )
        batch = spark.range(5).select(F.col("id").cast("double").alias("v"))
        calls = [
            lambda: equidepth_histogram(stream, "v"),
            lambda: clip_outliers(stream, "v"),
            lambda: psi_drift(stream, batch, "v"),
            lambda: psi_drift(batch, stream, "v"),
        ]
        for call in calls:
            with pytest.raises(ValueError, match="streaming DataFrame"):
                call()


class TestQueryAnsiIndependence:
    """The registry queries flagged by the r17 ANSI sweep must return
    identical results under an ANSI-on session (driver conf)."""

    def test_dml_cast_guard_query_ansi_on(self, spark):
        from fbg_kafka_stream_file_transfer_spark.queries.relational_q import (
            QUERIES,
        )

        q = QUERIES["dml_cast_guard"]
        with ansi_on(spark):
            rows_on = sorted(
                map(tuple, q.spark(spark, "/root/testdata/sf0.001").collect())
            )
        rows_off = sorted(
            map(tuple, q.spark(spark, "/root/testdata/sf0.001").collect())
        )
        assert rows_on == rows_off
        assert rows_on, "query returned no rows"
