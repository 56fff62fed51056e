"""Manifest tables answer aggregates through one planner and publish
metadata-only commits through one path.

- Parity: ``count``, ``metadata_agg`` and ``partition_profile`` each
  equal the same aggregate over ``read()``, and their ``detail``
  metadata/scan split follows the demotion rules documented on
  ``metadata_agg``.
- Property carry: every metadata-only commit carries forward each
  persisted table property it does not edit.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators.table import (
    ManifestTable,
    partition_transform_column,
)

_SCAN = {
    "count": F.count,
    "null_count": lambda c: F.count(F.when(c.isNull(), 1)),
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
}


def _exprs(aggs):
    return [
        (F.count(F.lit(1)) if c == "*" else _SCAN[fn](F.col(c))).alias(
            f"{fn}({c})"
        )
        for fn, c in aggs
    ]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """pt ∈ 0..3; ``v`` is NULL throughout pt=3; ``s`` is a long
    (truncated-bound) string in pt=0 only; ``ts`` a timestamp and
    ``f`` a double."""
    p = str(tmp_path_factory.mktemp("plan") / "t")
    df = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("pt"),
        F.when(F.col("id") % 4 == 3, None)
        .otherwise(F.col("id") * 3)
        .alias("v"),
        F.when(
            F.col("id") % 4 == 0,
            F.concat(
                F.lpad(F.col("id").cast("string"), 5, "0"),
                F.lit("x" * 80),
            ),
        )
        .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
        .alias("s"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias(
            "ts"
        ),
        (F.col("id").cast("double") * 1.5).alias("f"),
    )
    stage = f"{p}__seed"
    df.write.mode("overwrite").parquet(stage)
    mt = ManifestTable(spark, p)
    mt.create(spark.read.parquet(stage), ["pt"])
    return mt


_V_AGGS = [
    ("count", "*"), ("count", "v"), ("null_count", "v"),
    ("min", "v"), ("max", "v"), ("sum", "v"),
]

# (aggs, where, metadata_agg split, count split) — a split is
# (entries_metadata, entries_scanned) over the 4 live entries
CASES = {
    "partition_where": (
        _V_AGGS, [("pt", "in", [1, 2])], (2, 0), (2, 0),
    ),
    "data_where": (_V_AGGS, [("v", ">", 600)], (0, 4), (0, 4)),
    "column_where": (
        _V_AGGS, lambda: (F.col("pt") == 1) | (F.col("v") > 900),
        (0, 4), (0, 4),
    ),
    "truncated_string_bound": (
        [("min", "s"), ("max", "s"), ("count", "s")], None,
        (3, 1), (4, 0),
    ),
    "timestamp_min_max": (
        [("min", "ts"), ("max", "ts"), ("count", "ts")], None,
        (0, 4), (4, 0),
    ),
    "float_sum": ([("sum", "f"), ("count", "*")], None, (0, 4), (4, 0)),
    "all_null_partition": (
        _V_AGGS, [("pt", ">=", 2)], (2, 0), (2, 0),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize(
    "method", ["count", "metadata_agg", "partition_profile"]
)
def test_metadata_answer_equals_scan(table, case, method):
    aggs, where, agg_split, count_split = CASES[case]
    if callable(where):
        where = where()
    scan = table.read(where=where)
    if method == "count":
        d = table.count(where=where, detail=True)
        assert d["rows"] == scan.count()
        split = count_split
    elif method == "metadata_agg":
        got = table.metadata_agg(aggs, where=where, detail=True)
        d = got.pop("_detail")
        assert got == scan.agg(*_exprs(aggs)).collect()[0].asDict()
        split = agg_split
    else:
        rows, d = table.partition_profile(aggs, where=where, detail=True)
        exp = (
            scan.groupBy("pt").agg(*_exprs(aggs)).orderBy("pt").collect()
        )
        assert rows == [r.asDict() for r in exp]
        split = agg_split
    assert (d["entries_metadata"], d["entries_scanned"]) == split
    assert d["entries_total"] == 4


_PROPS = (
    "shard_target", "stats_cols", "bloom_cols", "dropped_cols",
    "check_constraints", "derived_partitions",
)


def _raw(mt, version):
    with open(f"{mt.path}/_manifests/v{version:08d}.json") as fh:
        return json.load(fh)


def test_metadata_only_commits_carry_every_property(spark, tmp_path):
    df = spark.range(0, 40).select(
        F.col("id"),
        F.col("id").cast("string").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") * 3).alias("w"),
        F.col("id").cast("int").alias("narrow"),
        F.lit("x").alias("gone"),
        partition_transform_column("bucket", "id", 4).alias("b"),
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "t"),
        shard_target=2,  # 4 live partitions: a sharded manifest list
        stats_cols=["v", "w", "narrow"],
        bloom_cols=["k"],
        derived_partitions={
            "b": {"transform": "bucket", "source": "id", "n": 4}
        },
    )
    mt.create(df, ["b"])
    mt.drop_columns(["gone"])
    mt.add_check_constraint("v_pos", "v >= 0")
    start = _raw(mt, mt.current_version())
    assert all(start.get(p) for p in _PROPS), start

    ops = [
        ("restore", lambda: mt.restore(mt.current_version()), {}),
        ("add_columns", lambda: mt.add_columns({"extra": "int"}), {}),
        (
            "alter_column_type",
            lambda: mt.alter_column_type("narrow", "bigint"),
            {},
        ),
        (
            "add_check_constraint",
            lambda: mt.add_check_constraint("w_pos", "w >= 0"),
            {"check_constraints": {"v_pos": "v >= 0", "w_pos": "w >= 0"}},
        ),
        (
            "drop_check_constraint",
            lambda: mt.drop_check_constraint("w_pos"),
            {"check_constraints": {"v_pos": "v >= 0"}},
        ),
        (
            "drop_columns",
            lambda: mt.drop_columns(["w"]),
            {"dropped_cols": ["gone", "w"], "stats_cols": ["v", "narrow"]},
        ),
    ]
    for name, op, edited in ops:
        before = _raw(mt, mt.current_version())
        after = _raw(mt, op())
        assert after["op"]["name"] == name
        assert "entry_shards" in after
        for prop in _PROPS:
            want = edited.get(prop, before[prop])
            assert after.get(prop) == want, (name, prop)
