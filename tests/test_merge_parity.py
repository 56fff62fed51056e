"""Cross-layout merge parity: one delta planner serves the plain
Hive-layout table and the manifest table (locked and optimistic
commits), so the same delta must leave the same rows in every layout
and be refused the same way."""

from __future__ import annotations

import re

import pytest

from fbg_kafka_stream_file_transfer_spark.operators.scale import (
    _merge_into_manifest,
    merge_into_partitioned,
)
from fbg_kafka_stream_file_transfer_spark.operators.table import ManifestTable

LAYOUTS = ("plain", "manifest", "manifest-optimistic")
COLS = ("id", "pt", "v", "ts")
SCHEMA = "id int, pt string, v string, ts int"


def _create(spark, root, layout) -> str:
    path = str(root / layout)
    # pt is a function of id, as the partition-merge contract requires
    base = spark.createDataFrame(
        [(i, "abc"[i % 3], f"v{i}", 10) for i in range(12)], SCHEMA
    )
    if layout == "plain":
        base.write.partitionBy("pt").parquet(path)
    else:
        ManifestTable(spark, path).create(base, ["pt"])
    return path


def _contents(spark, path, layout) -> list[tuple]:
    df = (
        spark.read.parquet(path)
        if layout == "plain"
        else ManifestTable(spark, path).read()
    )
    return sorted(tuple(r[c] for c in COLS) for r in df.collect())


def _merge(spark, path, layout, delta, **kw) -> int:
    return merge_into_partitioned(
        spark, path, delta, ["id"], ["pt"],
        optimistic=layout == "manifest-optimistic", **kw,
    )


MODES = {
    "blind_op_col": (
        [(1, "b", "new1", 11, "U"), (2, "c", None, 11, "D"),
         (100, "b", "ins", 11, "U")],
        SCHEMA + ", op string",
        {"op_col": "op"},
    ),
    "ordered_ts_col": (
        [(1, "b", "x", 5, "U"), (1, "b", "y", 12, "U"),
         (4, "b", None, 20, "D"), (5, "c", "stale", 3, "U"),
         (101, "a", "ins", 1, "U")],
        SCHEMA + ", op string",
        {"op_col": "op", "ts_col": "ts"},
    ),
    "conditional_clauses": (
        [(1, "b", "upd", 11), (3, "a", "older", 9), (102, "c", "ins", 1)],
        SCHEMA,
        {
            "when_matched_update": {"v": "s.v", "ts": "s.ts"},
            "when_matched_condition": "s.ts > t.ts",
            "when_not_matched_insert": True,
        },
    ),
}


@pytest.mark.parametrize("mode", sorted(MODES))
def test_layouts_end_with_equal_contents(spark, tmp_path, mode):
    rows, schema, kw = MODES[mode]
    out = {}
    for layout in LAYOUTS:
        path = _create(spark, tmp_path, layout)
        before = _contents(spark, path, layout)
        n = _merge(spark, path, layout, spark.createDataFrame(rows, schema), **kw)
        out[layout] = (n, _contents(spark, path, layout))
    assert out["plain"][1] != before
    assert out["manifest"] == out["plain"]
    assert out["manifest-optimistic"] == out["plain"]


REFUSALS = {
    "dup_key": ([(1, "b", "x", 11), (1, "b", "y", 12)], SCHEMA, "at most one"),
    "wrapping_cast": (
        [(1, "b", "x", 2**40 + 7)],
        "id int, pt string, v string, ts bigint",
        "wraps/truncates",
    ),
    "stray_column": (
        [(1, "b", "x", 11, "eu")],
        SCHEMA + ", region string",
        "not in the stored schema",
    ),
    "empty_string_partition": ([(1, "", "x", 11)], SCHEMA, "empty-string"),
}


@pytest.mark.parametrize("case", sorted(REFUSALS))
def test_layouts_refuse_alike_before_any_write(spark, tmp_path, case):
    rows, schema, match = REFUSALS[case]
    messages = set()
    for layout in LAYOUTS:
        path = _create(spark, tmp_path, layout)
        before = _contents(spark, path, layout)
        with pytest.raises(ValueError, match=match) as err:
            _merge(spark, path, layout, spark.createDataFrame(rows, schema))
        # the wording is shared; only the table named in it differs
        messages.add(
            re.sub(r"merge into [^\s:]+( \(hive layout\))?", "merge into <t>",
                   str(err.value))
        )
        assert _contents(spark, path, layout) == before
    assert len(messages) == 1, messages


def test_empty_delta_into_absent_table_returns_zero(spark, tmp_path):
    """An empty delta is a no-op even when the table is absent; a
    non-empty one is refused as 'does not exist'. A path without a
    manifest routes to the plain merge, so the manifest merge is
    called directly, with both of its commits."""
    empty = spark.createDataFrame([], SCHEMA)
    one = spark.createDataFrame([(1, "b", "x", 11)], SCHEMA)
    plain = str(tmp_path / "plain")
    assert merge_into_partitioned(spark, plain, empty, ["id"], ["pt"]) == 0
    with pytest.raises(ValueError, match="does not exist"):
        merge_into_partitioned(spark, plain, one, ["id"], ["pt"])
    for optimistic in (False, True):
        path = str(tmp_path / f"manifest-{optimistic}")

        def merge(delta):
            return _merge_into_manifest(
                spark, path, delta, ["id"], ["pt"], None, "D", None, (),
                2, None, True, False, False, optimistic, None, None,
            )

        assert merge(empty) == 0
        with pytest.raises(ValueError, match="does not exist"):
            merge(one)
