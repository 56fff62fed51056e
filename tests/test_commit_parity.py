"""Locked vs optimistic data-commit parity: a manifest table's data
commits go through one stage/publish path, so the locked and the
optimistic form of the same compaction or DML must leave the same rows
and publish the same manifest (entries, stats, file maps and op) on
two byte-identical copies of a table. tests/test_merge_parity.py covers
merge."""

from __future__ import annotations

import re
import shutil

import pytest

from fbg_kafka_stream_file_transfer_spark.operators.table import ManifestTable

SCHEMA = "id long, pt string, v double"
# Spark names each written file part-<task>-<job uuid>-c<n>; only the
# job uuid differs between two otherwise identical writes
_JOB_UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


@pytest.fixture()
def base_table(spark, tmp_path):
    """Two partitions of three files each; every file holds one id range
    (range split), so per-file bounds can prove a point DML touches one
    file and the rest are carried."""
    path = str(tmp_path / "base")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i % 7)) for i in range(60)], SCHEMA
    ).repartitionByRange(3, "id")
    ManifestTable(spark, path, bloom_cols=["id"]).create(df, ["pt"])
    return path


def _norm(name: str) -> str:
    return _JOB_UUID.sub("", name)


def _entries(mt: ManifestTable) -> list[dict]:
    out = []
    for e in mt.manifest()["entries"]:
        out.append(
            {
                "key": e["key"],
                "dir": e["dir"],
                "stats": e.get("stats"),
                "files": {
                    _norm(n): st for n, st in (e.get("files") or {}).items()
                },
            }
        )
    return out


def _state(spark, path):
    mt = ManifestTable(spark, path)
    op = dict(mt.history()[-1]["op"])
    optimistic = op.pop("optimistic", False)
    rows = sorted(tuple(r) for r in mt.read().select("id", "pt", "v").collect())
    return mt.current_version(), rows, _entries(mt), op, optimistic


OPS = {
    "compact": lambda mt, o: mt.compact(optimistic=o),
    "compact_cluster_by": lambda mt, o: mt.compact(
        cluster_by=["v"], optimistic=o
    ),
    "delete_where": lambda mt, o: mt.delete_where(
        [("id", "<", 10)], optimistic=o
    ),
    "update_where": lambda mt, o: mt.update_where(
        [("id", ">=", 50)], {"v": "v + 100"}, optimistic=o
    ),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_locked_and_optimistic_commits_publish_the_same(
    spark, tmp_path, base_table, op
):
    got = {}
    for optimistic in (False, True):
        path = str(tmp_path / f"t-{optimistic}")
        shutil.copytree(base_table, path)
        ret = OPS[op](ManifestTable(spark, path), optimistic)
        got[optimistic] = (ret, _state(spark, path))
    (ret_l, locked), (ret_o, opt) = got[False], got[True]
    assert ret_l == ret_o
    assert locked[0] == opt[0] == 2
    assert locked[1] == opt[1]
    assert locked[2] == opt[2]
    assert locked[3] == opt[3] and locked[3]["name"] == op.split("_")[0]
    assert (locked[4], opt[4]) == (False, True)
    if op in ("delete_where", "update_where"):
        # the point DML rewrote one file per partition and carried the
        # other two on both paths
        assert ret_l["entries_file_scoped"] == 2
        assert ret_l["files_carried"] == 4
