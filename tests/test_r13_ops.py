"""Round-13 feature and regression tests.

Pins the three r12 external-review advice items (maxRecordsPerFile
save/restore in the bench queries, pcol-clause pre-split in
_entry_scan_selection, omitted-None stats bounds — the last asserted
in test_r12_ops/test_r11_ops shape pins), then the r13 features:
selective compaction (partitions= / min_files= / optimistic=),
small_file_report, keep-current retention defaults on maintenance
ops, the plain-compact coalescing repartition, and conditional MERGE
clauses on merge_into_partitioned.
"""
import glob
import os

import pytest
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators.scale import (
    merge_into_partitioned,
)
from fbg_kafka_stream_file_transfer_spark.operators.table import (
    ManifestTable,
    _entry_scan_selection,
    _normalize_where,
    _partition_key,
)


def _mk_table(spark, path, retain=5):
    """pt ∈ {a,b,c}, two delta merges into pt=a only — pt=a accretes
    generations/files while b/c stay single-generation. Merges pin
    ``file_granular=False``: this module's r13 shape tests predate
    carried file references and assert basename-only files maps /
    generation release on GC; the r14 file-granular default is
    pinned in test_r14_ops."""
    base = spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(30)],
        "id int, pt string, v double",
    )
    mt = ManifestTable(spark, path)
    mt.create(base, ["pt"])
    for k in range(2):
        d = spark.createDataFrame(
            [(100 + k, "a", 1.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, d, ["id"], ["pt"], retain_versions=retain,
            file_granular=False,
        )
    return mt


def _state(mt):
    return sorted((r.id, r.pt, r.v) for r in mt.read().collect())


def _file_mtimes(mt, entry):
    d = f"{mt.path}/{entry['dir']}"
    return sorted(
        (os.path.basename(p), os.path.getmtime(p))
        for p in glob.glob(f"{d}/*.parquet")
    )


class TestSelectiveCompaction:
    """compact(partitions=[...]) rewrites ONLY the named partitions;
    untouched entries are re-referenced verbatim and their data files
    are never read or written (mtime-pinned, like r8's merge test)."""

    def test_partitions_subset_rewrites_only_selected(
        self, spark, tmp_path
    ):
        mt = _mk_table(spark, str(tmp_path / "t"))
        ver0 = mt.current_version()
        before = _state(mt)
        ent0 = {e["key"]: e for e in mt.manifest()["entries"]}
        kb, kc = _partition_key(("b",)), _partition_key(("c",))
        mtimes0 = {k: _file_mtimes(mt, ent0[k]) for k in (kb, kc)}
        assert mt.compact(partitions=[("a",)]) == 1
        ent1 = {e["key"]: e for e in mt.manifest()["entries"]}
        # untouched entries carry forward BYTE-IDENTICAL: same dict
        # (dir, stats, files map), same on-disk files untouched
        assert ent1[kb] == ent0[kb] and ent1[kc] == ent0[kc]
        for k in (kb, kc):
            assert _file_mtimes(mt, ent1[k]) == mtimes0[k]
        # the selected partition moved to the fresh generation
        ka = _partition_key(("a",))
        assert ent1[ka]["dir"] != ent0[ka]["dir"]
        # maintenance is data-invisible
        assert mt.changes(ver0, ver0 + 1).count() == 0
        assert _state(mt) == before

    def test_unknown_partition_raises(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        with pytest.raises(ValueError, match="not a live partition"):
            mt.compact(partitions=[("zzz",)])

    def test_min_files_selects_and_noop_publishes_nothing(
        self, spark, tmp_path
    ):
        mt = _mk_table(spark, str(tmp_path / "t"))
        ver0 = mt.current_version()
        rep = {tuple(r["values"]): r["files"] for r in mt.small_file_report()}
        assert all(n >= 2 for n in rep.values())
        # threshold above every partition: nothing selected, and NO
        # version is published for the no-op sweep
        assert mt.compact(min_files=max(rep.values()) + 1) == 0
        assert mt.current_version() == ver0
        # threshold that catches only the delta-accreting partition
        a_files = rep[("a",)]
        if a_files > rep[("b",)] and a_files > rep[("c",)]:
            only_a = mt.compact(min_files=max(rep[("b",)], rep[("c",)]) + 1)
            assert only_a == 1
        else:
            # shuffle-layout dependent: fall back to selecting all
            assert mt.compact(min_files=2) == 3

    def test_plain_compact_coalesces_files(self, spark, tmp_path):
        # the r13 repartition fix: without it the bin-packed scan
        # tasks each write a file into EVERY dir they touch and
        # "compaction" can multiply small files
        mt = _mk_table(spark, str(tmp_path / "t"))
        before = _state(mt)
        rep0 = {tuple(r["values"]): r["files"] for r in mt.small_file_report()}
        assert mt.compact(min_files=2) == 3
        rep1 = {tuple(r["values"]): r["files"] for r in mt.small_file_report()}
        assert all(n == 1 for n in rep1.values()), (rep0, rep1)
        assert _state(mt) == before

    def test_small_file_report_matches_disk(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        for r in mt.small_file_report():
            key = _partition_key(r["values"])
            ent = next(
                e for e in mt.manifest()["entries"] if e["key"] == key
            )
            on_disk = len(
                glob.glob(f"{mt.path}/{ent['dir']}/*.parquet")
            )
            assert r["files"] == on_disk, (r, on_disk)
            assert r["rows"] is not None

    def test_report_listing_fallback_without_stats(self, spark, tmp_path):
        # stats-disabled table: no nfiles in the manifest, the report
        # falls back to one directory listing per unknown entry
        base = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(20)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"), stats_cols=None)
        mt.create(base, ["pt"])
        for e in mt.manifest()["entries"]:
            assert "stats" not in e
        for r in mt.small_file_report():
            key = _partition_key(r["values"])
            ent = next(
                e for e in mt.manifest()["entries"] if e["key"] == key
            )
            on_disk = len(glob.glob(f"{mt.path}/{ent['dir']}/*.parquet"))
            assert r["files"] == on_disk
            assert r["rows"] is None

    def test_selective_cluster_by_composes(self, spark, tmp_path):
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
        try:
            mt = _mk_table(spark, str(tmp_path / "t"))
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        before = _state(mt)
        n = mt.compact(
            partitions=[("a",)],
            cluster_by=["v"],
            target_records_per_file=3,
        )
        assert n == 1
        assert _state(mt) == before
        # the compacted partition's files are v-clustered: bounds
        # disjoint enough that a top-range predicate skips files
        ka = _partition_key(("a",))
        ent = next(
            e for e in mt.manifest()["entries"] if e["key"] == ka
        )
        fmap = ent.get("files")
        assert fmap and len(fmap) >= 2

    def test_optimistic_compact(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        before = _state(mt)
        ver0 = mt.current_version()
        assert mt.compact(partitions=[("a",)], optimistic=True) == 1
        assert mt.current_version() == ver0 + 1
        assert mt.changes(ver0, ver0 + 1).count() == 0
        assert _state(mt) == before
        # no staging husk left behind
        assert not glob.glob(f"{mt.path}/_data/.stage-*")


class TestKeepCurrentRetention:
    """r13: a bare maintenance call must not truncate history — the
    r10 defaults-that-truncate class, now closed for compact() (and
    commit_staged(retain_versions=None) resolves keep-current at
    publish time)."""

    def test_bare_compact_keeps_all_versions(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"), retain=5)
        assert mt.versions() == [1, 2, 3]
        mt.compact()
        assert mt.versions() == [1, 2, 3, 4]
        # time travel to every prior version still works
        assert mt.read(version=1).count() == 30

    def test_explicit_retain_still_truncates(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"), retain=5)
        mt.compact(retain_versions=2)
        assert mt.versions() == [3, 4]

    def test_commit_staged_none_keeps_current(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"), retain=5)
        d = spark.createDataFrame(
            [(500, "b", 2.0)], "id int, pt string, v double"
        )
        cur = mt.read(partitions=[("b",)]).unionByName(d)
        staged = mt.stage_commit(cur, [("b",)])
        v = mt.commit_staged(staged, retain_versions=None)
        assert mt.versions() == list(range(1, v + 1))


class TestPcolClausePreSplit:
    """r12 external review (low): partition-column clauses are decided
    once at entry level — the per-file loop must not re-evaluate them
    (guaranteed dict-miss) and a pcol-only predicate must not restrict
    the file list at all."""

    def _entry(self):
        return {
            "key": "pt=3",
            "values": [["int", 3]],
            "dir": "_data/g00000001/_p_pt=3",
            "stats": {
                "rows": 10,
                "cols": {"v": {"mn": ["int", 0], "mx": ["int", 9], "nulls": 0}},
            },
            "files": {
                "f1": {"rows": 5, "cols": {"v": {"mn": ["int", 0], "mx": ["int", 4], "nulls": 0}}},
                "f2": {"rows": 5, "cols": {"v": {"mn": ["int", 5], "mx": ["int", 9], "nulls": 0}}},
            },
        }

    def test_pcol_only_clause_scans_whole_dir(self):
        norm = _normalize_where([("pt", "=", 3)])
        keep, files = _entry_scan_selection(
            self._entry(), norm, pcols=["pt"]
        )
        assert keep is True and files is None

    def test_mixed_clause_still_selects_files(self):
        norm = _normalize_where([("pt", "=", 3), ("v", ">=", 7)])
        keep, files = _entry_scan_selection(
            self._entry(), norm, pcols=["pt"]
        )
        assert keep is True and files == ["f2"]

    def test_pcol_mismatch_still_prunes_entry(self):
        norm = _normalize_where([("pt", "=", 4)])
        keep, files = _entry_scan_selection(
            self._entry(), norm, pcols=["pt"]
        )
        assert keep is False


class TestConditionalMerge:
    """r13: the Delta-shaped clause surface on merge_into_partitioned
    — partial-column updates, per-clause conditions, scoped
    not-matched-by-source deletes — same partition-pruned plan."""

    BASE = [
        (1, "a", 10.0, "keep"),
        (2, "a", 20.0, "x"),
        (3, "b", 30.0, "y"),
        (4, "c", 40.0, "z"),
    ]

    def _mk(self, spark, tmp_path, manifest=True):
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            self.BASE, "id int, pt string, v double, note string"
        )
        if manifest:
            mt = ManifestTable(spark, path)
            mt.create(base, ["pt"])
            return path, mt
        base.withColumn("_p", F.col("pt")).write.partitionBy(
            "pt"
        ).parquet(path)
        return path, None

    def _read(self, spark, path, mt):
        df = mt.read() if mt is not None else spark.read.parquet(path)
        return sorted(
            (r.id, r.pt, r.v, r.note)
            for r in df.select("id", "pt", "v", "note").collect()
        )

    @pytest.mark.parametrize("manifest", [True, False])
    def test_partial_update_condition_insert_and_nmbs(
        self, spark, tmp_path, manifest
    ):
        path, mt = self._mk(spark, tmp_path, manifest)
        delta = spark.createDataFrame(
            [(1, "a", 5.0), (2, "a", -1.0), (9, "b", 99.0)],
            "id int, pt string, amount double",
        )
        n = merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "t.v + s.amount"},
            when_matched_condition="s.amount > 0",
            when_not_matched_by_source_delete="t.note = 'y'",
        )
        assert n == 2  # pt=a, pt=b
        assert self._read(spark, path, mt) == [
            (1, "a", 15.0, "keep"),   # updated; note survives (partial)
            (2, "a", 20.0, "x"),      # condition false → unchanged
            # (3, 'b', ...) deleted: not matched by source, note='y'
            (4, "c", 40.0, "z"),      # untouched partition: out of scope
            (9, "b", None, None),     # inserted; missing cols NULL-fill
        ]

    def test_update_only_merge_drops_unmatched_source(
        self, spark, tmp_path
    ):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 1.0), (9, "a", 9.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
        )
        got = self._read(spark, path, mt)
        assert (1, "a", 1.0, "keep") in got
        assert not any(r[0] == 9 for r in got)

    def test_insert_condition_filters_inserts(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(8, "a", 1.0, "in"), (9, "a", 2.0, "out")],
            "id int, pt string, v double, note string",
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_not_matched_insert="s.note = 'in'",
        )
        got = self._read(spark, path, mt)
        assert (8, "a", 1.0, "in") in got
        assert not any(r[0] == 9 for r in got)

    def test_matched_delete_beats_update(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 0.0), (2, "a", 7.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "s.v"},
            when_matched_delete="s.v <= 0",
        )
        got = self._read(spark, path, mt)
        assert not any(r[0] == 1 for r in got)  # deleted
        assert (2, "a", 7.0, "x") in got        # updated

    def test_null_condition_is_false(self, spark, tmp_path):
        # SQL WHERE semantics: NULL gates nothing through — the
        # matched row survives UNCHANGED, the nmbs delete does not
        # fire, the conditional insert drops the row
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", None), (9, "a", None)],
            "id int, pt string, flag double",
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "t.v * 2"},
            when_matched_condition="s.flag > 0",
            when_not_matched_insert="s.flag > 0",
            when_not_matched_by_source_delete="t.v IS NULL",
        )
        got = self._read(spark, path, mt)
        assert (1, "a", 10.0, "keep") in got  # unchanged
        assert not any(r[0] == 9 for r in got)  # insert gated off
        assert (2, "a", 20.0, "x") in got  # nmbs condition false

    def test_nmbs_true_deletes_all_unmatched_in_touched(
        self, spark, tmp_path
    ):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 10.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_delete=True,
        )
        assert self._read(spark, path, mt) == [
            (1, "a", 10.0, "keep"),
            (3, "b", 30.0, "y"),  # untouched partitions survive
            (4, "c", 40.0, "z"),
        ]

    def test_extra_delta_column_usable_but_not_stored(
        self, spark, tmp_path
    ):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 2.5)], "id int, pt string, bump double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "t.v + s.bump"},
        )
        df = mt.read()
        assert "bump" not in df.columns
        assert self._read(spark, path, mt)[0] == (1, "a", 12.5, "keep")

    def test_update_expr_cast_to_stored_type(self, spark, tmp_path):
        # Delta-style implicit cast: an integer-typed expression lands
        # in the double column as double
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 3)], "id int, pt string, k int"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "s.k"},
        )
        row = next(r for r in mt.read().collect() if r.id == 1)
        assert row.v == 3.0 and isinstance(row.v, float)

    def test_column_objects_accepted(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 4.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": F.col("t.v") + F.col("s.v")},
            when_matched_condition=F.col("s.v") > F.lit(0.0),
        )
        assert self._read(spark, path, mt)[0] == (1, "a", 14.0, "keep")

    def test_clause_mode_rejects_op_and_ts(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 1.0)], "id int, pt string, v double"
        )
        with pytest.raises(ValueError, match="mutually exclusive"):
            merge_into_partitioned(
                spark, path, delta, ["id"], ["pt"], op_col="op",
                when_matched_update={"v": "s.v"},
            )

    def test_update_of_key_or_partition_col_rejected(
        self, spark, tmp_path
    ):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 1.0)], "id int, pt string, v double"
        )
        with pytest.raises(ValueError, match="key or partition"):
            merge_into_partitioned(
                spark, path, delta, ["id"], ["pt"],
                when_matched_update={"pt": "'b'"},
            )

    def test_unknown_update_column_rejected(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 1.0)], "id int, pt string, v double"
        )
        with pytest.raises(ValueError, match="not in the table"):
            merge_into_partitioned(
                spark, path, delta, ["id"], ["pt"],
                when_matched_update={"nope": "s.v"},
            )

    def test_optimistic_conditional_merge(self, spark, tmp_path):
        path, mt = self._mk(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1, "a", 2.0), (9, "a", 9.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "t.v + s.v"},
            optimistic=True,
        )
        got = self._read(spark, path, mt)
        assert (1, "a", 12.0, "keep") in got
        assert (9, "a", 9.0, None) in got


class TestDropColumns:
    """r13: metadata-only column drop with tombstoned names — the
    sound half of schema evolution without parquet field IDs (rename
    is the documented NO, SCALE.md r13)."""

    def _mk(self, spark, tmp_path, **kw):
        base = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i), f"n{i}") for i in range(20)],
            "id int, pt string, v double, note string",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"), **kw)
        mt.create(base, ["pt"])
        d = spark.createDataFrame(
            [(100, "a", 1.0, "x")], "id int, pt string, v double, note string"
        )
        merge_into_partitioned(
            spark, mt.path, d, ["id"], ["pt"], retain_versions=9
        )
        return mt

    def test_drop_is_metadata_only_and_diffs_to_zero(
        self, spark, tmp_path
    ):
        import json

        mt = self._mk(spark, tmp_path)
        ver0 = mt.current_version()
        ent0 = {e["key"]: e for e in mt.manifest()["entries"]}
        mtimes0 = {k: _file_mtimes(mt, e) for k, e in ent0.items()}
        v = mt.drop_columns(["note"])
        # entries re-referenced with ONLY the dropped column's dead
        # stats bounds shed (external review r13); no data file
        # touched

        def _shed(e):
            e = json.loads(json.dumps(e))
            if "stats" in e:
                e["stats"]["cols"].pop("note", None)
            for f in e.get("files", {}).values():
                f["cols"].pop("note", None)
            return e

        ent1 = {e["key"]: e for e in mt.manifest()["entries"]}
        assert ent1 == {k: _shed(e) for k, e in ent0.items()}
        for e in ent1.values():
            assert "note" not in e.get("stats", {}).get("cols", {})
        for k, e in ent1.items():
            assert _file_mtimes(mt, e) == mtimes0[k]
        assert mt.read().columns == ["id", "pt", "v"]
        assert mt.changes(ver0, v).count() == 0
        # time travel to a retained pre-drop version still sees it
        assert "note" in mt.read(version=ver0).columns
        # a diff ACROSS the drop is expressed in the to-schema
        d = mt.changes(1, v)
        assert "note" not in d.columns
        assert d.count() == 1  # the merge's insert, projected

    def test_tombstoned_name_refuses_readd(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        mt.drop_columns(["note"])
        bad = mt.read().withColumn("note", F.lit("zz"))
        with pytest.raises(ValueError, match="were dropped"):
            mt.overwrite_partitions(
                bad.filter(F.col("pt") == "a"), [("a",)]
            )
        # the tombstone survives further commits
        d = spark.createDataFrame(
            [(101, "a", 2.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(spark, mt.path, d, ["id"], ["pt"])
        assert mt.manifest().get("dropped_cols") == ["note"]

    def test_guards(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="partition column"):
            mt.drop_columns(["pt"])
        with pytest.raises(ValueError, match="not in table schema"):
            mt.drop_columns(["nope"])
        with pytest.raises(ValueError, match="every non-partition"):
            mt.drop_columns(["id", "v", "note"])
        with pytest.raises(ValueError, match="at least one"):
            mt.drop_columns([])

    def test_stats_config_drops_the_column(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path, stats_cols=["v", "note"])
        mt.drop_columns(["note"])
        assert mt.manifest().get("stats_cols") == ["v"]
        # the next data commit records stats for v only
        d = spark.createDataFrame(
            [(102, "b", 3.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(spark, mt.path, d, ["id"], ["pt"])
        kb = _partition_key(("b",))
        ent = next(
            e for e in mt.manifest()["entries"] if e["key"] == kb
        )
        assert set(ent["stats"]["cols"]) == {"v"}

    def test_keep_current_retention_default(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        assert mt.versions() == [1, 2]
        mt.drop_columns(["note"])
        assert mt.versions() == [1, 2, 3]

    def test_restore_across_drop_refuses(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        ver0 = mt.current_version()
        mt.drop_columns(["note"])
        with pytest.raises(ValueError, match="dropped or retyped"):
            mt.restore(ver0)

    def test_where_read_after_drop(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        mt.drop_columns(["note"])
        got = sorted(
            r.id for r in mt.read(where=[("v", ">=", 10.0)]).collect()
        )
        assert got == list(range(10, 20))


class TestRepartitionTable:
    """r13: partition evolution as an explicit lease-held full
    rewrite — zero-diff feed continuity, old versions readable, stale
    writers fail loudly."""

    def _mk(self, spark, tmp_path):
        base = spark.createDataFrame(
            [(i, "ab"[i % 2], i % 3, float(i)) for i in range(30)],
            "id int, pt string, hr int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(base, ["pt"])
        return mt

    def test_rewrite_preserves_data_and_feed(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        before = sorted(
            (r.id, r.pt, r.hr, r.v) for r in mt.read().collect()
        )
        ver0 = mt.current_version()
        v = mt.repartition_table(["hr"], retain_versions=5)
        assert mt.partition_cols() == ["hr"]
        assert (
            sorted((r.id, r.pt, r.hr, r.v) for r in mt.read().collect())
            == before
        )
        assert mt.changes(ver0, v).count() == 0  # maintenance
        # old version reads under its OWN layout
        assert mt.read(version=ver0).count() == 30
        # the new manifest's keyspace is purely the new columns: one
        # hr value per entry, no stale pt-keyed entries survive
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _decode_value,
        )

        ents = mt.manifest()["entries"]
        assert len(ents) == 3
        for e in ents:
            vals = [_decode_value(p) for p in e["values"]]
            assert len(vals) == 1 and vals[0] in (0, 1, 2), vals
        # new-layout merge works; stale-layout merge refuses
        d = spark.createDataFrame(
            [(200, "a", 1, 2.0)], "id int, pt string, hr int, v double"
        )
        merge_into_partitioned(spark, mt.path, d, ["id"], ["hr"])
        assert mt.read().count() == 31
        with pytest.raises(ValueError, match="partitioned by"):
            merge_into_partitioned(spark, mt.path, d, ["id"], ["pt"])
        # pruning works against the new key
        assert mt.prune_stats([("hr", "=", 0)]) == (1, 3)

    def test_guards_and_retention(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="already partitioned"):
            mt.repartition_table(["pt"])
        with pytest.raises(ValueError, match="not in table"):
            mt.repartition_table(["nope"])
        with pytest.raises(ValueError, match="at least one"):
            mt.repartition_table([])
        # keep-current default
        mt.repartition_table(["hr"])
        assert mt.versions() == [1, 2]

    def test_coalesced_output(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        mt.repartition_table(["hr"])
        rep = {
            tuple(r["values"]): r["files"]
            for r in mt.small_file_report()
        }
        assert all(n == 1 for n in rep.values()), rep

    def test_staged_commit_across_repartition_fails_rebase(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            ConcurrentWriterError,
        )

        mt = self._mk(spark, tmp_path)
        rewrite = mt.read(partitions=[("a",)]).withColumn(
            "v", F.col("v") + 1
        )
        staged = mt.stage_commit(rewrite, [("a",)])
        mt.repartition_table(["hr"], retain_versions=5)
        with pytest.raises(ConcurrentWriterError):
            mt.commit_staged(staged)
        mt.abort_staged(staged)


class TestR13ReviewFindings:
    """Pins for the r13 code-review findings (one test per finding
    with runtime behavior)."""

    def test_optimistic_compact_aborts_staging_on_conflict(
        self, spark, tmp_path, monkeypatch
    ):
        import glob as _glob

        mt = _mk_table(spark, str(tmp_path / "t"))

        def _boom(self, *a, **k):
            raise RuntimeError("simulated publish conflict")

        monkeypatch.setattr(ManifestTable, "commit_staged", _boom)
        with pytest.raises(RuntimeError, match="simulated"):
            mt.compact(partitions=[("a",)], optimistic=True)
        # the loser's staging generation must not leak until a TTL
        # vacuum — abort_staged runs on ANY publish failure
        assert not _glob.glob(f"{mt.path}/_data/.stage-*")

    def test_clause_kwargs_reject_non_bool_truthy(self, spark, tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 1.0)], "id int, pt string, v double"
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(base, ["pt"])
        d = spark.createDataFrame(
            [(2, "a", 2.0)], "id int, pt string, v double"
        )
        with pytest.raises(TypeError, match="when_not_matched_insert"):
            merge_into_partitioned(
                spark, mt.path, d, ["id"], ["pt"],
                when_not_matched_insert=1,
            )
        with pytest.raises(
            TypeError, match="when_not_matched_by_source_delete"
        ):
            merge_into_partitioned(
                spark, mt.path, d, ["id"], ["pt"],
                when_not_matched_by_source_delete=0,
            )
        with pytest.raises(TypeError, match="when_matched_condition"):
            merge_into_partitioned(
                spark, mt.path, d, ["id"], ["pt"],
                when_matched_update={"v": "s.v"},
                when_matched_condition=True,
            )

    def test_changes_where_dropped_column_fails_upfront(
        self, spark, tmp_path
    ):
        base = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i), f"n{i}") for i in range(10)],
            "id int, pt string, v double, note string",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(base, ["pt"])
        merge_into_partitioned(
            spark,
            mt.path,
            spark.createDataFrame(
                [(50, "a", 1.0, "x")],
                "id int, pt string, v double, note string",
            ),
            ["id"],
            ["pt"],
            retain_versions=9,
        )
        v = mt.drop_columns(["note"])
        with pytest.raises(ValueError, match="do not exist at"):
            mt.changes(1, v, where=[("note", "=", "x")])
        # surviving-column predicates still work across the boundary
        assert mt.changes(1, v, where=[("id", ">=", 50)]).count() == 1

    def test_small_file_report_batched_fallback_counts(
        self, spark, tmp_path
    ):
        import glob as _glob

        # stats-disabled (no nfiles anywhere) forces the batched
        # listing for EVERY entry; counts must match disk exactly
        base = spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(40)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"), stats_cols=None)
        mt.create(base, ["pt"])
        for r in mt.small_file_report():
            key = _partition_key(r["values"])
            ent = next(
                e for e in mt.manifest()["entries"] if e["key"] == key
            )
            on_disk = len(
                _glob.glob(f"{mt.path}/{ent['dir']}/*.parquet")
            )
            assert r["files"] == on_disk and on_disk > 0

    @pytest.mark.parametrize("manifest", [True, False])
    def test_nmbs_emptying_whole_partition(
        self, spark, tmp_path, manifest
    ):
        # the conditional path must ride the same emptied-partition
        # machinery as blind deletes: entry dropped from the manifest
        # / dir deleted on hive, no silently surviving files
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
            "id int, pt string, v double",
        )
        if manifest:
            mt = ManifestTable(spark, path)
            mt.create(base, ["pt"])
        else:
            base.write.partitionBy("pt").parquet(path)
            mt = None
        # delta touches BOTH partitions; matches nothing in pt=a
        delta = spark.createDataFrame(
            [(9, "a", 9.0), (3, "b", 3.5)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, path, delta, ["id"], ["pt"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
            when_not_matched_by_source_delete=True,
        )
        df = mt.read() if mt else spark.read.parquet(path)
        got = sorted((r.id, r.pt, r.v) for r in df.collect())
        assert got == [(3, "b", 3.5)]
        if mt:
            assert len(mt.manifest()["entries"]) == 1


class TestCheckConstraints:
    """r13: table-level CHECK constraints — persisted property,
    O(written data) enforcement on every generation-writing commit,
    ANSI semantics (TRUE and NULL pass, only FALSE violates)."""

    def _mk(self, spark, tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", None)],
            "id int, pt string, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(base, ["pt"])
        return mt

    def test_add_validates_existing_and_null_passes(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        mt = self._mk(spark, tmp_path)
        # row 3 has NULL v: ANSI CHECK passes it
        v = mt.add_check_constraint("v_nonneg", "v >= 0")
        assert mt.check_constraints() == {"v_nonneg": "v >= 0"}
        assert mt.versions() == [1, 2]  # keep-current retention
        with pytest.raises(CheckConstraintViolation, match="existing"):
            mt.add_check_constraint("v_big", "v > 15")

    def test_locked_merge_refused_and_table_unchanged(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        ver = mt.current_version()
        state = sorted((r.id, r.v) for r in mt.read().collect())
        bad = spark.createDataFrame(
            [(9, "a", -1.0)], "id int, pt string, v double"
        )
        with pytest.raises(CheckConstraintViolation, match="v_nonneg"):
            merge_into_partitioned(
                spark, mt.path, bad, ["id"], ["pt"]
            )
        assert mt.current_version() == ver
        assert sorted((r.id, r.v) for r in mt.read().collect()) == state
        # the refused generation is an invisible husk; vacuum sweeps it
        mt.vacuum()
        good = spark.createDataFrame(
            [(9, "a", 1.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(spark, mt.path, good, ["id"], ["pt"])
        assert mt.read().count() == 4

    def test_optimistic_merge_refused_no_husk(self, spark, tmp_path):
        import glob as _glob

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        bad = spark.createDataFrame(
            [(9, "a", -1.0)], "id int, pt string, v double"
        )
        with pytest.raises(CheckConstraintViolation, match="staged"):
            merge_into_partitioned(
                spark, mt.path, bad, ["id"], ["pt"], optimistic=True
            )
        # the staging is deleted AT refusal, not left for TTL vacuum
        assert not _glob.glob(f"{mt.path}/_data/.stage-*")

    def test_conditional_merge_update_violating_refused(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        delta = spark.createDataFrame(
            [(1, "a", -100.0)], "id int, pt string, bump double"
        )
        with pytest.raises(CheckConstraintViolation):
            merge_into_partitioned(
                spark, mt.path, delta, ["id"], ["pt"],
                when_matched_update={"v": "t.v + s.bump"},
            )

    def test_drop_constraint_and_lifecycle_guards(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        with pytest.raises(ValueError, match="already exists"):
            mt.add_check_constraint("v_nonneg", "v >= 0")
        with pytest.raises(ValueError, match="no CHECK constraint"):
            mt.drop_check_constraint("nope")
        mt.drop_check_constraint("v_nonneg")
        assert mt.check_constraints() == {}
        bad = spark.createDataFrame(
            [(9, "a", -1.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(spark, mt.path, bad, ["id"], ["pt"])
        assert mt.read().count() == 4

    def test_drop_columns_refuses_referenced_column(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        with pytest.raises(ValueError, match="drop_check_constraint"):
            mt.drop_columns(["v"])
        mt.drop_check_constraint("v_nonneg")
        mt.drop_columns(["v"])
        assert "v" not in mt.read().columns

    def test_constraint_survives_restore_and_maintenance(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_nonneg", "v >= 0")
        good = spark.createDataFrame(
            [(9, "a", 1.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, mt.path, good, ["id"], ["pt"], retain_versions=9
        )
        mt.compact()  # table-sourced rewrite revalidates, passes
        mt.restore(mt.current_version() - 1)
        assert mt.check_constraints() == {"v_nonneg": "v >= 0"}


class TestTimeBasedVacuum:
    """r13: vacuum(retain_hours=) — Delta's RETAIN n HOURS spelling;
    versions older than the window expire, the current version always
    survives, timestamp-less manifests are conservatively kept."""

    def _mk(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"), retain=9)
        d = spark.createDataFrame(
            [(200, "b", 2.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, mt.path, d, ["id"], ["pt"], retain_versions=9
        )
        assert mt.versions() == [1, 2, 3, 4]
        return mt

    @staticmethod
    def _rewrite_manifest(mt, version, mutate):
        import json as _json

        p = f"{mt.path}/_manifests/v{version:08d}.json"
        man = _json.load(open(p))
        mutate(man)
        _json.dump(man, open(p, "w"))
        # Hadoop's LocalFileSystem left a .crc sidecar for the
        # original bytes — stale after the rewrite, and the next
        # checksummed read would fail
        crc = f"{mt.path}/_manifests/.v{version:08d}.json.crc"
        if os.path.exists(crc):
            os.remove(crc)

    @classmethod
    def _age_manifest(cls, mt, version, days):
        import datetime

        old = datetime.datetime.now(
            datetime.timezone.utc
        ) - datetime.timedelta(days=days)

        cls._rewrite_manifest(
            mt, version, lambda m: m.update(committed_utc=old.isoformat())
        )

    def test_expires_only_aged_versions(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        self._age_manifest(mt, 1, 10)
        self._age_manifest(mt, 2, 10)
        mt.vacuum(retain_hours=24.0)
        assert mt.versions() == [3, 4]
        assert mt.read().count() == 33

    def test_everything_recent_keeps_all(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        mt.vacuum(retain_hours=24.0)
        assert mt.versions() == [1, 2, 3, 4]

    def test_current_survives_even_when_aged(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        for v in (1, 2, 3, 4):
            self._age_manifest(mt, v, 10)
        mt.vacuum(retain_hours=1.0)
        assert mt.versions() == [4]
        assert mt.read().count() == 33

    def test_timestampless_manifest_kept(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        self._rewrite_manifest(
            mt, 1, lambda m: m.pop("committed_utc", None)
        )
        self._age_manifest(mt, 2, 10)
        mt.vacuum(retain_hours=24.0)
        # v1 has no timestamp -> kept; keeping v1 keeps the window
        # contiguous through v2 as well (retention is a count window)
        assert 1 in mt.versions()

    def test_both_args_rejected(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="not both"):
            mt.vacuum(retain_versions=2, retain_hours=1.0)


class TestZorderCompaction:
    """compact(zorder_by=[a, b]) — the full OPTIMIZE ZORDER analog:
    bit-interleaved multi-column locality. Hierarchical cluster_by
    [a, b] leaves every file near-full-range on b; Z-order keeps
    files narrow in BOTH dims, so per-file bounds prune on either."""

    def _grid(self, spark):
        # x = i // 64 (0..63), y = i % 64 — independent grid dims;
        # pt = i % 2 partitions without correlating to x
        return spark.createDataFrame(
            [(i, i // 64, float(i % 64), i % 2) for i in range(4096)],
            "id int, x int, y double, pt int",
        )

    def _mk(self, spark, path, **compact_kw):
        mt = ManifestTable(spark, path)
        key = "spark.sql.files.maxRecordsPerFile"
        prev = spark.conf.get(key)
        spark.conf.set(key, "128")  # 16 files per pt partition
        try:
            mt.create(self._grid(spark), ["pt"])
            if compact_kw:
                mt.compact(target_records_per_file=128, **compact_kw)
        finally:
            if prev in (None, "0"):
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return mt

    def test_zorder_prunes_both_dims_hierarchical_only_first(
        self, spark, tmp_path
    ):
        hier = self._mk(
            spark, str(tmp_path / "h"), cluster_by=["x", "y"]
        )
        zord = self._mk(
            spark, str(tmp_path / "z"), zorder_by=["x", "y"]
        )
        wy = [("y", ">=", 48.0)]  # top quarter of the SECOND dim
        hy, zy = hier.prune_file_stats(wy), zord.prune_file_stats(wy)
        # hierarchical: y bounds are near-full-range in every file
        assert hy["files_scanned"] >= 0.9 * hy["files_total"], hy
        # z-order: strict subset on the second dim, and strictly
        # better than hierarchical's scan fraction
        assert 0 < zy["files_scanned"] < zy["files_total"], zy
        assert (
            zy["files_scanned"] / zy["files_total"]
            < hy["files_scanned"] / hy["files_total"]
        ), (hy, zy)
        # the FIRST dim still prunes under z-order too
        wx = [("x", ">=", 48)]
        zx = zord.prune_file_stats(wx)
        assert 0 < zx["files_scanned"] < zx["files_total"], zx
        # both rewrites are data no-ops
        for mt in (hier, zord):
            assert mt.changes(1, 2).count() == 0

    def test_zorder_where_read_exact(self, spark, tmp_path):
        mt = self._mk(
            spark, str(tmp_path / "t"), zorder_by=["x", "y"]
        )
        got = sorted(
            r.id
            for r in mt.read(
                where=[("y", ">=", 48.0), ("x", "<", 16)]
            ).collect()
        )
        want = sorted(
            i for i in range(4096) if i % 64 >= 48 and i // 64 < 16
        )
        assert got == want

    def test_zorder_guards(self, spark, tmp_path):
        mt = self._mk(spark, str(tmp_path / "t"))
        with pytest.raises(ValueError, match="not both"):
            mt.compact(cluster_by=["x"], zorder_by=["y"])
        with pytest.raises(ValueError, match="not in table"):
            mt.compact(zorder_by=["nope"])
        with pytest.raises(ValueError, match="partition column"):
            mt.compact(zorder_by=["x", "pt"])
        str_tab = ManifestTable(spark, str(tmp_path / "s"))
        str_tab.create(
            spark.createDataFrame(
                [(1, "a", 0)], "id int, s string, pt int"
            ),
            ["pt"],
        )
        with pytest.raises(ValueError, match="not numeric"):
            str_tab.compact(zorder_by=["s"])

    def test_zorder_null_nan_preserved(self, spark, tmp_path):
        rows = [(i, i % 7, float(i % 5), 0) for i in range(40)]
        rows += [(100, None, float("nan"), 0), (101, None, 2.0, 0)]
        df = spark.createDataFrame(
            rows, "id int, x int, y double, pt int"
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        mt.compact(zorder_by=["x", "y"])

        def canon(frame):
            return sorted(
                (r.id, r.x, "NaN" if r.y != r.y else r.y, r.pt)
                for r in frame.collect()
            )

        assert canon(mt.read()) == canon(df)
        # exact residual filtering still holds over the new layout
        got = sorted(
            r.id for r in mt.read(where=[("y", ">=", 3.0)]).collect()
        )
        want = sorted(
            r[0] for r in rows if r[2] == r[2] and r[2] >= 3.0
        ) + [100]  # NaN >= 3.0 is TRUE under Spark's NaN-greatest order
        assert got == sorted(want)

    def test_zorder_stats_disabled_fallback_agg(self, spark, tmp_path):
        df = self._grid(spark)
        mt = ManifestTable(spark, str(tmp_path / "t"), stats_cols=None)
        mt.create(df, ["pt"])
        ent = mt.manifest()["entries"][0]
        assert not (ent.get("stats") or {}).get("cols")
        mt.compact(zorder_by=["x", "y"])  # bounds via the fallback agg
        assert mt.read().count() == 4096
        assert mt.changes(1, 2).count() == 0

    def test_zorder_composes_with_selective(self, spark, tmp_path):
        mt = self._mk(spark, str(tmp_path / "t"))
        ent0 = {e["key"]: e for e in mt.manifest()["entries"]}
        k1 = _partition_key((1,))
        mtimes0 = _file_mtimes(mt, ent0[k1])
        assert (
            mt.compact(
                partitions=[(0,)],
                zorder_by=["x", "y"],
                target_records_per_file=128,
            )
            == 1
        )
        ent1 = {e["key"]: e for e in mt.manifest()["entries"]}
        assert ent1[k1] == ent0[k1]
        assert _file_mtimes(mt, ent1[k1]) == mtimes0
        # the rewritten partition prunes on the second dim now
        ps = mt.prune_file_stats([("y", ">=", 48.0)])
        assert ps["entries_without_file_stats"] == 0, ps
        assert ps["files_scanned"] < ps["files_total"], ps

    def test_morton_key_n_matches_python_k3(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.layout import (
            morton_key_n,
        )

        def py_morton(vals, bits):
            out = 0
            k = len(vals)
            for i in range(bits):
                for j, v in enumerate(vals):
                    out |= ((v >> i) & 1) << (i * k + j)
            return out

        triples = [(0, 0, 0), (1, 2, 3), (7, 0, 5), (6, 6, 6), (7, 7, 7)]
        df = spark.createDataFrame(triples, "a int, b int, c int")
        got = [
            r.z
            for r in df.select(
                morton_key_n(
                    [F.col("a"), F.col("b"), F.col("c")], 3
                ).alias("z")
            ).collect()
        ]
        assert got == [py_morton(t, 3) for t in triples]
        with pytest.raises(ValueError, match="62"):
            morton_key_n([F.col("a")] * 4, 16)


class TestMetadataCount:
    """count() — COUNT(*) answered from the manifest: zero data I/O
    for bare / partitions= / exactly-decidable pcol-where counts
    (pinned by DELETING the data files and counting again), exact
    scan fallback for everything else."""

    def _mk(self, spark, tmp_path, name="t"):
        return _mk_table(spark, str(tmp_path / name))

    def test_bare_count_is_metadata_only(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        want = mt.read().count()
        d = mt.count(detail=True)
        assert d == {
            "rows": want,
            "entries_metadata": 3,
            "entries_scanned": 0,
            "entries_total": 3,
        }
        # the zero-I/O pin: no data files, count still answers
        import shutil

        shutil.rmtree(f"{mt.path}/_data")
        assert mt.count() == want

    def test_partitions_and_pcol_where(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        base = {r[1] for r in _state(mt)}
        assert base == {"a", "b", "c"}
        per = {
            p: mt.read(partitions=[(p,)]).count() for p in ("a", "b", "c")
        }
        assert mt.count(partitions=[("a",), ("c",)]) == per["a"] + per["c"]
        d = mt.count(where=[("pt", "in", ["a", "b"])], detail=True)
        assert d["rows"] == per["a"] + per["b"]
        assert d["entries_scanned"] == 0
        assert mt.count(where=[("pt", ">=", "b")]) == per["b"] + per["c"]
        assert mt.count(where=[("pt", "=", "zzz")]) == 0
        import shutil

        shutil.rmtree(f"{mt.path}/_data")  # all of the above were I/O-free
        assert mt.count(where=[("pt", "in", ["a", "b"])]) == (
            per["a"] + per["b"]
        )

    def test_data_clause_scans_exactly(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        want = mt.read().filter("v >= 10.0").count()
        d = mt.count(where=[("v", ">=", 10.0)], detail=True)
        assert d["rows"] == want
        assert d["entries_scanned"] == d["entries_total"] == 3

    def test_cross_type_pcol_clause_demotes_to_scan(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)  # pt is a STRING column
        # int probe against string keys: Spark coerces, Python must
        # not guess — the entry scans and Spark decides
        d = mt.count(where=[("pt", "=", 7)], detail=True)
        assert d["entries_scanned"] == 3
        assert d["rows"] == mt.read().filter(F.col("pt") == 7).count()

    def test_column_predicate_delegates_to_scan(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        want = mt.read().filter(
            (F.col("pt") == "a") | (F.col("v") > 25.0)
        ).count()
        got = mt.count(
            where=(F.col("pt") == "a") | (F.col("v") > 25.0)
        )
        assert got == want

    def test_null_partition_key(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, None, 1.0), (2, None, 2.0), (3, "x", 3.0)],
            "id int, pt string, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "n"))
        mt.create(df, ["pt"])
        assert mt.count(where=[("pt", "is_null", None)], detail=True) == {
            "rows": 2,
            "entries_metadata": 1,
            "entries_scanned": 0,
            "entries_total": 2,
        }
        assert mt.count(where=[("pt", "not_null", None)]) == 1
        # comparisons match no NULL key — decided False, not scanned
        d = mt.count(where=[("pt", "=", "x")], detail=True)
        assert d == {
            "rows": 1,
            "entries_metadata": 1,
            "entries_scanned": 0,
            "entries_total": 2,
        }

    def test_stats_disabled_falls_back_to_scan(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i)) for i in range(10)],
            "id int, pt string, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "s"), stats_cols=None)
        mt.create(df, ["pt"])
        d = mt.count(detail=True)
        assert d["rows"] == 10
        assert d["entries_scanned"] == 2  # no stats: honest scan

    def test_time_travel_count(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)  # v1 = 30 rows, then 2 merges
        assert mt.count(version=1) == 30
        assert mt.count() == 32
        with pytest.raises(ValueError, match="not both"):
            mt.count(version=1, as_of="2026-01-01")

    def test_pcol_exact_evaluator_edges(self):
        import datetime as dt
        from decimal import Decimal

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _pcol_clause_exact as pce,
        )

        assert pce(5, "=", 5) is True
        assert pce(5, "=", 5.0) is True  # small int vs float: exact
        assert pce(2**53 + 1, "=", float(2**53)) is None  # rounds
        assert pce(Decimal("0.1"), "=", 0.1) is None  # double frame
        assert pce(Decimal("2"), "=", 2) is True
        assert pce("b", "between", ("a", "c")) is True
        assert pce("b", "in", ["a", None]) is False  # NULL elem: no hit
        assert pce("a", "in", ["a", None]) is True
        assert pce(None, "=", None) is False
        assert pce(3, "<", None) is False
        assert pce(float("nan"), "=", float("nan")) is None
        assert (
            pce(dt.datetime(2026, 1, 1), "=", dt.datetime(2026, 1, 1))
            is None
        )  # ts: zone frame, scan decides
        assert pce(dt.date(2026, 1, 1), "<=", dt.date(2026, 1, 2)) is True
        assert pce(True, "=", True) is True
        assert pce(True, "=", 1) is None  # bool-vs-int: scan


class TestCloneTable:
    """clone_to() — Delta CLONE analog: shallow = metadata-only v1
    borrowing the source's files by absolute location; deep =
    self-contained byte copy. The clone is writable (local
    generations land beside absolute entries), GC can never reach
    foreign locations, and compaction localizes borrowed partitions."""

    def test_shallow_is_metadata_only_and_equal(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))
        ent0 = {e["key"]: e for e in src.manifest()["entries"]}
        mt0 = {k: _file_mtimes(src, e) for k, e in ent0.items()}
        cl = src.clone_to(str(tmp_path / "cl"))
        assert not os.path.exists(f"{cl.path}/_data")  # zero data I/O
        assert sorted(map(tuple, cl.read().collect())) == _state(src)
        for e in cl.manifest()["entries"]:
            assert e["dir"].startswith("/")
        # source files untouched byte-for-byte
        for k, e in ent0.items():
            assert _file_mtimes(src, e) == mt0[k]
        # stats carried verbatim: metadata count works immediately
        d = cl.count(detail=True)
        assert d["entries_scanned"] == 0 and d["rows"] == 32

    def test_clone_is_writable_and_isolated(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))
        cl = src.clone_to(str(tmp_path / "cl"))
        d = spark.createDataFrame(
            [(500, "b", 9.0)], "id int, pt string, v double"
        )
        merge_into_partitioned(
            spark, cl.path, d, ["id"], ["pt"], retain_versions=5
        )
        assert cl.read().count() == 33
        assert src.read().count() == 32  # source never sees it
        assert cl.changes(1, 2).count() == 1
        # untouched partitions still borrow; the merged one is local
        dirs = {e["key"]: e["dir"] for e in cl.manifest()["entries"]}
        assert dirs[_partition_key(("a",))].startswith("/")
        assert dirs[_partition_key(("b",))].startswith("_data/")

    def test_clone_gc_never_touches_source(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))
        ent0 = {e["key"]: e for e in src.manifest()["entries"]}
        mt0 = {k: _file_mtimes(src, e) for k, e in ent0.items()}
        cl = src.clone_to(str(tmp_path / "cl"))
        # full local rewrite then aggressive vacuum on the CLONE
        cl.compact(retain_versions=1)
        cl.vacuum(retain_versions=1)
        assert sorted(map(tuple, cl.read().collect())) == _state(src)
        for k, e in ent0.items():  # source data intact
            assert _file_mtimes(src, e) == mt0[k]

    def test_compact_localizes_borrowed_partition(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))
        cl = src.clone_to(str(tmp_path / "cl"))
        before = sorted(map(tuple, cl.read().collect()))
        assert cl.compact(partitions=[("a",)]) == 1
        dirs = {e["key"]: e["dir"] for e in cl.manifest()["entries"]}
        assert dirs[_partition_key(("a",))].startswith("_data/")
        assert dirs[_partition_key(("b",))].startswith("/")
        assert sorted(map(tuple, cl.read().collect())) == before
        # report resolves both borrowed and local entries
        rep = {tuple(r["values"]): r["files"] for r in cl.small_file_report()}
        assert all(n and n >= 1 for n in rep.values()), rep

    def test_deep_clone_survives_source_delete(self, spark, tmp_path):
        import shutil

        src = _mk_table(spark, str(tmp_path / "src"))
        want = _state(src)
        dp = src.clone_to(str(tmp_path / "dp"), deep=True)
        for e in dp.manifest()["entries"]:
            assert e["dir"].startswith("_data/g00000001/")
            # per-file bounds carried verbatim still name real files
            for fname in (e.get("files") or {}):
                assert os.path.exists(f"{dp.path}/{e['dir']}/{fname}")
        shutil.rmtree(src.path)
        assert sorted(map(tuple, dp.read().collect())) == want

    def test_clone_at_version_and_guards(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))  # v1=30 rows
        cl1 = src.clone_to(str(tmp_path / "v1"), version=1)
        assert cl1.read().count() == 30
        with pytest.raises(ValueError, match="already exists"):
            src.clone_to(str(tmp_path / "v1"))

    def test_clone_carries_constraints_and_tombstones(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        base = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i), i) for i in range(10)],
            "id int, pt string, v double, extra int",
        )
        src = ManifestTable(spark, str(tmp_path / "src"))
        src.create(base, ["pt"])
        src.add_check_constraint("v_nonneg", "v >= 0")
        src.drop_columns(["extra"])  # tombstones 'extra'
        cl = src.clone_to(str(tmp_path / "cl"))
        assert "v_nonneg" in cl.check_constraints()
        bad = spark.createDataFrame(
            [(600, "a", -1.0)], "id int, pt string, v double"
        )
        with pytest.raises(CheckConstraintViolation):
            merge_into_partitioned(
                spark, cl.path, bad, ["id"], ["pt"], retain_versions=5
            )
        # the tombstone traveled too (merge itself PROJECTS extra
        # delta columns away by documented design, so the refusal is
        # pinned at the property level here and behaviorally in
        # TestDropColumns)
        assert cl.manifest().get("dropped_cols") == ["extra"]

    def test_shallow_clone_of_shallow_clone(self, spark, tmp_path):
        src = _mk_table(spark, str(tmp_path / "src"))
        c1 = src.clone_to(str(tmp_path / "c1"))
        c2 = c1.clone_to(str(tmp_path / "c2"))
        assert sorted(map(tuple, c2.read().collect())) == _state(src)
        for e in c2.manifest()["entries"]:
            assert e["dir"].startswith("/")


class TestAutoCompactSink:
    """start_changelog_merge_sink(compact_min_files=N, compact_every=K)
    — Delta-style auto compaction fused into the CDC sink: every K-th
    batch runs the selective small-file sweep on the sink's own table,
    inside the same serial foreachBatch slot."""

    def _drive(self, spark, tmp_path, nbatches=4, **sink_kw):
        import os as _os

        from fbg_kafka_stream_file_transfer_spark.streaming.merge_sink import (
            start_changelog_merge_sink,
        )

        src = str(tmp_path / "src")
        _os.makedirs(src)
        schema = "id long, pt int, ts long, v double, op string"
        for i in range(nbatches):
            rows = [
                (100 * i + j, j % 2, 100 * i, float(i), "U")
                for j in range(6)
            ]
            b = spark.createDataFrame(rows, schema)
            tmp = str(tmp_path / f"w{i}")
            b.coalesce(1).write.parquet(tmp)
            pf = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
            _os.rename(f"{tmp}/{pf}", f"{src}/{i:03d}.parquet")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        table = str(tmp_path / "table")
        q = start_changelog_merge_sink(
            spark, stream, table, "id", ["pt"], "ts", "op",
            str(tmp_path / "ckpt"), layout="manifest",
            retain_versions=10, **sink_kw,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return table

    def test_sweep_compacts_and_preserves_state(self, spark, tmp_path):
        table = self._drive(
            spark, tmp_path, compact_min_files=2, compact_every=2
        )
        mt = ManifestTable(spark, table)
        # every ingested row survives the sweeps
        assert mt.read().count() == 24
        rep = {tuple(r["values"]): r["files"] for r in mt.small_file_report()}
        # batches 2..4 land after the last full sweep at batch 4 —
        # no partition may hold more than compact_every merge files
        # plus the sweep's single output
        assert all(n <= 3 for n in rep.values()), rep
        # at least one maintenance commit exists: some version diff
        # is zero rows while ingestion batches always add 6
        vs = mt.versions()
        diffs = [
            mt.changes(a, b).count()
            for a, b in zip(vs, vs[1:])
        ]
        assert 0 in diffs, diffs

    def test_quiet_sweep_burns_no_version(self, spark, tmp_path):
        # min_files above anything the stream accretes: the sweep
        # selects nothing and publishes nothing — version count is
        # exactly bootstrap + merges
        table = self._drive(
            spark, tmp_path, compact_min_files=99, compact_every=1
        )
        mt = ManifestTable(spark, table)
        assert len(mt.versions()) == 4
        assert mt.read().count() == 24

    def test_start_time_guards(self, spark, tmp_path):
        from fbg_kafka_stream_file_transfer_spark.streaming.merge_sink import (
            start_changelog_merge_sink,
        )

        src = tmp_path / "empty_src"
        src.mkdir()
        stream = (
            spark.readStream.schema("id long, pt int, ts long, op string")
            .parquet(str(src))
        )
        for kw, msg in (
            (dict(compact_min_files=2), "layout='manifest'"),
            (dict(compact_min_files=1, layout="manifest"), ">= 2"),
            (
                dict(compact_min_files=2, layout="manifest", compact_every=0),
                ">= 1",
            ),
        ):
            with pytest.raises(ValueError, match=msg):
                start_changelog_merge_sink(
                    spark, stream, str(tmp_path / "t"), "id", ["pt"],
                    "ts", "op", str(tmp_path / "c"), **kw,
                )


class TestVacuumDryRun:
    """vacuum(dry_run=True) — the report of what the sweep WOULD
    delete, computed by the same _gc_plan the real sweep executes."""

    def test_default_retention_plans_nothing(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        vs0 = mt.versions()
        plan = mt.vacuum(dry_run=True)
        assert plan["expired_versions"] == []
        assert plan["unreferenced_generations"] == []
        assert plan["aged_staging"] == []
        assert mt.versions() == vs0  # nothing happened

    def test_dry_run_matches_real_sweep(self, spark, tmp_path):
        import glob as _glob
        import os as _os

        mt = _mk_table(spark, str(tmp_path / "t"))  # v1..v3 retained
        # age a fake staging husk and an orphan merge-delta dir
        stage = f"{mt.path}/_data/.stage-deadbeef"
        delta = f"{mt.path}/_merge_delta-deadbeef"
        for d in (stage, delta):
            _os.makedirs(d)
            _os.utime(d, (1600000000, 1600000000))
        plan = mt.vacuum(dry_run=True, retain_versions=1)
        assert plan["expired_versions"] == [1, 2]
        assert plan["unreferenced_generations"]  # old gens qualify
        assert sorted(plan["aged_staging"]) == sorted([stage, delta])
        # dry run deleted NOTHING
        assert mt.versions() == [1, 2, 3]
        assert _os.path.exists(stage) and _os.path.exists(delta)
        gens0 = set(
            _os.path.basename(p)
            for p in _glob.glob(f"{mt.path}/_data/g*")
        )
        assert set(plan["unreferenced_generations"]) <= gens0
        # the real sweep removes exactly the planned items
        mt.vacuum(retain_versions=1)
        assert mt.versions() == [3]
        assert not _os.path.exists(stage) and not _os.path.exists(delta)
        gens1 = set(
            _os.path.basename(p)
            for p in _glob.glob(f"{mt.path}/_data/g*")
        )
        assert gens1 == gens0 - set(plan["unreferenced_generations"])

    def test_dry_run_honors_retain_hours(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        # all manifests recent: hours-based dry run keeps everything
        plan = mt.vacuum(dry_run=True, retain_hours=24.0)
        assert plan["expired_versions"] == []


class TestHiddenPartitioning:
    """Derived partitions (Iceberg hidden partitioning): the manifest
    remembers pcol == transform(source), every commit enforces it
    row-wise, and scans project data-column predicates onto the
    partition key — `where ts >= X` prunes day partitions with no
    day clause spelled. Projection is pruning-only: the exact
    residual filter stays the caller's predicate."""

    def _mk_day(self, spark, path, ntz=True, days=20, per_day=8):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        rows = [
            (
                d * per_day + i,
                dt.datetime(2026, 1, 1 + d, 6 + (i % 12), 30),
                float(i),
            )
            for d in range(days)
            for i in range(per_day)
        ]
        t = "timestamp_ntz" if ntz else "timestamp"
        df = spark.createDataFrame(
            rows, f"id int, ts {t}, v double"
        ).withColumn("ts_day", partition_transform_column("day", "ts"))
        mt = ManifestTable(
            spark,
            path,
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"}
            },
        )
        mt.create(df, ["ts_day"])
        return mt, df

    def test_day_projection_prunes_and_stays_exact(self, spark, tmp_path):
        import datetime as dt

        mt, df = self._mk_day(spark, str(tmp_path / "t"))
        for cut in (
            dt.datetime(2026, 1, 5),
            dt.datetime(2026, 1, 5, 13, 45, 1),
            dt.datetime(2026, 1, 19, 23, 59, 59),
        ):
            w = [("ts", ">=", cut)]
            kept, total = mt.prune_stats(w)
            assert kept < total, (cut, kept, total)
            got = sorted(r.id for r in mt.read(where=w).collect())
            want = sorted(
                r.id for r in df.filter(F.col("ts") >= F.lit(cut)).collect()
            )
            assert got == want, cut
        # equality projects to a single day (NTZ: zero widening)
        kept, total = mt.prune_stats(
            [("ts", "=", dt.datetime(2026, 1, 7, 6, 30))]
        )
        assert kept == 1, (kept, total)
        # between projects through both bounds
        w = [("ts", "between", (dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 5)))]
        kept, total = mt.prune_stats(w)
        assert kept == 3, (kept, total)

    def test_zoned_timestamp_widens_but_stays_exact(self, spark, tmp_path):
        import datetime as dt

        mt, df = self._mk_day(spark, str(tmp_path / "t"), ntz=False)
        cut = dt.datetime(2026, 1, 10)
        w = [("ts", ">=", cut)]
        kept, total = mt.prune_stats(w)
        # widened by ±2 days, still prunes the far tail
        assert kept < total
        exact_days = 11  # Jan 10..20
        assert exact_days <= kept <= exact_days + 2
        got = sorted(r.id for r in mt.read(where=w).collect())
        want = sorted(
            r.id for r in df.filter(F.col("ts") >= F.lit(cut)).collect()
        )
        assert got == want

    def test_month_transform_on_date_source(self, spark, tmp_path):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        rows = [
            (m * 31 + d, dt.date(2026, 1 + m, 1 + d), float(d))
            for m in range(6)
            for d in range(10)
        ]
        df = spark.createDataFrame(
            rows, "id int, d date, v double"
        ).withColumn("d_month", partition_transform_column("month", "d"))
        mt = ManifestTable(
            spark,
            str(tmp_path / "t"),
            derived_partitions={
                "d_month": {"transform": "month", "source": "d"}
            },
        )
        mt.create(df, ["d_month"])
        # date source: zero widening — equality prunes to ONE month
        kept, total = mt.prune_stats([("d", "=", dt.date(2026, 3, 4))])
        assert (kept, total) == (1, 6)
        w = [("d", ">=", dt.date(2026, 4, 2))]
        assert mt.prune_stats(w)[0] == 3  # Apr, May, Jun
        got = sorted(r.id for r in mt.read(where=w).collect())
        want = sorted(
            r.id
            for r in df.filter(F.col("d") >= F.lit(dt.date(2026, 4, 2))).collect()
        )
        assert got == want

    def test_bucket_transform_equality_and_in(self, spark, tmp_path):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        df = spark.createDataFrame(
            [(i, f"user-{i % 50}", float(i)) for i in range(400)],
            "id int, user string, v double",
        ).withColumn(
            "ub", partition_transform_column("bucket", "user", 8)
        )
        mt = ManifestTable(
            spark,
            str(tmp_path / "t"),
            derived_partitions={
                "ub": {"transform": "bucket", "source": "user", "n": 8}
            },
        )
        mt.create(df, ["ub"])
        kept, total = mt.prune_stats([("user", "=", "user-7")])
        assert kept == 1 and total == 8
        got = sorted(
            r.id for r in mt.read(where=[("user", "=", "user-7")]).collect()
        )
        want = sorted(
            r.id for r in df.filter(F.col("user") == "user-7").collect()
        )
        assert got == want
        k2, _ = mt.prune_stats([("user", "in", ["user-3", "user-11"])])
        assert 1 <= k2 <= 2
        # ranges do not project through a hash (ordinary column
        # STATS may still prune the odd bucket) — exactness holds
        got3 = mt.read(where=[("user", ">=", "user-4")]).count()
        assert got3 == df.filter(F.col("user") >= "user-4").count()

    def test_bucket_null_source_rows_never_lost(self, spark, tmp_path):
        # the r13 self-review bug class: xxhash64(NULL) = 42 (seed),
        # so NULL-source rows live in a NON-null bucket — an is_null
        # projection through the hash would prune them silently
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0), (3, None, 3.0), (4, "b", 4.0)],
            "id int, user string, v double",
        ).withColumn(
            "ub", partition_transform_column("bucket", "user", 4)
        )
        mt = ManifestTable(
            spark,
            str(tmp_path / "t"),
            derived_partitions={
                "ub": {"transform": "bucket", "source": "user", "n": 4}
            },
        )
        mt.create(df, ["ub"])
        assert sorted(
            r.id for r in mt.read(where=[("user", "is_null", None)]).collect()
        ) == [2, 3]
        assert sorted(
            r.id
            for r in mt.read(where=[("user", "not_null", None)]).collect()
        ) == [1, 4]

    def test_null_source_projects_is_null(self, spark, tmp_path):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        rows = [(1, dt.datetime(2026, 1, 1), 1.0), (2, None, 2.0), (3, None, 3.0)]
        df = spark.createDataFrame(
            rows, "id int, ts timestamp_ntz, v double"
        ).withColumn("ts_day", partition_transform_column("day", "ts"))
        mt = ManifestTable(
            spark,
            str(tmp_path / "t"),
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"}
            },
        )
        mt.create(df, ["ts_day"])
        kept, total = mt.prune_stats([("ts", "is_null", None)])
        assert (kept, total) == (1, 2)
        assert sorted(
            r.id for r in mt.read(where=[("ts", "is_null", None)]).collect()
        ) == [2, 3]
        kept, _ = mt.prune_stats([("ts", "not_null", None)])
        assert kept == 1

    def test_corrupt_derivation_refused_all_paths(self, spark, tmp_path):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
            partition_transform_column,
        )

        mt, df = self._mk_day(spark, str(tmp_path / "t"), days=4)
        bad = (
            df.limit(3)
            .withColumn("ts_day", F.date_add(F.col("ts_day"), 1))
        )
        with pytest.raises(CheckConstraintViolation, match="derived"):
            merge_into_partitioned(
                spark, mt.path, bad, ["id"], ["ts_day"], retain_versions=3
            )
        with pytest.raises(CheckConstraintViolation, match="derived"):
            merge_into_partitioned(
                spark, mt.path, bad, ["id"], ["ts_day"],
                retain_versions=3, optimistic=True,
            )
        # refusals left no staging husk and no new version
        assert mt.current_version() == 1
        import glob as _glob

        assert not _glob.glob(f"{mt.path}/_data/.stage-*")
        # create itself also enforces
        bad_seed = (
            spark.createDataFrame(
                [(1, dt.datetime(2026, 2, 1), 1.0)],
                "id int, ts timestamp_ntz, v double",
            )
            .withColumn("ts_day", F.lit(dt.date(2000, 1, 1)))
        )
        mt2 = ManifestTable(
            spark,
            str(tmp_path / "t2"),
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"}
            },
        )
        with pytest.raises(CheckConstraintViolation, match="derived"):
            mt2.create(bad_seed, ["ts_day"])

    def test_spec_guards(self, spark, tmp_path):
        import datetime as dt

        df = spark.createDataFrame(
            [(1, dt.datetime(2026, 1, 1), "x", 0)],
            "id int, ts timestamp_ntz, s string, pt int",
        )

        def mk(spec):
            mt = ManifestTable(
                spark, str(tmp_path / "g"), derived_partitions=spec
            )
            mt.create(df, ["pt"])

        with pytest.raises(ValueError, match="not a partition column"):
            mk({"nope": {"transform": "day", "source": "ts"}})
        with pytest.raises(ValueError, match="unknown transform"):
            mk({"pt": {"transform": "year", "source": "ts"}})
        with pytest.raises(ValueError, match="not in table schema"):
            mk({"pt": {"transform": "day", "source": "zz"}})
        with pytest.raises(ValueError, match="n >= 1"):
            mk({"pt": {"transform": "bucket", "source": "id"}})
        with pytest.raises(ValueError, match="int-family or string"):
            mk({"pt": {"transform": "bucket", "source": "ts", "n": 4}})
        with pytest.raises(ValueError, match="date/timestamp"):
            mk({"pt": {"transform": "day", "source": "s"}})

    def test_drop_source_refused_repartition_retires(self, spark, tmp_path):
        mt, df = self._mk_day(spark, str(tmp_path / "t"), days=3)
        with pytest.raises(ValueError, match="derives from"):
            mt.drop_columns(["ts"])
        mt.repartition_table(["id"])
        assert "derived_partitions" not in mt.manifest()
        assert mt.read().count() == 24

    def test_clone_carries_derivation(self, spark, tmp_path):
        import datetime as dt

        mt, df = self._mk_day(spark, str(tmp_path / "t"), days=6)
        cl = mt.clone_to(str(tmp_path / "cl"))
        assert cl.manifest()["derived_partitions"] == {
            "ts_day": {"transform": "day", "source": "ts"}
        }
        kept, total = cl.prune_stats(
            [("ts", ">=", dt.datetime(2026, 1, 5))]
        )
        assert kept < total

    def test_projection_evaluator_table(self):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _project_derived,
        )

        day = {"transform": "day", "source": "ts"}
        # NTZ: exact
        assert _project_derived(
            day, "timestamp_ntz", ">=", dt.datetime(2026, 1, 5, 9), None
        ) == [(">=", dt.date(2026, 1, 5))]
        # zoned: ±2 days
        assert _project_derived(
            day, "timestamp", ">=", dt.datetime(2026, 1, 5, 9), None
        ) == [(">=", dt.date(2026, 1, 3))]
        assert _project_derived(
            day, "timestamp", "=", dt.datetime(2026, 1, 5), None
        ) == [("between", (dt.date(2026, 1, 3), dt.date(2026, 1, 7)))]
        month = {"transform": "month", "source": "d"}
        assert _project_derived(
            month, "date", "<", dt.date(2026, 3, 15), None
        ) == [("<=", dt.date(2026, 3, 1))]
        assert _project_derived(
            month, "timestamp", "<", dt.datetime(2026, 3, 1), None
        ) == [("<=", dt.date(2026, 4, 1))]
        # null literal: no projection, the row filter decides
        assert _project_derived(day, "timestamp_ntz", "=", None, None) is None
        # bucket ranges don't project
        b = {"transform": "bucket", "source": "u", "n": 4}
        assert _project_derived(b, "string", ">=", "x", None) is None
        # is_null maps through day/month (to_date is NULL-preserving)
        assert _project_derived(day, "timestamp", "is_null", None, None) == [
            ("is_null", None)
        ]
        # ...but NOT through bucket: xxhash64(NULL) is the SEED (42),
        # a NULL-source row carries a NON-null key — projecting would
        # prune the exact rows the predicate wants (r13 self-review)
        assert _project_derived(b, "string", "is_null", None, None) is None
        assert _project_derived(b, "string", "not_null", None, None) is None


class TestDmlDeleteUpdate:
    """delete_where / update_where — the Delta DML surface: one
    atomic commit, metadata-only whole-partition deletes, pruned
    rewrites elsewhere, SQL NULL semantics, real change-feed rows."""

    def _mk(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(100)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        return mt

    def test_whole_partition_delete_is_metadata_only(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        ent0 = {e["key"]: e for e in mt.manifest()["entries"]}
        keep_keys = [k for k in ent0 if k != _partition_key((3,))]
        mt0 = {k: _file_mtimes(mt, ent0[k]) for k in keep_keys}
        r = mt.delete_where([("pt", "=", 3)])
        assert r == {
            "rows_deleted": 25,
            "entries_dropped": 1,
            "entries_rewritten": 0,
            # r14 file-granular DML keys (all zero here: the drop is
            # metadata-only, no file-scoped rewrite happens)
            "entries_file_scoped": 0,
            "files_rewritten": 0,
            "files_carried": 0,
            "entries_untouched": 3,
        }
        ent1 = {e["key"]: e for e in mt.manifest()["entries"]}
        assert set(ent1) == set(keep_keys)
        for k in keep_keys:  # untouched entries verbatim, files cold
            assert ent1[k] == ent0[k]
            assert _file_mtimes(mt, ent1[k]) == mt0[k]
        # the feed sees real deletes — DML, not maintenance
        d = mt.changes(1, 2)
        assert d.count() == 25
        assert {
            r[0] for r in d.select("_change_type").distinct().collect()
        } == {"delete"}

    def test_row_delete_rewrites_only_matching_partitions(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        # ids 96..99 live one per partition; stats prune nothing here,
        # but a pt-scoped conjunction keeps untouched partitions cold
        r = mt.delete_where([("pt", "=", 0), ("id", ">=", 50)])
        assert r["entries_rewritten"] == 1
        assert r["entries_untouched"] == 3
        assert r["rows_deleted"] == len(
            [i for i in range(100) if i % 4 == 0 and i >= 50]
        )
        got = sorted(r.id for r in mt.read().collect())
        want = sorted(
            i for i in range(100) if not (i % 4 == 0 and i >= 50)
        )
        assert got == want

    def test_null_predicate_rows_kept_on_delete(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, 0, 5.0), (2, 0, None), (3, 0, 50.0)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "n"))
        mt.create(df, ["pt"])
        r = mt.delete_where([("v", ">", 10.0)])
        assert r["rows_deleted"] == 1
        # SQL DELETE keeps NULL-predicate rows
        assert sorted(x.id for x in mt.read().collect()) == [1, 2]

    def test_update_where_case_semantics(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        r = mt.update_where(
            [("id", "<", 8)], set={"v": "v + 1000"}
        )
        assert r["rows_updated"] == 8
        rows = {x.id: x.v for x in mt.read().filter("id < 10").collect()}
        assert rows[0] == 1000.0 and rows[7] == 1007.0
        assert rows[8] == 8.0 and rows[9] == 9.0
        # result casts back to the column's type
        assert dict(mt.read().dtypes)["v"] == "double"
        # updates surface as delete+insert pairs in the feed
        d = mt.changes(1, 2)
        assert d.count() == 16

    def test_update_with_column_objects_and_condition(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        r = mt.update_where(
            (F.col("v") >= 90.0) & (F.col("pt") == 2),
            set={"v": F.col("v") * 2},
        )
        want = [i for i in range(100) if i >= 90 and i % 4 == 2]
        assert r["rows_updated"] == len(want)
        got = {x.id: x.v for x in mt.read().filter("id >= 90").collect()}
        for i in range(90, 100):
            assert got[i] == (i * 2.0 if i % 4 == 2 else float(i))

    def test_guards_and_no_match(self, spark, tmp_path):
        mt = self._mk(spark, tmp_path)
        v0 = mt.current_version()
        r = mt.delete_where([("pt", "=", 42)])
        assert r["rows_deleted"] == 0
        assert mt.current_version() == v0  # no version burned
        with pytest.raises(ValueError, match="non-empty where"):
            mt.delete_where([])
        with pytest.raises(ValueError, match="non-empty set"):
            mt.update_where([("id", "<", 5)], set={})
        with pytest.raises(ValueError, match="partition column"):
            mt.update_where([("id", "<", 5)], set={"pt": "0"})
        with pytest.raises(ValueError, match="not in"):
            mt.update_where([("id", "<", 5)], set={"zz": "1"})

    def test_update_derived_source_refused(self, spark, tmp_path):
        import datetime as dt

        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        df = spark.createDataFrame(
            [(i, dt.datetime(2026, 1, 1 + i % 5), float(i)) for i in range(20)],
            "id int, ts timestamp_ntz, v double",
        ).withColumn("ts_day", partition_transform_column("day", "ts"))
        mt = ManifestTable(
            spark,
            str(tmp_path / "d"),
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"}
            },
        )
        mt.create(df, ["ts_day"])
        with pytest.raises(ValueError, match="derive"):
            mt.update_where(
                [("id", "<", 5)],
                set={"ts": "ts + INTERVAL 1 DAY"},
            )
        # and DML prunes through the hidden projection
        r = mt.delete_where([("ts", ">=", dt.datetime(2026, 1, 4))])
        assert r["entries_untouched"] == 3
        assert r["entries_rewritten"] == 2

    def test_delete_everything_in_partition_via_rows(
        self, spark, tmp_path
    ):
        mt = self._mk(spark, tmp_path)
        # a row-level predicate that happens to empty a partition:
        # the emptied entry must drop out entirely
        r = mt.delete_where([("pt", "in", [1]), ("id", ">=", 0)])
        assert r["rows_deleted"] == 25
        keys = {e["key"] for e in mt.manifest()["entries"]}
        assert _partition_key((1,)) not in keys
        assert mt.read().count() == 75

    def test_constraints_enforced_on_update(self, spark, tmp_path):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        mt = self._mk(spark, tmp_path)
        mt.add_check_constraint("v_small", "v < 10000")
        with pytest.raises(CheckConstraintViolation):
            mt.update_where([("id", "<", 3)], set={"v": "v + 99999"})
        # refused atomically: state unchanged
        assert mt.read().filter("v >= 10000").count() == 0


class TestR13ReviewFindings2:
    """Pins for the second r13 code-review pass (post-DML)."""

    def test_update_set_swaps_against_pre_update_row(
        self, spark, tmp_path
    ):
        # sequential withColumn would evaluate b's expression against
        # the already-updated a; one-select semantics must swap
        df = spark.createDataFrame(
            [(1, 0, 10.0, 20.0), (2, 0, 30.0, 40.0)],
            "id int, pt int, a double, b double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        mt.update_where([("id", "=", 1)], set={"a": "b", "b": "a"})
        row = {r.id: (r.a, r.b) for r in mt.read().collect()}
        assert row[1] == (20.0, 10.0)  # swapped
        assert row[2] == (30.0, 40.0)

    def test_update_predicate_on_updated_column(self, spark, tmp_path):
        # the predicate must see the PRE-update v for EVERY set col
        df = spark.createDataFrame(
            [(i, 0, float(i), 0.0) for i in range(100)],
            "id int, pt int, v double, flag double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        r = mt.update_where(
            [("v", ">=", 90.0)], set={"v": "v - 100", "flag": "1"}
        )
        assert r["rows_updated"] == 10
        rows = {x.id: (x.v, x.flag) for x in mt.read().collect()}
        for i in range(90, 100):
            assert rows[i] == (i - 100.0, 1.0), i
        assert rows[89] == (89.0, 0.0)

    def test_bucket_projection_cross_kind_literal_no_prune(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            partition_transform_column,
        )

        # "5" and "05" denote the same NUMBER but different strings —
        # they hash to whatever buckets they hash to; an int literal
        # must NOT project through the string hash (Spark's residual
        # coerces the COLUMN, matching both rows)
        df = spark.createDataFrame(
            [(1, "5"), (2, "05"), (3, "7")], "id int, s string"
        ).withColumn("sb", partition_transform_column("bucket", "s", 16))
        mt = ManifestTable(
            spark,
            str(tmp_path / "t"),
            derived_partitions={
                "sb": {"transform": "bucket", "source": "s", "n": 16}
            },
        )
        mt.create(df, ["sb"])
        got = sorted(r.id for r in mt.read(where=[("s", "=", 5)]).collect())
        want = sorted(
            r.id for r in df.filter(F.col("s") == 5).collect()
        )
        assert got == want and len(want) == 2
        # same-kind literal still projects (prunes to one bucket)
        kept, total = mt.prune_stats([("s", "=", "7")])
        assert kept == 1

    def test_empty_in_list_no_crash(self, spark, tmp_path):
        mt, df = TestHiddenPartitioning()._mk_day(
            spark, str(tmp_path / "t"), days=4
        )
        assert mt.read(where=[("ts", "in", [])]).count() == 0
        assert mt.count(where=[("ts", "in", [])]) == 0

    def test_derived_partitions_on_existing_table_refused(
        self, spark, tmp_path
    ):
        mt, df = TestHiddenPartitioning()._mk_day(
            spark, str(tmp_path / "t"), days=3
        )
        alien = ManifestTable(
            spark,
            mt.path,
            derived_partitions={
                "ts_day": {"transform": "month", "source": "ts"}
            },
        )
        delta = df.limit(2).withColumn("v", F.lit(9.0))
        touched = [
            tuple(r) for r in delta.select("ts_day").distinct().collect()
        ]
        with pytest.raises(ValueError, match="cannot change"):
            alien.overwrite_partitions(delta, touched)
        # the optimistic form of the same commit refuses too
        with pytest.raises(ValueError, match="cannot change"):
            alien.commit_staged(alien.stage_commit(delta, touched))
        assert mt.current_version() == 1
        # a MATCHING spec on a fresh instance is fine (harmless)
        ok = ManifestTable(
            spark,
            mt.path,
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"}
            },
        )
        assert ok.read().count() == 24

    def test_delete_count_is_metadata_derived(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(40)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        # stats-backed table: the count comes from manifest row
        # deltas, no predicate scan — count_matched=False must give
        # the SAME exact number
        r = mt.delete_where([("id", ">=", 30)], count_matched=False)
        assert r["rows_deleted"] == 10
        # update without the count pass returns None
        r2 = mt.update_where(
            [("id", "<", 5)], set={"v": "v + 1"}, count_matched=False
        )
        assert r2["rows_updated"] is None
        assert mt.read().filter("v = 1").count() == 1  # id 0 updated


class TestVerifyTable:
    """verify_table() — the integrity audit: missing dirs/files, deep
    row-count and contract re-probes. Reports, never raises."""

    def test_clean_table_verifies(self, spark, tmp_path):
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
        try:
            mt = _mk_table(spark, str(tmp_path / "t"))
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        rep = mt.verify_table()
        assert rep["ok"] and rep["problems"] == []
        assert rep["entries_checked"] == 3
        assert rep["files_checked"] > 0  # bounds maps audited
        deep = mt.verify_table(deep=True)
        assert deep["ok"], deep

    def test_missing_file_and_dir_reported(self, spark, tmp_path):
        import glob as _glob
        import os as _os
        import shutil as _shutil

        spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
        try:
            mt = _mk_table(spark, str(tmp_path / "t"))
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        ent = {e["key"]: e for e in mt.manifest()["entries"]}
        ka, kb = _partition_key(("a",)), _partition_key(("b",))
        victim = sorted((ent[ka].get("files") or {}).keys())[0]
        _os.remove(f"{mt.path}/{ent[ka]['dir']}/{victim}")
        _shutil.rmtree(f"{mt.path}/{ent[kb]['dir']}")
        rep = mt.verify_table()
        kinds = sorted(p["kind"] for p in rep["problems"])
        assert not rep["ok"]
        assert "missing_file" in kinds and "missing_dir" in kinds

    def test_deep_row_count_mismatch(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        v = mt.current_version()

        def bump(man):
            for e in man["entries"]:
                if "stats" in e:
                    e["stats"]["rows"] = e["stats"]["rows"] + 5
                    return

        TestTimeBasedVacuum._rewrite_manifest(mt, v, bump)
        mt._man_cache.clear()
        rep = mt.verify_table(deep=True)
        assert any(
            p["kind"] == "row_count_mismatch" for p in rep["problems"]
        )
        assert mt.verify_table()["ok"]  # shallow audit can't see it

    def test_deep_contract_violation(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))  # v holds v>=0 data
        v = mt.current_version()
        # inject a constraint current data violates (bypassing
        # add_check_constraint's validation) — deep verify must flag
        TestTimeBasedVacuum._rewrite_manifest(
            mt, v,
            lambda m: m.update(check_constraints={"impossible": "v < 0"}),
        )
        mt._man_cache.clear()
        rep = mt.verify_table(deep=True)
        assert any(
            p["kind"] == "contract_violation" for p in rep["problems"]
        )

    def test_shallow_clone_audit_detects_vacuumed_source(
        self, spark, tmp_path
    ):
        import shutil as _shutil

        src = _mk_table(spark, str(tmp_path / "src"))
        cl = src.clone_to(str(tmp_path / "cl"))
        assert cl.verify_table()["ok"]
        _shutil.rmtree(src.path)  # the documented shallow-clone hazard
        rep = cl.verify_table()
        assert not rep["ok"]
        assert all(p["kind"] == "missing_dir" for p in rep["problems"])


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_hp_fuzz = {}


def _hp_fuzz_mt(spark, tmp_path_factory):
    """Shared hidden-partitioning fuzz table: day(ts) AND bucket(u, 4)
    derivations in one table, adversarial values — day boundaries,
    NULL sources, numeric-looking strings in different buckets."""
    import datetime as dt

    from fbg_kafka_stream_file_transfer_spark.operators.table import (
        partition_transform_column,
    )

    if "mt" not in _hp_fuzz:
        root = tmp_path_factory.mktemp("hp_fuzz")
        rows = [
            (0, dt.datetime(2026, 1, 1, 0, 0, 0), "5", 0.0),
            (1, dt.datetime(2026, 1, 1, 23, 59, 59, 999999), "05", -1.5),
            (2, dt.datetime(2026, 1, 2, 12, 0), "a", 2.5),
            (3, dt.datetime(2026, 1, 5, 0, 0, 1), "", 9.9e17),
            (4, dt.datetime(2026, 1, 8, 6, 30), "é中", float("nan")),
            (5, None, "5", 1.0),
            (6, dt.datetime(2026, 1, 8, 6, 30), None, None),
            (7, dt.datetime(2025, 12, 31, 23, 59, 59), "m", -0.0),
            (8, dt.datetime(2026, 1, 5, 23, 0), "05", 0.25),
            (9, dt.datetime(2026, 1, 2, 0, 0), None, 3.5),
        ]
        df = (
            spark.createDataFrame(
                rows, "id int, ts timestamp_ntz, u string, v double"
            )
            .withColumn("ts_day", partition_transform_column("day", "ts"))
            .withColumn("ub", partition_transform_column("bucket", "u", 4))
        )
        mt = ManifestTable(
            spark,
            str(root / "t"),
            derived_partitions={
                "ts_day": {"transform": "day", "source": "ts"},
                "ub": {"transform": "bucket", "source": "u", "n": 4},
            },
        )
        mt.create(df, ["ts_day", "ub"])
        _hp_fuzz["mt"] = mt
    return _hp_fuzz["mt"]


def _hp_clause():
    import datetime as dt

    pools = {
        "ts": [
            dt.datetime(2026, 1, 1),
            dt.datetime(2026, 1, 1, 23, 59, 59),
            dt.datetime(2026, 1, 2),
            dt.datetime(2026, 1, 5, 12),
            dt.datetime(2025, 12, 31, 23, 59),
            dt.date(2026, 1, 2),
            "2026-01-02",
            None,
        ],
        "u": ["5", "05", "a", "", "m", 5, 0, None],
        "v": [0.0, -0.0, -1.5, 0.25, 9.9e17, float("nan"), 1, None],
        "id": [0, 5, 9, -1, 2**40, 0.5, None],
    }
    ops = ["=", "<", "<=", ">", ">=", "between", "in", "is_null", "not_null"]

    def per_col(col):
        pool = st.sampled_from(pools[col])
        # bare None comparisons are rejected by _normalize_where's UX
        # guard (use is_null); None stays in the between/in pools
        # where NULL-element semantics are real behavior to fuzz
        scalar = st.sampled_from([v for v in pools[col] if v is not None])

        def per_op(op):
            if op in ("is_null", "not_null"):
                return st.just((col, op, None))
            if op == "between":
                return st.tuples(pool, pool).map(
                    lambda t: (col, "between", t)
                )
            if op == "in":
                return st.lists(pool, min_size=0, max_size=3).map(
                    lambda xs: (col, "in", xs)
                )
            return scalar.map(lambda v: (col, op, v))

        return st.sampled_from(ops).flatmap(per_op)

    return st.sampled_from(list(pools)).flatmap(per_col)


class TestHiddenPartitioningSoundnessFuzz:
    """Property: transform projection may only SKIP work, never change
    results — for ANY where-conjunction (day boundaries, NULL sources,
    cross-kind literals, empty IN lists), the projected pruned read
    equals the plain filter over the full table."""

    @given(where=st.lists(_hp_clause(), min_size=1, max_size=3))
    @settings(
        max_examples=30, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    def test_projected_read_equals_plain_filter(
        self, spark, tmp_path_factory, where
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _normalize_where,
            _where_to_filter,
        )

        mt = _hp_fuzz_mt(spark, tmp_path_factory)
        norm = _normalize_where(where)
        got = sorted(
            r.id for r in mt.read(where=where).select("id").collect()
        )
        want = sorted(
            r.id
            for r in mt.read()
            .filter(_where_to_filter(norm))
            .select("id")
            .collect()
        )
        assert got == want, (where, got, want)


class TestOperationHistory:
    """history() op metadata (DESCRIBE HISTORY's operation column):
    every commit path stamps what produced the version."""

    def test_lifecycle_ops_recorded(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))  # create + 2 merges
        mt.delete_where([("pt", "=", "c")], retain_versions=9)
        mt.update_where(
            [("id", "<", 3)], set={"v": "v + 1"}, retain_versions=9
        )
        mt.compact(partitions=[("a",)], retain_versions=9)
        mt.add_check_constraint("v_num", "v IS NOT NULL OR v IS NULL")
        mt.drop_check_constraint("v_num")
        mt.drop_columns(["v"])
        ops = [
            (h["version"], (h["op"] or {}).get("name"))
            for h in mt.history()
        ]
        names = [n for _, n in ops]
        assert names == [
            "create", "merge", "merge", "delete", "update",
            "compact", "add_check_constraint", "drop_check_constraint",
            "drop_columns",
        ], ops
        comp = next(
            h["op"] for h in mt.history() if h["op"]["name"] == "compact"
        )
        assert comp["selective"] is True and comp["n_partitions"] == 1

    def test_restore_repartition_clone_staged_ops(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        mt.restore(1, retain_versions=9)
        assert mt.history()[-1]["op"] == {
            "name": "restore",
            "to_version": 1,
        }
        d = spark.createDataFrame(
            [(900, "a", 2.0)], "id int, pt string, v double"
        )
        staged = mt.stage_commit(d, base_version=mt.current_version())
        mt.commit_staged(staged, retain_versions=9)
        assert mt.history()[-1]["op"]["name"] == "staged_commit"
        mt.repartition_table(["id"], retain_versions=9)
        assert mt.history()[-1]["op"] == {
            "name": "repartition_table",
            "new_partition_cols": ["id"],
        }
        cl = mt.clone_to(str(tmp_path / "cl"))
        cop = cl.history()[-1]["op"]
        assert cop["name"] == "clone" and cop["deep"] is False
        assert cop["source"] == mt.path

    def test_pre_op_manifests_read_as_none(self, spark, tmp_path):
        mt = _mk_table(spark, str(tmp_path / "t"))
        TestTimeBasedVacuum._rewrite_manifest(
            mt, 1, lambda m: m.pop("op", None)
        )
        mt._man_cache.clear()
        assert mt.history()[0]["op"] is None  # pre-r13 shape tolerated


class TestOptimisticDml:
    """delete_where/update_where(optimistic=True): evaluation stages
    outside the lease (the optimistic merge/compact contract), the
    publish rebases over disjoint winners; refusal aborts staging."""

    def test_optimistic_equals_locked(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(80)],
            "id int, pt int, v double",
        )
        a = ManifestTable(spark, str(tmp_path / "a"))
        a.create(df, ["pt"])
        b = ManifestTable(spark, str(tmp_path / "b"))
        b.create(df, ["pt"])
        ra = a.delete_where([("id", ">=", 60)])
        rb = b.delete_where([("id", ">=", 60)], optimistic=True)
        assert ra["rows_deleted"] == rb["rows_deleted"] == 20
        assert sorted(map(tuple, a.read().collect())) == sorted(
            map(tuple, b.read().collect())
        )
        op = b.history()[-1]["op"]
        assert op["name"] == "delete" and op["optimistic"] is True
        import glob as _glob

        assert not _glob.glob(f"{b.path}/_data/.stage-*")
        r2 = b.update_where(
            [("id", "<", 5)], set={"v": "v + 7"}, optimistic=True
        )
        assert r2["rows_updated"] == 5
        assert b.read().filter("id = 0 AND v = 7").count() == 1

    def test_optimistic_refusal_aborts_staging(self, spark, tmp_path):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            CheckConstraintViolation,
        )

        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(20)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        mt.add_check_constraint("v_cap", "v < 1000")
        with pytest.raises(CheckConstraintViolation):
            mt.update_where(
                [("id", "<", 3)], set={"v": "v + 99999"}, optimistic=True
            )
        import glob as _glob

        assert not _glob.glob(f"{mt.path}/_data/.stage-*")
        assert mt.read().filter("v >= 1000").count() == 0


def _dml_clause():
    pools = {
        "id": [0, 10, 25, 39, -1, 2**40],
        "v": [0.0, 5.5, 20.0, float("nan"), 38.0],
        "pt": [0, 1, 2, 3, "1"],
    }
    ops = ["=", "<", "<=", ">", ">=", "between", "in", "is_null", "not_null"]

    def per_col(col):
        pool = st.sampled_from(pools[col])

        def per_op(op):
            if op in ("is_null", "not_null"):
                return st.just((col, op, None))
            if op == "between":
                return st.tuples(pool, pool).map(
                    lambda t: (col, "between", t)
                )
            if op == "in":
                return st.lists(pool, min_size=0, max_size=3).map(
                    lambda xs: (col, "in", xs)
                )
            return pool.map(lambda x: (col, op, x))

        return st.sampled_from(ops).flatmap(per_op)

    return st.sampled_from(list(pools)).flatmap(per_col)


class TestDmlSoundnessFuzz:
    """Property: delete_where removes EXACTLY the rows the predicate
    matches (SQL semantics: NULL-predicate rows survive) — for any
    where-conjunction, including the pcol clauses that take the
    metadata-only drop path and cross-type literals."""

    @given(where=st.lists(_dml_clause(), min_size=1, max_size=2))
    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    def test_delete_equals_filtered_recomputation(
        self, spark, tmp_path_factory, where
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _normalize_where,
            _where_to_filter,
        )

        root = tmp_path_factory.mktemp("dml_fuzz")
        rows = [(i, i % 4, float(i)) for i in range(36)]
        rows += [(100, 0, float("nan")), (101, 1, None)]
        df = spark.createDataFrame(rows, "id int, pt int, v double")
        mt = ManifestTable(spark, str(root / "t"))
        mt.create(df, ["pt"])
        norm = _normalize_where(where)
        pred = _where_to_filter(norm)
        mt.delete_where(where)
        got = sorted(r.id for r in mt.read().collect())
        want = sorted(
            r.id
            for r in df.filter(~F.coalesce(pred, F.lit(False))).collect()
        )
        assert got == want, (where, got, want)

    @given(
        where=st.lists(_dml_clause(), min_size=1, max_size=2),
        bump=st.sampled_from([1.0, -2.5, 100.0]),
    )
    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    def test_update_equals_case_recomputation(
        self, spark, tmp_path_factory, where, bump
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            _normalize_where,
            _where_to_filter,
        )

        root = tmp_path_factory.mktemp("dml_fuzz_u")
        rows = [(i, i % 4, float(i)) for i in range(36)]
        rows += [(100, 0, float("nan")), (101, 1, None)]
        df = spark.createDataFrame(rows, "id int, pt int, v double")
        mt = ManifestTable(spark, str(root / "t"))
        mt.create(df, ["pt"])
        pred = _where_to_filter(_normalize_where(where))
        mt.update_where(where, set={"v": f"v + {bump}"})

        def canon(frame):
            return sorted(
                (r.id, "NaN" if (r.v is not None and r.v != r.v) else r.v)
                for r in frame.collect()
            )

        want = df.withColumn(
            "v",
            F.when(
                F.coalesce(pred, F.lit(False)), F.col("v") + F.lit(bump)
            ).otherwise(F.col("v")),
        )
        assert canon(mt.read().select("id", "v")) == canon(
            want.select("id", "v")
        ), where

class TestRebaseContractGuard:
    """A concurrent write-contract change (CHECK constraint or derived
    spec) refuses an optimistic rebase: the staged rows were validated
    against the BASE's contracts and the publish path deliberately
    skips the probe (r13 review — acute with optimistic UPDATE)."""

    def test_concurrent_constraint_add_refuses_rebase(
        self, spark, tmp_path
    ):
        from fbg_kafka_stream_file_transfer_spark.operators.table import (
            ConcurrentWriterError,
        )

        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(20)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        ver = mt.current_version()
        d = spark.createDataFrame(
            [(100, 0, 99999.0)], "id int, pt int, v double"
        )
        staged = mt.stage_commit(d, base_version=ver)
        # metadata-only commit: same entry dirs, NEW contract the
        # staged rows were never validated against
        mt.add_check_constraint("v_cap", "v < 1000")
        with pytest.raises(ConcurrentWriterError, match="check_constraints"):
            mt.commit_staged(staged)
        mt.abort_staged(staged)
        assert mt.read().filter("v >= 1000").count() == 0

    def test_optimistic_merge_stamps_merge_op(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(20)],
            "id int, pt int, v double",
        )
        mt = ManifestTable(spark, str(tmp_path / "t"))
        mt.create(df, ["pt"])
        d = spark.createDataFrame(
            [(100, 0, 1.0)], "id int, pt int, v double"
        )
        merge_into_partitioned(
            spark, mt.path, d, ["id"], ["pt"],
            retain_versions=5, optimistic=True,
        )
        op = mt.history()[-1]["op"]
        assert op["name"] == "merge" and op["optimistic"] is True

    def test_op_info_must_be_json(self, spark, tmp_path):
        import datetime as dt

        mt = _mk_table(spark, str(tmp_path / "t"))
        d = spark.createDataFrame(
            [(7, "a", 1.0)], "id int, pt string, v double"
        )
        with pytest.raises(ValueError, match="JSON-serializable"):
            mt.overwrite_partitions(
                d, [("a",)], op_info={"ts": dt.datetime.now()}
            )
        # refused BEFORE any data I/O: version unchanged, no husk
        import glob as _glob

        assert not _glob.glob(f"{mt.path}/_data/g00000004*")

