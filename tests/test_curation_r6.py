"""Round-6 curation operators: sequence packing, per-group caps,
dedup survivor selection, Bloom membership gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators.decontam import (
    bloom_membership_gate,
)
from fbg_kafka_stream_file_transfer_spark.operators.dedup import (
    dedup_group_representatives,
)
from fbg_kafka_stream_file_transfer_spark.operators.packing import (
    pack_sequences,
    packed_sequence_stats,
)
from fbg_kafka_stream_file_transfer_spark.operators.sampling import cap_per_group


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        # token counts 1..40, deterministic
        ((F.col("id") * 7 + 3) % 40 + 1).cast("bigint").alias("n_toks"),
    )


class TestPackSequences:
    def test_token_conservation(self, spark):
        """Every input token lands in exactly one sequence cell."""
        d = _docs(spark)
        total = d.agg(F.sum("n_toks")).collect()[0][0]
        stats = packed_sequence_stats(d, "doc_id", "n_toks", budget=64, n_shards=4)
        assert stats.agg(F.sum("seq_tokens")).collect()[0][0] == total

    def test_interior_sequences_full(self, spark):
        """All sequences except each shard's last are exactly full."""
        d = _docs(spark)
        stats = packed_sequence_stats(
            d, "doc_id", "n_toks", budget=64, n_shards=4
        ).collect()
        last_per_shard = {}
        for r in stats:
            last_per_shard[r["shard"]] = max(
                last_per_shard.get(r["shard"], -1), r["seq_id"]
            )
        for r in stats:
            if r["seq_id"] < last_per_shard[r["shard"]]:
                assert r["seq_tokens"] == 64, r
                assert abs(r["fill_ratio"] - 1.0) < 1e-9, r

    def test_partitioning_independence(self, spark):
        """The layout is a pure function of the data, not of the input
        partitioning (the reproducible-data-order contract)."""
        d = _docs(spark)
        a = sorted(
            map(tuple, pack_sequences(d, "doc_id", "n_toks", 64, 4).collect())
        )
        b = sorted(
            map(
                tuple,
                pack_sequences(
                    d.repartition(13), "doc_id", "n_toks", 64, 4
                ).collect(),
            )
        )
        assert a == b

    def test_long_doc_spans_many_cells(self, spark):
        """A document longer than the budget is credited to every cell
        it covers — interior cells of a mega-doc still report."""
        d = spark.createDataFrame(
            [(1, 10), (2, 300), (3, 5)], "doc_id long, n_toks long"
        )
        stats = packed_sequence_stats(d, "doc_id", "n_toks", budget=64, n_shards=1)
        rows = {r["seq_id"]: r for r in stats.collect()}
        # 315 tokens => cells 0..4
        assert set(rows) == {0, 1, 2, 3, 4}
        assert sum(r["seq_tokens"] for r in rows.values()) == 315
        # interior cells covered only by the long doc
        for seq in (1, 2, 3):
            assert rows[seq]["n_docs"] == 1
            assert rows[seq]["seq_tokens"] == 64

    def test_seeded_shuffle_reproducible_and_conserving(self, spark):
        """The seeded pre-pack shuffle is a deterministic permutation:
        same seed reproduces the layout bit-for-bit on any partitioning,
        a different seed gives a different layout, and token totals are
        unchanged."""
        d = _docs(spark)
        a = sorted(map(tuple, pack_sequences(d, "doc_id", "n_toks", 64, 4,
                                             shuffle_seed=7).collect()))
        b = sorted(map(tuple, pack_sequences(d.repartition(11), "doc_id",
                                             "n_toks", 64, 4,
                                             shuffle_seed=7).collect()))
        c = sorted(map(tuple, pack_sequences(d, "doc_id", "n_toks", 64, 4,
                                             shuffle_seed=8).collect()))
        plain = sorted(map(tuple, pack_sequences(d, "doc_id", "n_toks",
                                                 64, 4).collect()))
        assert a == b
        assert a != c and a != plain
        total = d.agg(F.sum("n_toks")).collect()[0][0]
        stats = packed_sequence_stats(d, "doc_id", "n_toks", budget=64,
                                      n_shards=4, shuffle_seed=7)
        assert stats.agg(F.sum("seq_tokens")).collect()[0][0] == total

    def test_zero_token_docs_occupy_no_cell(self, spark):
        d = spark.createDataFrame(
            [(1, 0), (2, 10)], "doc_id long, n_toks long"
        )
        stats = packed_sequence_stats(d, "doc_id", "n_toks", budget=64, n_shards=1)
        assert stats.agg(F.sum("seq_tokens")).collect()[0][0] == 10


class TestCapPerGroup:
    def test_cap_enforced_and_top_scores_kept(self, spark):
        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i % 7)) for i in range(60)],
            "doc_id long, grp string, score double",
        )
        out = cap_per_group(df, "doc_id", "grp", F.col("score"), 5).collect()
        by_grp = {}
        for r in out:
            by_grp.setdefault(r["grp"], []).append(r)
        assert all(len(v) == 5 for v in by_grp.values())
        # kept min score >= best dropped score (descending cap)
        full = df.collect()
        for g, kept in by_grp.items():
            kept_ids = {r["doc_id"] for r in kept}
            dropped = [r for r in full if r["grp"] == g and r["doc_id"] not in kept_ids]
            assert min(r["score"] for r in kept) >= max(r["score"] for r in dropped)

    def test_deterministic_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(i, "g", 1.0) for i in range(10)], "doc_id long, grp string, score double"
        )
        out = cap_per_group(df, "doc_id", "grp", F.col("score"), 3)
        assert {r["doc_id"] for r in out.collect()} == {0, 1, 2}


class TestDedupRepresentatives:
    def test_best_member_survives(self, spark):
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma", 0.2),
                (2, "gamma beta alpha", 0.9),  # same fingerprint, better
                (3, "alpha beta gamma", 0.9),  # tie with 2 -> min id wins
                (4, "unique text here", 0.5),  # singleton: excluded
            ],
            "doc_id long, text string, q double",
        )
        out = dedup_group_representatives(df, "doc_id", "text", F.col("q")).collect()
        assert len(out) == 1
        assert out[0]["kept_id"] == 2
        assert out[0]["n_docs"] == 3
        assert out[0]["kept_score"] == 0.9


class TestHardNegatives:
    def test_no_same_label_neighbor(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
            hard_negative_topk,
        )

        rows = [
            (i, i % 3, [float(i % 5), float((i * 7) % 11), 1.0]) for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        out = hard_negative_topk(
            df, "vec_id", "embedding", "label", F.col("vid") < 5, k=4
        ).collect()
        labels = {r["vec_id"]: r["label"] for r in df.collect()}
        for r in out:
            assert labels[r["query_id"]] != labels[r["neighbor_id"]]
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) == 4


class TestUpsampleEpochs:
    def test_exact_multiplicities(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            rate_bucket,
            upsample_epochs,
        )

        df = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
            "doc_id long, grp string",
        )
        out = upsample_epochs(df, "doc_id", "grp", {"a": 2.5, "b": 0.5})
        rows = out.collect()
        # per-doc multiplicity equals floor(e) + (bucket < frac*10000)
        buckets = {
            r["doc_id"]: r["b"]
            for r in df.select("doc_id", rate_bucket(F.col("doc_id")).alias("b")).collect()
        }
        from collections import Counter

        mult = Counter((r["doc_id"]) for r in rows)
        for r in df.collect():
            e = 2.5 if r["grp"] == "a" else 0.5
            expect = int(e) + (1 if buckets[r["doc_id"]] < round((e - int(e)) * 10000) else 0)
            assert mult.get(r["doc_id"], 0) == expect, r
        # copy_idx is a distinct 0..n-1 run per doc
        idx = {}
        for r in rows:
            idx.setdefault(r["doc_id"], []).append(r["copy_idx"])
        for d, ids in idx.items():
            assert sorted(ids) == list(range(len(ids)))

    def test_absent_group_dropped_and_empty_spec(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            upsample_epochs,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, "zz")], "doc_id long, grp string"
        )
        out = upsample_epochs(df, "doc_id", "grp", {"a": 2.0})
        assert {r["doc_id"] for r in out.collect()} == {1}
        assert upsample_epochs(df, "doc_id", "grp", {}).count() == 0


class TestUnigramLogprob:
    def test_common_tokens_score_lower(self, spark):
        from fbg_kafka_stream_file_transfer_spark.functions.text import (
            unigram_logprob_scores,
        )

        rows = [(i, "the the the common words") for i in range(9)]
        rows.append((99, "zyzzyva quixotic ephemeral"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["avg_neg_logprob"] for r in
               unigram_logprob_scores(df, "doc_id", "text").collect()}
        # the repeated boilerplate doc is low-surprise; the rare-token
        # doc is high-surprise
        assert out[0] < out[99]


class TestBloomGate:
    def test_no_false_negatives(self, spark):
        keys = spark.range(500).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        ref = keys.limit(100)
        out = bloom_membership_gate(keys, ref, "k", m=4096, k=4)
        truth = {r["k"] for r in ref.collect()}
        flagged = {r["k"] for r in out.collect() if r["maybe_member"] == 1}
        assert truth <= flagged  # every true member flagged

    def test_false_positive_rate_bounded(self, spark):
        keys = spark.range(2000).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        ref = keys.limit(50)
        out = bloom_membership_gate(keys, ref, "k", m=1 << 16, k=4)
        truth = {r["k"] for r in ref.collect()}
        fp = [r for r in out.collect() if r["maybe_member"] == 1 and r["k"] not in truth]
        # (1 - e^(-200/65536))^4 ~ 8e-11 per key; 0 expected over 1950
        assert len(fp) == 0

    def test_positions_are_broadcast(self, spark):
        """The filter side must broadcast — the candidate corpus never
        shuffles on the bit-position key."""
        keys = spark.range(100).select(F.md5(F.col("id").cast("string")).alias("k"))
        plan = bloom_membership_gate(
            keys, keys.limit(10), "k", m=2048, k=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestBloomGateEdges:
    def test_empty_reference_flags_nothing(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.decontam import (
            bloom_membership_gate,
        )

        keys = spark.range(50).select(F.md5(F.col("id").cast("string")).alias("k"))
        empty_ref = keys.filter(F.lit(False))
        out = bloom_membership_gate(keys, empty_ref, "k", m=1024, k=4)
        assert all(r["maybe_member"] == 0 for r in out.collect())
        assert out.count() == 50


class TestPlanShapes:
    """Pin the r6 operators' physical-plan shapes: these counts ARE the
    scale contract (SCALE.md round-6 section) — a regression here means
    an extra corpus shuffle at 100 TB, not a style issue."""

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_representatives_single_exchange(self, spark):
        df = spark.createDataFrame(
            [(i, f"text {i % 5} body", float(i % 3)) for i in range(50)],
            "doc_id long, text string, q double",
        )
        plan = self._plan(
            dedup_group_representatives(df, "doc_id", "text", F.col("q"))
        )
        assert plan.count("Exchange hashpartitioning") == 1

    def test_cap_single_exchange(self, spark):
        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(50)],
            "doc_id long, grp string, score double",
        )
        plan = self._plan(cap_per_group(df, "doc_id", "grp", F.col("score"), 5))
        assert plan.count("Exchange hashpartitioning") == 1

    def test_pack_stats_bounded_exchanges(self, spark):
        d = _docs(spark)
        plan = self._plan(
            packed_sequence_stats(d, "doc_id", "n_toks", budget=64, n_shards=4)
        )
        # shard window + (shard, seq) agg; AQE may fuse but never exceed
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_bloom_gate_broadcasts_filter(self, spark):
        keys = spark.range(200).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        plan = self._plan(
            bloom_membership_gate(keys, keys.limit(20), "k", m=2048, k=4)
        )
        assert "BroadcastExchange" in plan


class TestProfileCorrelations:
    def test_matches_numpy_and_handles_nulls_and_constants(self, spark):
        import numpy as np

        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            profile_correlations,
        )

        x = [float(i) for i in range(50)]
        y = [2.0 * v + 1.0 for v in x]           # corr exactly 1
        z = [float((i * 17) % 13) for i in range(50)]
        rows = list(zip(x, y, z)) + [(None, 1.0, 2.0)]  # null excluded pairwise
        df = spark.createDataFrame(rows, "x double, y double, z double")
        got = {
            (r.col_a, r.col_b): r for r in profile_correlations(df, ["x", "y", "z"]).collect()
        }
        assert got[("x", "y")].n == 50 and got[("x", "y")].corr == 1.0
        ref = float(np.corrcoef(x, z)[0, 1])
        assert abs(got[("x", "z")].corr - ref) < 1e-6
        assert got[("y", "z")].n == 51  # the null row has both y and z

        const = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "a double, b double")
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            profile_correlations as pc,
        )
        r = pc(const, ["a", "b"]).collect()[0]
        assert r.corr is None  # zero variance → undefined, not NaN/garbage

        import pytest as _pytest

        with _pytest.raises(ValueError):
            pc(const, ["a"])


class TestEquidepthHistogram:
    def test_depths_and_no_global_window(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            equidepth_histogram,
        )

        df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
        out = equidepth_histogram(df, "v", buckets=4)
        rows = {r.bucket: r for r in out.collect()}
        assert sorted(rows) == [0, 1, 2, 3]
        assert [rows[b].n for b in sorted(rows)] == [25, 25, 25, 25]
        assert rows[0].lo == 0.0 and rows[3].hi == 99.0
        # buckets are contiguous, non-overlapping
        for b in (0, 1, 2):
            assert rows[b].hi < rows[b + 1].lo
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Window" not in plan  # boundaries broadcast, never ntile

        import pytest as _pytest

        with _pytest.raises(ValueError):
            equidepth_histogram(df, "v", buckets=1)


class TestClipOutliers:
    def test_clip_bounds_flags_and_nulls(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            clip_outliers,
        )

        vals = [float(i) for i in range(101)]  # 0..100: p01=1, p99=99 exactly
        df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v double")
        out = clip_outliers(df, "v", 0.01, 0.99).collect()
        by_v = {r.v: r for r in out}
        assert by_v[0.0].v_clipped == 1.0 and by_v[0.0].clip_flag == -1
        assert by_v[100.0].v_clipped == 99.0 and by_v[100.0].clip_flag == 1
        assert by_v[50.0].v_clipped == 50.0 and by_v[50.0].clip_flag == 0
        null_rows = [r for r in out if r.v is None]
        assert null_rows[0].v_clipped is None and null_rows[0].clip_flag == 0

        import pytest as _pytest

        with _pytest.raises(ValueError):
            clip_outliers(df, "v", 0.5, 0.5)


class TestPsiDrift:
    def test_identical_distributions_near_zero_and_shift_detected(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import psi_drift

        base = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
        same = spark.createDataFrame([(float(i % 100),) for i in range(500)], "v double")
        shifted = spark.createDataFrame(
            [(float(i % 100) + 60.0,) for i in range(500)], "v double"
        )
        psi_same = sum(r.psi_term for r in psi_drift(base, same, "v").collect())
        psi_shift = sum(r.psi_term for r in psi_drift(base, shifted, "v").collect())
        assert psi_same < 0.01          # stable
        assert psi_shift > 0.25         # rule-of-thumb "shifted"
        # disjoint support stays finite (Laplace smoothing)
        import math
        assert math.isfinite(psi_shift)

        import pytest as _pytest

        with _pytest.raises(ValueError):
            psi_drift(base, same, "v", buckets=1)


class TestKeySkew:
    def test_shares_cumulative_and_null_key(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            profile_key_skew,
        )

        rows = [("a",)] * 6 + [("b",)] * 3 + [(None,)] * 1
        df = spark.createDataFrame(rows, "k string")
        out = profile_key_skew(df, "k", top_n=2).collect()
        assert [(r.key, r.n_rows, r.share, r.cum_share) for r in out] == [
            ("a", 6, 0.6, 0.6),
            ("b", 3, 0.3, 0.9),
        ]
        # NULL keys are profiled, not dropped
        all3 = {r.key: r.n_rows for r in profile_key_skew(df, "k", 3).collect()}
        assert all3["<NULL>"] == 1

        import pytest as _pytest

        with _pytest.raises(ValueError):
            profile_key_skew(df, "k", 0)


class TestCategoricalProfile:
    def test_uniform_vs_skewed_and_nulls(self, spark):
        import math

        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            profile_categorical,
        )

        uniform = spark.createDataFrame(
            [(c,) for c in "abcd" for _ in range(25)], "k string"
        )
        r = profile_categorical(uniform, "k").collect()[0]
        assert r.n_categories == 4 and r.top_share == 0.25
        assert abs(r.entropy_nats - math.log(4)) < 1e-6
        assert abs(r.gini_impurity - 0.75) < 1e-6

        skewed = spark.createDataFrame(
            [("a",)] * 97 + [("b",)] * 2 + [(None,)], "k string"
        )
        r = profile_categorical(skewed, "k").collect()[0]
        assert r.n_categories == 3 and r.top_share == 0.97
        assert r.entropy_nats < 0.2  # near-degenerate distribution


class TestMutualInformation:
    def test_independent_vs_determined(self, spark):
        import math

        from fbg_kafka_stream_file_transfer_spark.operators.profile import (
            profile_mutual_information,
        )

        # independent: every (a, b) combination equally likely
        ind = spark.createDataFrame(
            [(x, y) for x in "ab" for y in "cd" for _ in range(25)],
            "x string, y string",
        )
        r = profile_mutual_information(ind, "x", "y").collect()[0]
        assert r.mi_nats == 0.0 and r.nmi == 0.0
        assert abs(r.entropy_a - math.log(2)) < 1e-6

        # fully determined: b = f(a)
        det = spark.createDataFrame(
            [("a", "c")] * 50 + [("b", "d")] * 50, "x string, y string"
        )
        r = profile_mutual_information(det, "x", "y").collect()[0]
        assert abs(r.mi_nats - math.log(2)) < 1e-6
        assert r.nmi == 1.0
