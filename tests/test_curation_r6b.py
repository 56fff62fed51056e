"""Round-6 (cont.) curation operators: boilerplate-window removal,
exact-quota stratified sampling, vocabulary coverage curve."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.functions.text import vocab_coverage
from fbg_kafka_stream_file_transfer_spark.operators.dedup import (
    remove_boilerplate_windows,
)
from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
    stratified_sample_exact,
)


class TestBoilerplateRemoval:
    def _corpus(self, spark):
        # 4-token windows; "this is licensed text" is shared boilerplate
        rows = [
            (1, "this is licensed text alpha beta gamma delta"),
            (2, "this is licensed text epsilon zeta eta theta"),
            (3, "iota kappa lambda mu nu xi omicron pi"),
            (4, "this is licensed text"),  # nothing but boilerplate
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_shared_window_removed_unique_kept(self, spark):
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_windows(
                self._corpus(spark), "doc_id", "text", window_tokens=4, min_docs=2
            ).collect()
        }
        assert out[1]["clean_text"] == "alpha beta gamma delta"
        assert out[2]["clean_text"] == "epsilon zeta eta theta"
        assert out[1]["n_windows"] == 2 and out[1]["n_dropped"] == 1
        # untouched doc keeps everything
        assert out[3]["n_dropped"] == 0
        assert out[3]["clean_text"] == "iota kappa lambda mu nu xi omicron pi"

    def test_all_boilerplate_doc_becomes_empty(self, spark):
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_windows(
                self._corpus(spark), "doc_id", "text", window_tokens=4, min_docs=2
            ).collect()
        }
        assert out[4]["clean_text"] == ""
        assert out[4]["dropped_ratio"] == 1.0

    def test_order_preserved_across_dropped_span(self, spark):
        # boilerplate window sits BETWEEN two kept windows
        rows = [
            (1, "aa bb shared shared cc dd"),
            (2, "ee ff shared shared gg hh"),
        ]
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["clean_text"]
            for r in remove_boilerplate_windows(
                d, "doc_id", "text", window_tokens=2, min_docs=2
            ).collect()
        }
        assert out[1] == "aa bb cc dd"
        assert out[2] == "ee ff gg hh"

    def test_validation(self, spark):
        d = self._corpus(spark)
        with pytest.raises(ValueError):
            remove_boilerplate_windows(d, "doc_id", "text", window_tokens=0)
        with pytest.raises(ValueError):
            remove_boilerplate_windows(d, "doc_id", "text", min_docs=1)

    def test_frequent_set_broadcast(self, spark):
        plan = remove_boilerplate_windows(
            self._corpus(spark), "doc_id", "text", window_tokens=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestStratifiedSampleExact:
    def _groups(self, spark):
        rows = [(i, "g%d" % (i % 3)) for i in range(100)]
        return spark.createDataFrame(rows, ["doc_id", "grp"])

    def test_exact_quota_per_group(self, spark):
        d = self._groups(spark)
        sizes = {r["grp"]: r["n"] for r in d.groupBy("grp").agg(
            F.count("*").alias("n")).collect()}
        out = stratified_sample_exact(d, "doc_id", "grp", 0.2)
        got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
            F.count("*").alias("n")).collect()}
        for g, n in sizes.items():
            assert got[g] == math.ceil(round(0.2 * n, 9)), g

    def test_partitioning_independent_membership(self, spark):
        d = self._groups(spark)
        a = sorted(
            r["doc_id"]
            for r in stratified_sample_exact(d, "doc_id", "grp", 0.3).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in stratified_sample_exact(
                d.repartition(17), "doc_id", "grp", 0.3
            ).collect()
        )
        assert a == b

    def test_fraction_one_keeps_everything(self, spark):
        d = self._groups(spark)
        assert stratified_sample_exact(d, "doc_id", "grp", 1.0).count() == 100

    def test_validation(self, spark):
        d = self._groups(spark)
        for bad in (0.0, -0.1, 1.5):
            with pytest.raises(ValueError):
                stratified_sample_exact(d, "doc_id", "grp", bad)


class TestVocabCoverage:
    def _corpus(self, spark):
        rows = [
            (1, "the the the cat sat"),
            (2, "the cat ran far"),
            (3, "dog ran far far"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_ranks_and_cumulative_share(self, spark):
        out = vocab_coverage(self._corpus(spark), "text", top_v=3).collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        assert out[0]["tok"] == "the" and out[0]["cnt"] == 4
        # 13 tokens total: the=4, far=3, then cat/ran tie -> cat by tok asc
        assert out[1]["tok"] == "far"
        assert out[2]["tok"] == "cat"
        shares = [r["cum_share"] for r in out]
        assert shares == sorted(shares)
        assert shares[-1] <= 1.0 + 1e-9
        assert abs(out[0]["cum_share"] - round(4 / 13, 6)) < 1e-9

    def test_topk_not_global_window(self, spark):
        """The vocab ranking must plan as distributed top-k
        (TakeOrderedAndProject), not a single-partition window over the
        whole vocabulary."""
        plan = vocab_coverage(
            self._corpus(spark), "text", top_v=2
        )._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestTokenBudgetWaterfilling:
    def _toks(self, spark, masses):
        rows = [("g%d" % i, m) for i, m in enumerate(masses)]
        return spark.createDataFrame(rows, ["grp", "nt"])

    def test_hand_example(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            allocate_token_budget,
        )

        out = {
            r["grp"]: r
            for r in allocate_token_budget(
                self._toks(spark, [1, 5, 10]), "grp", "nt", 12.0
            ).collect()
        }
        assert out["g2"]["quota"] == 6.0 and out["g2"]["capped"] == 1
        assert out["g0"]["quota"] == 1.0 and out["g0"]["capped"] == 0
        assert out["g1"]["quota"] == 5.0 and out["g1"]["capped"] == 0
        assert out["g2"]["water_level"] == 6.0

    def test_budget_exhausted_exactly_when_capping(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            allocate_token_budget,
        )

        out = allocate_token_budget(
            self._toks(spark, [3, 3, 3, 20, 40]), "grp", "nt", 30.0
        ).collect()
        assert abs(sum(r["quota"] for r in out) - 30.0) < 1e-6

    def test_no_cap_when_budget_covers_total(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            allocate_token_budget,
        )

        out = allocate_token_budget(
            self._toks(spark, [2, 4, 8]), "grp", "nt", 100.0
        ).collect()
        assert all(r["capped"] == 0 for r in out)
        assert all(r["keep_rate"] == 1.0 for r in out)
        assert all(r["water_level"] is None for r in out)

    def test_validation(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            allocate_token_budget,
        )

        with pytest.raises(ValueError):
            allocate_token_budget(self._toks(spark, [1]), "grp", "nt", 0.0)


class TestSemanticContamination:
    def _vecs(self, spark):
        rows = [
            (0, [1.0, 0.0]),   # eval
            (1, [0.0, 1.0]),   # eval
            (10, [2.0, 0.0]),  # cos 1.0 to eval 0
            (11, [1.0, 1.0]),  # cos ~0.707 to both -> nearest eval id 0
            (12, [-1.0, 0.0]), # cos -1 / 0 -> nearest is eval 1 (cos 0)
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_flags_and_nearest(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
            semantic_contamination,
        )

        out = {
            r["vec_id"]: r
            for r in semantic_contamination(
                self._vecs(spark), "vec_id", "embedding",
                F.col("vid") < 10, threshold=0.9,
            ).collect()
        }
        assert set(out) == {10, 11, 12}
        assert out[10]["contaminated"] == 1 and out[10]["nearest_eval_id"] == 0
        assert abs(out[10]["max_cos"] - 1.0) < 1e-9
        assert out[11]["contaminated"] == 0
        assert out[11]["nearest_eval_id"] == 0  # tie -> lowest eval id
        assert out[12]["nearest_eval_id"] == 1
        assert abs(out[12]["max_cos"] - 0.0) < 1e-9  # canonicalized, not -0

    def test_eval_side_broadcast(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
            semantic_contamination,
        )

        plan = semantic_contamination(
            self._vecs(spark), "vec_id", "embedding", F.col("vid") < 10
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

class TestClassifierGate:
    def test_prose_beats_punct_soup(self, spark):
        from fbg_kafka_stream_file_transfer_spark.functions.text import (
            classifier_quality_score,
        )

        rows = [
            (1, "the cat sat on the mat and it is a fine day for all of us"),
            (2, "!!! ??? ... ;;; ((( ))) [[[ ]]] {{{ }}}"),
        ]
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        score, keep = classifier_quality_score(F.col("text"))
        out = {
            r["doc_id"]: r
            for r in d.select("doc_id", score.alias("s"), keep.alias("k")).collect()
        }
        assert out[1]["s"] > out[2]["s"]
        assert out[1]["k"] == 1 and out[2]["k"] == 0
        assert 0.0 <= out[2]["s"] <= out[1]["s"] <= 1.0

    def test_unknown_feature_rejected(self, spark):
        from fbg_kafka_stream_file_transfer_spark.functions.text import (
            classifier_quality_score,
        )

        with pytest.raises(ValueError):
            classifier_quality_score(F.col("text"), weights={"bogus": 1.0})


class TestGlobalSampleExact:
    def test_exact_count_and_partition_independence(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            global_sample_exact,
        )

        d = spark.range(200).select(F.col("id").alias("doc_id"))
        a = global_sample_exact(d, "doc_id", 17)
        assert a.count() == 17
        ids_a = sorted(r["doc_id"] for r in a.collect())
        ids_b = sorted(
            r["doc_id"]
            for r in global_sample_exact(d.repartition(13), "doc_id", 17).collect()
        )
        assert ids_a == ids_b

    def test_distributed_topk_plan(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            global_sample_exact,
        )

        d = spark.range(100).select(F.col("id").alias("doc_id"))
        plan = (
            global_sample_exact(d, "doc_id", 5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan

    def test_validation(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            global_sample_exact,
        )

        d = spark.range(10).select(F.col("id").alias("doc_id"))
        with pytest.raises(ValueError):
            global_sample_exact(d, "doc_id", 0)


class TestPlanShapesR6b:
    """Pin the session's new operators' physical-plan shapes — the
    scale contract: a regression here is an extra corpus shuffle at
    100 TB, not a style issue."""

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_stratified_single_exchange(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            stratified_sample_exact,
        )

        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3)) for i in range(60)], "doc_id long, grp string"
        )
        plan = self._plan(stratified_sample_exact(df, "doc_id", "grp", 0.2))
        # rank + count windows share the group-key partitioning
        assert plan.count("Exchange hashpartitioning") == 1

    def test_waterfilling_one_corpus_exchange(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            allocate_token_budget,
        )

        df = spark.createDataFrame(
            [(i, "g%d" % (i % 4), i % 40) for i in range(100)],
            "doc_id long, grp string, nt long",
        )
        plan = self._plan(allocate_token_budget(df, "grp", "nt", 100.0))
        # exactly one hash exchange touches corpus-sized data (the
        # per-group roll-up); everything after runs on the group frame
        assert plan.count("Exchange hashpartitioning") == 1

    def test_semantic_contamination_partial_agg(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
            semantic_contamination,
        )

        df = spark.createDataFrame(
            [(i, [float(i % 5), 1.0]) for i in range(50)],
            "vec_id long, embedding array<double>",
        )
        plan = self._plan(
            semantic_contamination(df, "vec_id", "embedding", F.col("vid") < 5)
        )
        # eval side broadcast; the corpus-side agg is partial (map-side
        # combine) before its single skinny exchange
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") <= 1


class TestTemperatureMixture:
    """temperature_mixture_rates: alpha-sampling invariants."""

    def _groups(self, spark, sizes):
        rows = [(f"{g}-{i}", g) for g, n in sizes.items() for i in range(n)]
        return spark.createDataFrame(rows, ["doc_id", "lang"])

    def test_alpha_one_is_natural_proportions(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        df = self._groups(spark, {"en": 60, "de": 30, "fr": 10})
        out = {r.lang: r for r in temperature_mixture_rates(df, "lang", 1.0).collect()}
        # q == p, T == N: every group keeps everything
        for r in out.values():
            assert r.sample_rate == 1.0
            assert r.expected_docs == r.n_docs
            assert r.q_temp == r.p_raw

    def test_alpha_zero_is_uniform(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        df = self._groups(spark, {"en": 60, "de": 30, "fr": 10})
        out = {r.lang: r for r in temperature_mixture_rates(df, "lang", 0.0).collect()}
        # uniform targets, bound by the smallest group: 10 docs each
        assert all(r.expected_docs == 10 for r in out.values())
        assert out["fr"].sample_rate == 1.0
        assert out["en"].sample_rate == pytest.approx(10 / 60, abs=1e-6)

    def test_flattening_monotonic_and_no_upsampling(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        df = self._groups(spark, {"en": 80, "de": 15, "fr": 5})
        out = {r.lang: r for r in temperature_mixture_rates(df, "lang", 0.3).collect()}
        # low-resource share boosted, head share shrunk, rates all <= 1
        assert out["fr"].q_temp > out["fr"].p_raw
        assert out["en"].q_temp < out["en"].p_raw
        assert all(r.sample_rate <= 1.0 + 1e-9 for r in out.values())
        assert out["fr"].sample_rate == pytest.approx(1.0, abs=1e-6)

    def test_negative_alpha_rejected(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        with pytest.raises(ValueError):
            temperature_mixture_rates(self._groups(spark, {"en": 1}), "lang", -0.1)


class TestWeightedSample:
    def test_extreme_weight_dominates_and_nonpositive_excluded(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            weighted_sample_topn,
        )

        rows = [(i, 1.0) for i in range(100)] + [(100, 1e9), (101, 0.0), (102, None)]
        df = spark.createDataFrame(rows, "id long, w double")
        out = weighted_sample_topn(df, "id", "w", 5).collect()
        ids = [r.id for r in out]
        # ln(u)/1e9 ≈ 0 beats every unit-weight row's negative rank
        assert ids[0] == 100
        assert 101 not in ids and 102 not in ids
        assert [r.sample_rank for r in out] == [1, 2, 3, 4, 5]

    def test_partition_independence_and_topn_plan(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            weighted_sample_topn,
        )

        rows = [(i, float(1 + i % 7)) for i in range(500)]
        base = spark.createDataFrame(rows, "id long, w double")
        picks = None
        for nparts in (1, 7, 32):
            got = [
                (r.id, r.es_rank)
                for r in weighted_sample_topn(base.repartition(nparts), "id", "w", 20).collect()
            ]
            picks = picks or got
            assert got == picks, nparts
        plan = (
            weighted_sample_topn(base, "id", "w", 20)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan

    def test_validation(self, spark):
        import pytest as _pytest

        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            weighted_sample_topn,
        )

        df = spark.createDataFrame([(1, 1.0)], "id long, w double")
        with _pytest.raises(ValueError):
            weighted_sample_topn(df, "id", "w", 0)


class TestTargetMixture:
    def test_rates_hit_target_and_absent_groups_dropped(self, spark):
        from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
            target_mixture_rates,
        )

        rows = [(f"d{i}", g) for g, n in {"a": 80, "b": 10, "c": 10}.items() for i in range(n)]
        df = spark.createDataFrame(
            [(f"{g}-{i}", g) for g, n in {"a": 80, "b": 10, "c": 10}.items() for i in range(n)],
            ["doc_id", "src"],
        )
        out = {r.src: r for r in target_mixture_rates(df, "src", {"a": 1, "b": 1}).collect()}
        # equal raw weights normalize to 0.5/0.5; b (10 docs) binds: T=20
        assert out["b"].sample_rate == 1.0 and out["b"].expected_docs == 10
        assert out["a"].expected_docs == 10
        assert out["a"].sample_rate == 0.125
        assert out["c"].sample_rate == 0.0 and out["c"].expected_docs == 0

        import pytest as _pytest

        with _pytest.raises(ValueError):
            target_mixture_rates(df, "src", {})
        with _pytest.raises(ValueError):
            target_mixture_rates(df, "src", {"a": -1})


def test_target_mixture_no_targeted_group_all_zero(spark):
    """targets name only groups absent from the data: rates and
    expected counts read 0, never NULL."""
    from fbg_kafka_stream_file_transfer_spark.operators.sampling import (
        target_mixture_rates,
    )

    df = spark.createDataFrame([("d1", "en"), ("d2", "de")], ["doc_id", "lang"])
    out = target_mixture_rates(df, "lang", {"jp": 1.0}).collect()
    assert all(r.sample_rate == 0.0 and r.expected_docs == 0 for r in out)
