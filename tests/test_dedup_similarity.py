"""Dedup + similarity operators on hand-built corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from fbg_kafka_stream_file_transfer_spark.operators import dedup, similarity


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different words appear in this unrelated document body text"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    groups = dedup.exact_dedup_groups(_corpus(spark), "doc_id", "text").collect()
    dupes = [g for g in groups if g.n_docs > 1]
    assert len(dupes) == 1 and dupes[0].canonical_id == 1 and dupes[0].n_docs == 2


def test_fingerprint_dedup_ignores_order_and_punct(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World! hello"), (2, "world HELLO")], "doc_id long, text string"
    )
    groups = dedup.fingerprint_dedup_groups(df, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0].n_docs == 2


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = dedup.ngram_jaccard_pairs(_corpus(spark), "doc_id", "text", threshold=0.5).collect()
    got = {(p.doc_a, p.doc_b) for p in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p for p in got)
    exact = [p for p in pairs if (p.doc_a, p.doc_b) == (1, 2)][0]
    assert exact.jaccard == 1.0


def test_minhash_lsh_recall_on_exact_dups(spark):
    cands = dedup.lsh_candidate_pairs(_corpus(spark), "doc_id", "text").collect()
    got = {(p.doc_a, p.doc_b) for p in cands}
    assert (1, 2) in got  # identical docs always share every band
    verified = dedup.minhash_dedup_pairs(_corpus(spark), "doc_id", "text", threshold=0.5)
    vgot = {(p.doc_a, p.doc_b) for p in verified.collect()}
    assert (1, 2) in vgot and not any(4 in p for p in vgot)


def test_simhash_identical_docs_same_signature(spark):
    t = dedup.simhash_table(_corpus(spark), "doc_id", "text").collect()
    sig = {r.doc_id: r.simhash16 for r in t}
    assert sig[1] == sig[2]
    assert 0 <= sig[1] < 2**16
    groups = dedup.simhash_dup_groups(_corpus(spark), "doc_id", "text").collect()
    assert any(g.n_docs >= 2 for g in groups)


def test_duplicate_groups_long_chain_converges_fast(spark):
    """A 100-node path graph — the pathological diameter case for plain
    min-label propagation — must still resolve to ONE component, within
    the O(log d) round budget pointer jumping guarantees (far below the
    max_iterations stop), with lineage checkpointed along the way."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    got = dedup.duplicate_groups(pairs, max_iterations=15, checkpoint_every=3).collect()
    assert len(got) == 101
    assert {r.component for r in got} == {0}


def test_duplicate_groups_string_ids_chain(spark):
    """Non-numeric doc ids (md5/fingerprint-style string keys) must
    converge to ONE component on a 40-node chain. Regression: a
    numeric-sum convergence checksum casts string labels to NULL,
    NULL == NULL ends the loop after round 1, and the operator silently
    returned 32 components; the change-count check is type-agnostic."""
    pairs = spark.createDataFrame(
        [(f"doc-{i:03d}", f"doc-{i + 1:03d}") for i in range(40)],
        "doc_a string, doc_b string",
    )
    got = dedup.duplicate_groups(pairs, max_iterations=15).collect()
    assert len(got) == 41
    assert {r.component for r in got} == {"doc-000"}


def test_duplicate_groups_max_iterations_guard(spark):
    """The hard stop fires instead of looping forever."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_groups(pairs, max_iterations=2)


def test_simhash_arrow_matches_catalyst(spark):
    """The Arrow twin must be bit-identical to the simhash_expr
    definition (the one the DuckDB oracles mirror) — including empty
    text, punctuation-only text, and unicode."""
    docs = _corpus(spark).union(
        spark.createDataFrame(
            # 14/15: Unicode whitespace — Java \s is ASCII-only, so
            # "a\xa0b" is ONE token to Spark; the twin must agree
            [(10, ""), (11, "?!.,"), (12, "héllo wörld héllo"), (13, None),
             (14, "a\xa0b c"), (15, "trailing\xa0 space x")],
            "doc_id long, text string",
        )
    )
    fast = {r.doc_id: r.simhash16
            for r in dedup.simhash_table(docs, "doc_id", "text", arrow=True).collect()}
    slow = {r.doc_id: r.simhash16
            for r in dedup.simhash_table(docs, "doc_id", "text", arrow=False).collect()}
    assert fast == slow


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # near 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),  # near 2
        (4, [-1.0, 0.0, 0.0], 0),  # anti-parallel to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_brute_force_topk(spark):
    out = similarity.brute_force_topk(
        _vectors(spark), "vec_id", "embedding", F.col("vid") == 0, k=2
    ).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_embedding_near_dup_blocked(spark):
    pairs = dedup.embedding_near_dup_pairs(
        _vectors(spark), "vec_id", "embedding", threshold=0.9, block_col="label"
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    assert got == {(0, 1), (2, 3)}  # (0,4) blocked same label but cos=-1


def test_lsh_buckets_deterministic(spark):
    b1 = {r.vec_id: r.bucket for r in
          similarity.lsh_bucketize(_vectors(spark), "vec_id", "embedding").collect()}
    b2 = {r.vec_id: r.bucket for r in
          similarity.lsh_bucketize(_vectors(spark), "vec_id", "embedding").collect()}
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with n_probe=all centroids degrades to exact search within the
    probed space; with modest probes it should still recover most of the
    brute-force top-1 neighbors (sanity recall bound, deterministic)."""
    import pyspark.sql.functions as F

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    flt = F.col("vid") < 5
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, "vec_id", "embedding", flt, k=1).collect()
    }
    approx = ivf_topk(emb, "vec_id", "embedding", flt, k=3, n_centroids=8, n_probe=4)
    rows = approx.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(by_q) == {r[0] for r in exact}  # every query answered
    assert all(len(v) <= 3 for v in by_q.values())
    hits = sum(1 for q, n in exact if n in by_q.get(q, ()))
    assert hits >= len(exact) // 2  # recall sanity with 4/8 cells probed


def test_kmeans_trained_ivf_beats_untrained_on_clustered_corpus(spark):
    """Trained coarse quantizer vs the untrained (lowest-id) default.

    The corpus is 8 well-separated clusters arriving in source-correlated
    id order (blocks per cluster) — realistic, and the worst case for the
    untrained quantizer, whose 8 'centroids' then all come from one
    cluster. Deterministic (fixed LCG jitter, no RNG API): trained
    recall@3 ≥ untrained, and near-perfect. Training itself must be
    replayable (identical centroids across runs)."""
    import numpy as np

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_kmeans_centroids,
    )

    def lcg(seed):
        s = seed
        while True:
            s = (s * 1103515245 + 12345) % (2**31)
            yield s / 2**31 - 0.5

    g = lcg(42)
    centers = np.array(
        [[3.0 if j % 8 == c else 0.0 for j in range(16)] for c in range(8)]
    )
    rows = []
    for i in range(240):
        c = (i // 30) % 8  # block order: first 30 ids are all cluster 0
        v = centers[c] + np.array([next(g) for _ in range(16)])
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    flt = F.col("vid") % 30 == 3  # one query per cluster
    exact = {}
    for r in brute_force_topk(emb, "vec_id", "embedding", flt, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(res):
        by_q = {}
        for r in res:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[q] & by_q.get(q, set())) for q in exact) / sum(
            len(v) for v in exact.values()
        )

    cents = train_kmeans_centroids(emb, "vec_id", "embedding", k=8)
    untrained = recall(
        ivf_topk(emb, "vec_id", "embedding", flt, k=3, n_centroids=8, n_probe=2).collect()
    )
    trained = recall(
        ivf_topk(emb, "vec_id", "embedding", flt, k=3, n_centroids=8, n_probe=2,
                 centroids=cents).collect()
    )
    assert trained >= untrained
    assert trained >= 0.95
    # replayable training: same corpus → identical centroid table
    again = train_kmeans_centroids(emb, "vec_id", "embedding", k=8)
    assert cents.collect() == again.collect()


def test_persisted_ivf_index_matches_inline_and_prunes(spark, tmp_path):
    """build_ivf_index/query_ivf_index: (1) querying the persisted index
    returns exactly what inline ivf_topk returns under the same stored
    centroids; (2) the vectors scan partition-prunes to the probed
    cells (static cid filter visible as PartitionFilters)."""
    import pyspark.sql.functions as F

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx_dir = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", "embedding", idx_dir, n_centroids=8, trained=True)

    queries = emb.filter(F.col("vec_id") < 5)
    out = query_ivf_index(queries, idx_dir, "vec_id", "embedding", k=3, n_probe=2)
    got = {(r.query_id, r.neighbor_id, r.rank) for r in out.collect()}

    stored_cents = spark.read.parquet(f"{idx_dir}/centroids")
    inline = ivf_topk(emb, "vec_id", "embedding", F.col("vid") < 5, k=3,
                      n_centroids=8, n_probe=2, centroids=stored_cents)
    want = {(r.query_id, r.neighbor_id, r.rank) for r in inline.collect()}
    assert got == want and got

    plan = out._jdf.queryExecution().executedPlan().toString()
    # a NON-EMPTY partition filter on cid — "PartitionFilters: []" (no
    # pruning) must fail this, so match the filter content itself
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), f"no cid partition pruning in: {m}"


def test_bruteforce_arrow_matches_catalyst(spark):
    import pyspark.sql.functions as F

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    flt = F.col("vid") < 8
    a = {tuple(r) for r in brute_force_topk(emb, "vec_id", "embedding", flt, k=4).collect()}
    b = {tuple(r) for r in brute_force_topk_arrow(emb, "vec_id", "embedding", flt, k=4).collect()}
    assert a == b


def test_duplicate_groups_transitive(spark):
    """A~B, B~C, D~E ⇒ components {A,B,C} labeled A and {D,E} labeled D —
    including the transitive A-C link no single pair asserts."""
    from fbg_kafka_stream_file_transfer_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 2)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.component for r in duplicate_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_persisted_ann_index(spark, tmp_path):
    """build once, query twice: persisted-index results match the inline
    LSH ANN (same planes) and index scans prune by bucket partition."""
    import pyspark.sql.functions as F

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        ann_lsh_topk,
        build_ann_index,
        query_ann_index,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ann_idx")
    build_ann_index(emb, "vec_id", "embedding", idx, planes=4)

    queries = emb.filter(F.col("vec_id") < 6)
    got = {
        tuple(r)
        for r in query_ann_index(queries, idx, "vec_id", "embedding", k=3).collect()
    }
    inline = {
        tuple(r)
        for r in ann_lsh_topk(emb, "vec_id", "embedding", F.col("vid") < 6, k=3, planes=4).collect()
    }
    assert got == inline


def test_ann_index_queries_with_the_planes_it_was_built_with(spark, tmp_path, sf_dir):
    """An index built with non-default ``planes`` and queried without
    naming them buckets its queries with the index's own hyperplanes:
    the result equals the inline LSH ANN at those planes (it was empty
    when the query side assumed the default). An index that does not
    record its planes is refused with a rebuild instruction."""
    import os

    import pytest

    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        ann_lsh_topk,
        build_ann_index,
        query_ann_index,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ann_idx")
    build_ann_index(emb, "vec_id", "embedding", idx, planes=4)

    got = sorted(
        tuple(r)
        for r in query_ann_index(emb.filter(F.col("vec_id") < 6), idx, "vec_id", "embedding")
        .collect()
    )
    inline = sorted(
        tuple(r)
        for r in ann_lsh_topk(emb, "vec_id", "embedding", F.col("vid") < 6, planes=4).collect()
    )
    assert got == inline and len(got) == 18

    for name in os.listdir(idx):
        if "lsh_planes" in name:
            os.remove(os.path.join(idx, name))
    with pytest.raises(ValueError, match="rebuild it with build_ann_index"):
        query_ann_index(emb, idx, "vec_id", "embedding")


def test_ngram_decontaminate_flags_only_overlapping_docs(spark):
    """A train doc sharing a 5-gram with the eval set is flagged with
    the right hit count; disjoint docs are absent; the eval side is a
    BROADCAST join (the production shape for small benchmark sets)."""
    from fbg_kafka_stream_file_transfer_spark.operators.decontam import (
        ngram_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            # shares the 3 grams of the common 'the quick brown fox
            # jumps over the' run with the eval doc
            (1, "i saw the quick brown fox jumps over the fence"),
            (2, "completely different words in every position here"),
            # short doc (<5 tokens) falls back to whole-text shingle
            (3, "lazy dog"),
        ],
        "doc_id long, text string",
    )
    out = ngram_decontaminate(tr, ev, n=5)
    got = {r.doc_id: r.n_hit_grams for r in out.collect()}
    assert got == {1: 3}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_decontaminate_fallback_caps_common_grams(spark):
    """Non-broadcast fallback with max_eval_doc_freq: a stop-word-heavy
    gram present in (more than cap) eval docs is dropped from the join
    key set — bounding per-gram fan-out — while rare grams still flag
    exactly as on the broadcast path."""
    from fbg_kafka_stream_file_transfer_spark.operators.decontam import (
        ngram_decontaminate,
    )

    common = "to be or not to be that is the question"  # in every eval doc
    ev = spark.createDataFrame(
        [
            (100, common),
            (101, common + " indeed"),
            (102, common + " truly"),
            (103, "rare pangram vexes quick waltzing nymphs badly"),
        ],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "he said to be or not to be that is all"),  # common grams only
            (2, "a rare pangram vexes quick waltzing nymphs badly today"),
            (3, "nothing shared with anything else at all here"),
        ],
        "doc_id long, text string",
    )
    capped = ngram_decontaminate(
        tr, ev, n=5, broadcast_eval=False, max_eval_doc_freq=2
    )
    got = {r.doc_id: r.n_hit_grams for r in capped.collect()}
    # doc 1's hits all came from grams in 3 eval docs (> cap) → dropped;
    # doc 2's rare grams are in exactly 1 eval doc → still flagged
    assert 1 not in got
    assert got[2] >= 1 and 3 not in got
    # without the cap the common-gram doc IS flagged (sanity: the cap,
    # not the fallback join itself, removed it)
    uncapped = ngram_decontaminate(tr, ev, n=5, broadcast_eval=False)
    got_uncapped = {r.doc_id: r.n_hit_grams for r in uncapped.collect()}
    assert 1 in got_uncapped and got_uncapped[2] == got[2]
    # the cap is a filter on the eval-gram set, not a join-strategy knob:
    # the broadcast path must apply it identically (regression — it was
    # silently ignored when broadcast_eval=True)
    capped_bc = ngram_decontaminate(tr, ev, n=5, max_eval_doc_freq=2)
    assert {r.doc_id: r.n_hit_grams for r in capped_bc.collect()} == got


def test_embedding_pairs_arrow_matches_catalyst(spark):
    """The BLAS twin must emit the same pair set and round-6 cosines as
    the Catalyst embedding_near_dup_pairs, including near-threshold
    values, duplicate vectors (cos 1.0), singleton blocks, and a
    zero-norm vector (NaN cosine → excluded by both)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(120):
        v = rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v], int(i % 4)))
    rows.append((120, rows[3][1], 3 % 4))          # exact duplicate of id 3
    rows.append((121, [0.0] * 8, 1))               # zero-norm
    rows.append((122, rows[5][1], 3))              # singleton-block-ish dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    kwargs = dict(threshold=0.2, block_col="label", keep_block=True)
    cat = dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", **kwargs)
    arr = dedup.embedding_near_dup_pairs_arrow(df, "vec_id", "embedding", **kwargs)
    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    got_c = {key(r): r for r in cat.collect()}
    got_a = {key(r): r for r in arr.collect()}
    assert set(got_c) == set(got_a)
    assert len(got_c) > 10  # the threshold actually selects pairs
    assert (3, 120) in got_c and got_c[(3, 120)].cosine_sim == 1.0
    for k_ in got_c:
        assert got_c[k_].cosine_sim == got_a[k_].cosine_sim, k_
        assert got_c[k_].block == got_a[k_].block, k_
    assert not any(r.id_a == 121 or r.id_b == 121 for r in got_a.values())


def test_paragraph_dedup_stats_regex_mode(spark):
    """Real newline-delimited paragraphs: a boilerplate footer shared by
    two docs is flagged in both; unique paragraphs are not; a doc with
    no shared paragraphs scores 0.0. Normalization runs per paragraph,
    so case/punctuation variants of the footer still collide."""
    footer = "Subscribe to our newsletter, for updates!"
    df = spark.createDataFrame(
        [
            (1, "unique first paragraph\n\n" + footer),
            (2, "another unique start\n\n\n" + footer.lower().replace(",", "")),
            (3, "nothing shared here\n\nat all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.paragraph_dedup_stats(df, "doc_id", "text").collect()
    }
    assert got[1].n_paragraphs == 2 and got[1].n_dup_paragraphs == 1
    assert got[1].dup_paragraph_ratio == 0.5
    assert got[2].n_dup_paragraphs == 1
    assert got[3].n_dup_paragraphs == 0 and got[3].dup_paragraph_ratio == 0.0


def test_paragraph_dedup_stats_window_mode_edges(spark):
    """Window mode: every doc appears in the output (even empty text →
    one empty window), intra-doc repetition alone is NOT flagged, and
    window counts follow ceil(tokens/k)."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),      # 7 tokens → 2 windows of k=4
            (2, "a b c d a b c d"),    # intra-doc repeat only
            (3, ""),                   # empty → 1 empty window
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.paragraph_dedup_stats(
            df, "doc_id", "text", window_tokens=4
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1].n_paragraphs == 2
    assert got[2].n_paragraphs == 2
    # docs 1 and 2 share the window "a b c d" → flagged in both;
    # doc 2's second identical window counts too (each instance flags)
    assert got[1].n_dup_paragraphs == 1 and got[2].n_dup_paragraphs == 2
    assert got[3].n_paragraphs == 1 and got[3].n_dup_paragraphs == 0


def test_prefix_dedup_groups(spark):
    """Docs agreeing on the first 10 normalized tokens group together
    regardless of tails; distinct prefixes don't."""
    from fbg_kafka_stream_file_transfer_spark.operators.dedup import (
        prefix_dedup_groups,
    )

    boiler = "subscribe to our newsletter for the latest updates and news"
    df = spark.createDataFrame(
        [
            (1, boiler + " about sports today"),
            (2, boiler.upper() + ", about politics!"),  # normalization folds case/punct
            (3, "entirely original document body with its own ten first words"),
        ],
        "doc_id long, text string",
    )
    out = prefix_dedup_groups(df, "doc_id", "text", k=10).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].doc_ids == "1,2"


def test_centroid_outliers_flags_antipodal_vector(spark):
    """A vector pointing away from a tight cluster is the outlier; the
    cluster members are not. Plan: centroid comes back as a broadcast,
    no corpus-sized shuffle."""
    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        centroid_outliers,
    )

    rows = [(i, [1.0, 0.05 * i, 0.0]) for i in range(1, 9)]
    rows.append((99, [-1.0, -0.2, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = centroid_outliers(df, "vec_id", "embedding", threshold=-0.2)
    got = {r.vec_id: r.is_outlier for r in out.collect()}
    assert got[99] is True
    assert all(not got[i] for i in range(1, 9))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_near_dup_pairs_blocked_by_lsh(spark):
    """Identical/near-identical vectors land in the same LSH bucket and
    pair up; the blocking is real (pairs only within equal buckets — an
    orthogonal far vector produces no pair) and the join is an
    equi-join, not a cross join."""
    from fbg_kafka_stream_file_transfer_spark.operators.dedup import (
        semantic_near_dup_pairs,
    )
    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        lsh_bucket,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [-1.0, 0.0, 0.0, 0.0]),     # antipodal: different bucket
        (4, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    out = semantic_near_dup_pairs(df, "vid", "vec", threshold=0.9, planes=4)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs
    assert all({a, b} <= {1, 2} for a, b in pairs)
    # the reported bucket matches the bucket function itself
    bk = {r.vid: r.b for r in df.select("vid", lsh_bucket(F.col("vec"), 4).alias("b")).collect()}
    for r in out.collect():
        assert r.bucket == bk[r.id_a] == bk[r.id_b]
    # plan: blocked equi-join (SortMerge or BroadcastHash), never cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_profile_embeddings_flags_ragged_and_zero_vectors(spark):
    """Ragged dims show up in n_dims/dim_min/dim_max, zero vectors and
    NULLs are counted — the QA gate an embedding table passes before
    ANN/semantic-dedup runs."""
    from fbg_kafka_stream_file_transfer_spark.operators.profile import (
        profile_embeddings,
    )

    rows = [
        (1, [3.0, 4.0]),        # norm 5
        (2, [0.0, 0.0]),        # zero norm
        (3, [1.0, 0.0, 0.0]),   # ragged: dim 3
        (4, None),              # null vector
    ]
    df = spark.createDataFrame(rows, "vid long, embedding array<double>")
    r = profile_embeddings(df, "embedding").collect()[0]
    assert r.n_vectors == 4 and r.n_null == 1
    assert r.n_dims == 2 and (r.dim_min, r.dim_max) == (2, 3)
    assert r.n_zero_norm == 1
    assert r.norm_min == 0.0 and r.norm_max == 5.0


def test_semantic_multi_table_recall_amplification(spark):
    """n_tables=4 must recover at least as many true near-dup pairs as a
    single table, every reported pair must be a true pair (cos >= t),
    and per-pair rows stay unique after the cross-table union."""
    from fbg_kafka_stream_file_transfer_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_near_dup_pairs,
    )
    from fbg_kafka_stream_file_transfer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    truth = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    one = {
        (r.id_a, r.id_b)
        for r in semantic_near_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    multi_rows = semantic_near_dup_pairs(
        emb, "vec_id", "embedding", 0.4, n_tables=4
    ).collect()
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # no duplicate pair rows
    assert one <= multi <= truth  # amplification, never false positives
    assert truth and len(multi) > len(one)  # actually gains recall here


def test_sparse_cosine_pairs_basic(spark):
    """Identical docs → cosine 1.0; disjoint docs → no pair; the
    inverted-index join is an equi-join on term (no cartesian), and
    the dot/norm sums are decimal-exact (stable under repartition)."""
    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),        # exact dup of 1
        (3, "alpha beta gamma epsilon"),      # 3/4 overlap with 1
        (4, "zeta eta theta iota"),           # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sparse_cosine_pairs(df, "doc_id", "text", threshold=0.1, max_df_frac=1.0)
    got = {(r.doc_a, r.doc_b): r for r in out.collect()}
    assert got[(1, 2)].cosine_sim == 1.0 and got[(1, 2)].n_shared == 4
    assert (1, 3) in got and got[(1, 3)].cosine_sim < 1.0
    assert not any(4 in k for k in got)
    # the only nested-loop shape allowed is the 1-row corpus-count
    # broadcast (n_docs); the postings self-join must be an equi-join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # partition-count independence: exact decimal sums can't drift
    out2 = sparse_cosine_pairs(
        df.repartition(7), "doc_id", "text", threshold=0.1, max_df_frac=1.0
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in out2.collect()}


def test_sparse_cosine_pairs_df_cap_drops_stopwords(spark):
    """A term present in every doc is dropped by the df cap, so docs
    sharing ONLY that term never pair up — the cap is both the stopword
    filter and the postings-blowup guard."""
    from fbg_kafka_stream_file_transfer_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    rows = [
        (1, "the alpha beta"),
        (2, "the alpha beta"),
        (3, "the zeta eta"),
        (4, "the zeta eta"),
        (5, "the only stopword here is the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sparse_cosine_pairs(df, "doc_id", "text", threshold=0.05, max_df_frac=0.5)
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert (1, 2) in got and (3, 4) in got
    # doc 5 shares only the df-capped "the"/"is"/"here" terms → no pairs
    assert not any(5 in k for k in got)


def test_blocked_edit_distance_pairs(spark):
    """Typo-distance pairs found only within a shared token-prefix
    block; oversized blocks dropped by the guard; plan is an equi-join,
    never a cartesian product."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta thetaX"),  # dist 1
        (3, "alpha beta gamma delta epsilon completely different tail"),
        (4, "unrelated words that share no prefix with the others"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.blocked_edit_distance_pairs(
        df, "doc_id", "text", max_dist=2, prefix_tokens=5, window=100
    )
    got = {(r.doc_a, r.doc_b, r.edit_dist) for r in out.collect()}
    assert got == {(1, 2, 1)}  # 1-3 same block but dist>2; 4 other block
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

    # guard: with max_block_size=1 the shared block is dropped entirely
    guarded = dedup.blocked_edit_distance_pairs(
        df, "doc_id", "text", max_dist=2, prefix_tokens=5, max_block_size=1
    )
    assert guarded.count() == 0


def test_containment_pairs_catches_embedded_short_doc(spark):
    """A short doc wholly embedded in a long one: containment ≈ 1 even
    though symmetric Jaccard is low; orientation puts the smaller side
    first."""
    short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])
    out = dedup.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, candidates="prefix"
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.contained_id, r.container_id) == (1, 2)
    assert r.containment == 1.0
    # sanity: the symmetric jaccard path would NOT flag this pair at 0.7
    jac = dedup.minhash_dedup_pairs(df, "doc_id", "text", n=3, threshold=0.7)
    assert jac.count() == 0


def test_center_vectors_unit_norm_and_zero_guard(spark):
    """Centered outputs are unit vectors; a vector equal to the corpus
    centroid yields NULL (undefined direction), never NaN."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.5, 0.5]),  # equals the centroid of the three
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in similarity.center_vectors(df, "vec_id", "embedding").collect()}
    assert out[3].centered is None and out[3].centered_norm == 0.0
    for vid in (1, 2):
        n = sum(x * x for x in out[vid].centered) ** 0.5
        assert abs(n - 1.0) < 1e-5
    # centering flips 1 and 2 to opposite directions
    d = sum(a * b for a, b in zip(out[1].centered, out[2].centered))
    assert d < -0.99
