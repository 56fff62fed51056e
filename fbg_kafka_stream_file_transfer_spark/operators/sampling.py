"""Deterministic sampling and corpus mixing (training-data curation).

`df.sample()` is seed-dependent per partitioning and engine-specific —
useless for the oracle and for reproducible corpus builds. These
operators sample by PORTABLE HASH of a key instead: the same rows are
picked on any engine, any partitioning, any day. That determinism is a
feature, not a test convenience: reproducible training mixtures are the
point.

Scale: pure map-side filters (hash + modulo per row) — no shuffle, no
state; rates are exact in expectation with deviation O(1/sqrt(bucket)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: granularity of sampling rates (1/10000ths)
_BUCKETS = 10000


def rate_bucket(key: Column) -> Column:
    """Uniform bucket in [0, 10000) from the md5 of the key — portable
    (same md5 hex → same bucket in any engine). Public: train/eval
    splits and mixture queries build on the same bucketing so their
    selections stay mutually consistent."""
    # 15 hex digits < 2^60: safe in a long on both engines
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % _BUCKETS


def deterministic_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by key hash (reproducible and
    engine-portable; sampling the same key twice always agrees — so
    joins between samples of different tables on the key still line up).
    """
    # round, not int(): 0.57 * 10000 is 5699.999… in floats and int()
    # would silently shave a bucket off the requested rate
    return df.filter(rate_bucket(F.col(key_col)) < round(rate * _BUCKETS))


def assign_splits(
    df: DataFrame, key_col: str, splits: dict[str, float]
) -> DataFrame:
    """Deterministic train/val/test split assignment: a ``split`` column
    from contiguous hash-bucket ranges (e.g. {'train': .8, 'val': .1,
    'test': .1}). Same key → same split on any engine, any day, any
    partitioning — and consistent with :func:`deterministic_sample` /
    :func:`mix_corpus`, which use the same bucketing, so a sampled
    corpus keeps its split boundaries. Fractions must sum to ≤ 1; any
    remainder is labeled NULL (excluded rows). Map-side only.
    """
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    bucket = rate_bucket(F.col(key_col))
    expr = None
    lo = 0
    for name, frac in splits.items():
        hi = lo + round(frac * _BUCKETS)
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return df.withColumn("split", expr.otherwise(F.lit(None).cast("string")))


def upsample_epochs(
    df: DataFrame, key_col: str, group_col: str, epochs: dict[str, float]
) -> DataFrame:
    """Fractional-epoch corpus weighting (the LLaMA-recipe shape:
    "Wikipedia 2.4 epochs, books 1.1, web 0.6"): each row is repeated
    ``floor(e)`` times, plus one extra copy for the deterministic
    ``frac(e)`` hash-slice of keys — so a group's expected multiplicity
    is exactly its epoch count, membership of the extra copy is
    engine-portable (same ``rate_bucket`` as sampling/splits, mutually
    consistent), and e < 1 degrades to plain deterministic
    downsampling. Groups absent from ``epochs`` are dropped.

    Output adds ``copy_idx`` (0-based) so downstream shuffling/packing
    sees distinct rows. Map-side explode — no shuffle, no rand(); the
    row-count amplification is exactly sum(e_g × |g|), the number a
    training-mixture spec demands.
    """
    if not epochs:
        return df.filter(F.lit(False)).withColumn(
            "copy_idx", F.lit(0).cast("bigint")
        )
    bucket = rate_bucket(F.col(key_col))
    n_copies = None
    for g, e in epochs.items():
        if e < 0:
            raise ValueError(f"epoch count for {g!r} must be >= 0, got {e}")
        whole = int(e)
        frac_buckets = round((e - whole) * _BUCKETS)
        copies = F.lit(whole) + (bucket < frac_buckets).cast("int")
        cond = F.col(group_col) == g
        n_copies = (
            F.when(cond, copies) if n_copies is None else n_copies.when(cond, copies)
        )
    n_copies = n_copies.otherwise(F.lit(0))
    out = df.withColumn("_n_copies", n_copies).filter(F.col("_n_copies") > 0)
    return (
        out.withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("bigint"))
        .drop("_n_copies")
    )


def cap_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    score_col: Column,
    n: int,
) -> DataFrame:
    """Per-group document cap ("docs per domain" rate limiting): keep
    the top ``n`` rows of each group by ``score_col`` (desc), ties
    broken by ``id_col`` asc so membership is deterministic even when
    scores collide (base.py ordering rule — rank on the already-rounded
    score so near-equal doubles can't flip membership across engines).

    The standard curation pass against over-represented sources (one
    crawl domain contributing millions of near-identical pages). Adds a
    ``rank_in_group`` column. One shuffle on the group key; AQE skew
    split covers a pathological mega-group's shuffle read, and upstream
    dedup has already collapsed the worst offenders by the time caps
    run.
    """
    if n <= 0:
        raise ValueError(f"cap must be positive, got {n}")
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        score_col.desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= n)
    )


def mix_corpus(
    df: DataFrame, key_col: str, group_col: str, rates: dict[str, float]
) -> DataFrame:
    """Training-mixture construction: per-group sampling rates (e.g.
    {'en': 1.0, 'zh': 0.5, ...}) applied with the deterministic sampler.
    Groups absent from ``rates`` are dropped. The rate map travels as a
    literal CASE expression — effectively a broadcast lookup, no join.
    """
    if not rates:
        return df.filter(F.lit(False))  # every group absent → drop all
    expr = None
    for g, r in rates.items():
        cond = F.col(group_col) == g
        val = F.lit(round(r * _BUCKETS))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    thresholds = expr.otherwise(F.lit(None).cast("int"))
    return df.filter(rate_bucket(F.col(key_col)) < thresholds)


def stratified_sample_exact(
    df: DataFrame, id_col: str, group_col: str, fraction: float
) -> DataFrame:
    """EXACT-quota stratified sampling: keep ``ceil(fraction * |group|)``
    rows of every group, chosen by portable md5-of-id rank. Where
    :func:`deterministic_sample` is exact only in expectation (each row
    flips its own hash coin), this guarantees the per-stratum sample
    SIZE — the contract an eval-set or ablation-corpus builder needs
    ("exactly 20% of every language, not 20% ± noise") — while staying
    engine-portable and partitioning-independent.

    One shuffle on the group key (rank + count share the partition; a
    mega-stratum sorts in one task, AQE skew split covers the shuffle
    read — same plan family as :func:`cap_per_group`). The quota rounds
    the ``fraction * count`` product to 9 dp before ``ceil`` so binary
    float noise (0.2 × 500 = 100.0000…01) can't inflate the quota by
    one on one engine and not the other.

    Adds ``sample_rank`` (1-based rank within the stratum).
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    from pyspark.sql.window import Window

    key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    cnt = F.count("*").over(Window.partitionBy(group_col))
    quota = F.ceil(F.round(F.lit(fraction) * cnt, 9))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .withColumn("_quota", quota)
        .filter(F.col("sample_rank") <= F.col("_quota"))
        .drop("_quota")
    )


def allocate_token_budget(
    df: DataFrame, group_col: str, tokens_col: str, budget: float
) -> DataFrame:
    """Waterfilling token-budget allocation: given per-row token counts,
    find the unique cap level L such that sum_g min(tokens_g, L) equals
    ``budget``, and hand every group its quota min(tokens_g, L) — the
    mixture-solver pass of "fit a 1T-token training budget across
    sources, capping the over-represented ones first" (the max-min fair
    allocation; small sources keep everything, the largest absorb the
    entire shortfall).

    Closed form, no iteration: with groups sorted by token mass asc,
    the budget consumed if the cap were set AT group i's own mass is
    ``cum_i + tokens_i * (n - i)``; for every group where that crossing
    exceeds the budget, the candidate level ``(budget - cum_{i-1}) /
    (n - i + 1)`` is exact within its own segment and strictly smaller
    beyond it, so L is the MAX over candidates. If total mass fits the
    budget there are no candidates and nothing is capped.

    Scale shape: one shuffle to the per-group roll-up; every window
    after that runs on the GROUP-level frame (one row per source /
    language — thousands at most), so the unpartitioned windows are
    deliberate and cheap, never corpus-wide. Emits one row per group:
    ``(group_col, group_tokens, water_level, quota, keep_rate,
    capped)``; downstream, ``keep_rate`` feeds
    :func:`deterministic_sample` / :func:`mix_corpus` per group.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql.window import Window

    g = df.groupBy(group_col).agg(
        F.sum(tokens_col).cast("double").alias("group_tokens")
    )
    w_ord = Window.orderBy(F.col("group_tokens").asc(), F.col(group_col).asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = g.select(
        group_col,
        "group_tokens",
        F.row_number().over(w_ord).alias("_rn"),
        F.sum("group_tokens").over(w_cum).alias("_cum"),
        F.count("*").over(w_all).alias("_n"),
    )
    used_at = F.col("_cum") + F.col("group_tokens") * (F.col("_n") - F.col("_rn"))
    cand = (F.lit(float(budget)) - (F.col("_cum") - F.col("group_tokens"))) / (
        F.col("_n") - F.col("_rn") + 1
    )
    level = F.max(F.when(used_at >= budget, cand)).over(w_all)
    quota = F.when(level.isNull(), F.col("group_tokens")).otherwise(
        F.least(F.col("group_tokens"), level)
    )
    return (
        ranked.withColumn("_level", level)
        .select(
            group_col,
            F.col("group_tokens"),
            F.round(F.col("_level"), 4).alias("water_level"),
            F.round(quota, 4).alias("quota"),
            F.round(quota / F.col("group_tokens"), 6).alias("keep_rate"),
            (F.col("group_tokens") > quota).cast("int").alias("capped"),
        )
    )


def global_sample_exact(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """Exactly-``n`` corpus-wide sample by portable md5-of-id order —
    the "pull exactly 10k documents for human eval" op. Plans as
    TakeOrderedAndProject (per-partition top-n + driver-side merge of n
    rows): no global sort, no full shuffle, deterministic on any engine
    or partitioning. The trailing rank window runs over only the ``n``
    survivors. Adds ``sample_rank`` (1-based)."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    from pyspark.sql.window import Window

    key = F.md5(F.col(id_col).cast("string"))
    top = (
        df.withColumn("_k", key)
        .orderBy(F.col("_k").asc(), F.col(id_col).asc())
        .limit(n)
    )
    w = Window.orderBy(F.col("_k").asc(), F.col(id_col).asc())
    return top.withColumn("sample_rank", F.row_number().over(w)).drop("_k")


def temperature_mixture_rates(
    df: DataFrame, group_col: str, alpha: float = 0.3
) -> DataFrame:
    """Temperature-scaled mixture rates (the multilingual "alpha
    sampling" recipe: raw group shares p_g are flattened to
    q_g ∝ p_g^alpha, so low-resource groups are boosted without the
    head groups vanishing; alpha=1 keeps natural proportions, alpha=0
    is uniform). The realized corpus size T is the largest achievable
    WITHOUT upsampling — T = min_g(n_g / q_g) — so every group's
    ``sample_rate = q_g·T / n_g`` is ≤ 1 and the binding (most
    boosted) group keeps everything; feed the rates to
    :func:`mix_corpus` to materialize the mixture deterministically.

    Scale shape: one shuffle to the per-group roll-up; all windows run
    unpartitioned on the GROUP-level frame (one row per language /
    source — thousands at most), the same deliberate pattern as
    :func:`allocate_token_budget`, never corpus-wide. Emits one row
    per group: (group_col, n_docs, p_raw, q_temp, sample_rate,
    expected_docs); doubles rounded to 6 dp, the expected count
    floor(round(·,9)) so binary float noise can't move an engine off
    by one (queries.base int-cast rule).
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    g = df.groupBy(group_col).agg(F.count("*").cast("bigint").alias("n_docs"))
    p = F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all)
    scored = g.withColumn("_p", p).withColumn("_pa", F.pow(F.col("_p"), F.lit(float(alpha))))
    q = F.col("_pa") / F.sum("_pa").over(w_all)
    with_q = scored.withColumn("_q", q)
    t_level = F.min(F.col("n_docs") / F.col("_q")).over(w_all)
    rate = F.col("_q") * t_level / F.col("n_docs")
    return with_q.select(
        group_col,
        "n_docs",
        F.round("_p", 6).alias("p_raw"),
        F.round("_q", 6).alias("q_temp"),
        F.round(rate, 6).alias("sample_rate"),
        F.floor(F.round(F.col("_q") * t_level, 9)).cast("bigint").alias("expected_docs"),
    )


def weighted_sample_topn(
    df: DataFrame, id_col: str, weight_col: str, n: int
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets a portable uniform u from the md5 of
    its id and the rank ``ln(u)/w`` — taking the top ``n`` by that rank
    draws a sample where inclusion probability is proportional to
    weight, yet the draw is seed-free, engine-portable, and partition-
    independent (the same determinism contract as every sampler here;
    ln is order-isomorphic to the textbook u^(1/w) and better
    conditioned). The rank is ROUNDED to 12 dp with an id tie-break
    before ordering (queries.base ordering rule), so a cross-engine ulp
    wiggle in ln/÷ can't flip membership.

    Rows with NULL or non-positive weight are excluded (they carry no
    sampling mass). Plans as TakeOrderedAndProject — per-partition
    top-n, no global sort. Adds ``sample_rank`` (1-based) and
    ``es_rank`` (the rounded rank, for auditability).
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    from pyspark.sql.window import Window

    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(float(16**15))
    )
    w = F.col(weight_col).cast("double")
    rank = F.round(F.log(u) / w, 12)
    top = (
        df.filter(w > 0)
        .withColumn("_r", rank)
        .orderBy(F.col("_r").desc(), F.col(id_col).asc())
        .limit(n)
    )
    win = Window.orderBy(F.col("_r").desc(), F.col(id_col).asc())
    return (
        top.withColumn("sample_rank", F.row_number().over(win))
        .withColumn("es_rank", F.round("_r", 6))
        .drop("_r")
    )


def target_mixture_rates(
    df: DataFrame, group_col: str, targets: dict[str, float]
) -> DataFrame:
    """Rebalance to an EXPLICIT target distribution (the general form
    of :func:`temperature_mixture_rates`, whose q comes from a formula):
    given target shares per group (e.g. {'web': .5, 'code': .3,
    'books': .2}), compute per-group keep rates at the largest corpus
    size achievable without upsampling — T = min_g(n_g / q_g) over
    groups with q_g > 0 — so rates are ≤ 1 and the binding group keeps
    everything. Groups absent from ``targets`` (or with target 0) get
    rate 0. Shares are normalized, so callers may pass raw weights.

    Same scale shape as the temperature solver: one roll-up shuffle,
    group-level windows only. Output: (group_col, n_docs, target_share,
    sample_rate, expected_docs).
    """
    if not targets:
        raise ValueError("need at least one target share")
    if any(v < 0 for v in targets.values()):
        raise ValueError("target shares must be >= 0")
    total = sum(targets.values())
    if total <= 0:
        raise ValueError("target shares must sum to > 0")
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    g = df.groupBy(group_col).agg(F.count("*").cast("bigint").alias("n_docs"))
    share = None
    for name, v in targets.items():
        cond = F.col(group_col) == name
        val = F.lit(v / total)
        share = F.when(cond, val) if share is None else share.when(cond, val)
    share = share.otherwise(F.lit(0.0))
    with_q = g.withColumn("_q", share)
    t_level = F.min(
        F.when(F.col("_q") > 0, F.col("n_docs") / F.col("_q"))
    ).over(w_all)
    rate = F.when(F.col("_q") > 0, F.col("_q") * t_level / F.col("n_docs")).otherwise(
        F.lit(0.0)
    )
    return with_q.select(
        group_col,
        "n_docs",
        F.round("_q", 6).alias("target_share"),
        F.round(rate, 6).alias("sample_rate"),
        # coalesce: if NO targeted group exists in the data, t_level is
        # NULL (min over zero matches) — expected counts must read 0
        F.coalesce(
            F.floor(F.round(F.col("_q") * t_level, 9)).cast("bigint"), F.lit(0)
        ).alias("expected_docs"),
    )


def assign_kfold(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: a ``fold``
    column in [0, k) from the same portable md5 bucketing as
    :func:`assign_splits`, so folds are reproducible on any engine and
    mutually consistent with every other hash-keyed selection in this
    module (a key's fold never changes when the corpus is resampled or
    re-partitioned). ``fold = bucket % k`` rather than contiguous
    ranges: every fold then draws uniformly from the WHOLE bucket
    space, so a k-fold split and an :func:`assign_splits` range split
    over the same keys stay statistically independent. Map-side only —
    no shuffle at any scale.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        "fold", (rate_bucket(F.col(key_col)) % k).cast("int")
    )
