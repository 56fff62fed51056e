"""Deduplication operators (SURVEY §2.h extension surface).

Five dedup strategies over a document table, each a pure DataFrame
composition (no Python UDFs):

- **exact** — SHA-256 content hash groupBy. The reference already
  computes SHA-256 per file (docs/goanywhere-config.md:160-165) and its
  deterministic S3 keys give implicit idempotent dedup (ST7); this makes
  it explicit.
- **fingerprint** — md5 over the sorted distinct-token set (order/
  whitespace/punctuation-insensitive exact dedup).
- **n-gram Jaccard** — shingle self-join with exact Jaccard; the
  verification step behind MinHash candidates.
- **MinHash + LSH** — banded min-hash signatures; candidate pairs share
  ≥1 band bucket. Hashing uses md5 hex strings compared
  lexicographically, so results are engine-portable and seed-free.
- **SimHash** — bitwise majority over token hashes; equal signatures →
  near-dup bucket.

Scale notes (100 TB): exact/fingerprint are single-shuffle groupBys on a
hash key — uniformly distributed, no skew. MinHash-LSH shuffles on
(band, bucket); hot buckets (boilerplate docs) are the skew risk — AQE
skew-join handles moderate cases, and `max_bucket_size` hard-caps
pathological ones. The Jaccard self-join is quadratic per shared shingle
and is meant for candidate *verification* (post-LSH) or blocked inputs,
not raw 100 TB corpora.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, normalized_text, shingles_arrow
from ..sources.tables import ensure_parallelism


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups: (content_hash, n_docs, canonical_id).

    No scan-spreading repartition here: the groupBy partial-aggregates
    map-side, so only (hash, count, min) rows cross the exchange — a
    repartition first would ship the full text (measured +0.37 s at
    sf0.1, guide §2.3 aggregate-before-you-shuffle)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def fingerprint_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized-token-set fingerprint groups."""
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("fingerprint"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def prefix_dedup_groups(
    df: DataFrame, id_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Boilerplate-prefix duplicate groups: documents whose first ``k``
    normalized tokens agree (md5 of the token prefix), a standard
    curation pass for template/boilerplate families (mirror pages,
    scraped headers) that exact- and fingerprint-dedup both miss
    because the tails differ.

    Scale: one shuffle on a uniform hash key — the same shape as
    ``exact_dedup_groups``; the prefix hash is map-side Catalyst
    (split + slice + md5, codegen). Returns only groups with ≥2 docs:
    (prefix_hash, n_docs, doc_ids as a sorted comma-joined string)."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    h = F.md5(F.concat_ws(" ", F.slice(toks, 1, k)))
    return (
        df.groupBy(h.alias("prefix_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(id_col)),
                    lambda x: x.cast("string"),
                ),
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def fingerprint_survivors(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One surviving doc id per fingerprint (min id wins)."""
    return (
        fingerprint_dedup_groups(df, id_col, text_col)
        .select(F.col("canonical_id").alias(id_col), "fingerprint")
    )


def dedup_group_representatives(
    df: DataFrame, id_col: str, text_col: str, score_col: Column
) -> DataFrame:
    """Quality-aware survivor selection: for each duplicate group
    (normalized-token fingerprint), keep the HIGHEST-``score_col``
    member instead of the arbitrary min-id — the policy real curation
    pipelines use so dedup never discards the best-formatted copy of a
    page. Ties break on min id; pass an already-rounded score so the
    ordering is engine-stable (queries.base ordering rule).

    Returns one row per group with ≥2 members: (fingerprint, n_docs,
    kept_id, kept_score). Scale: one shuffle on the uniform fingerprint
    hash; the two window functions (count + row_number) share the same
    partitioning, so Catalyst plans a single exchange."""
    from pyspark.sql.window import Window

    fp = fingerprint(F.col(text_col)).alias("fingerprint")
    scored = df.select(F.col(id_col), fp, score_col.alias("_score"))
    w_rank = Window.partitionBy("fingerprint").orderBy(
        F.col("_score").desc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy("fingerprint")
    return (
        scored.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("n_docs", F.count("*").over(w_all))
        .filter((F.col("_rn") == 1) & (F.col("n_docs") > 1))
        .select(
            "fingerprint",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col(id_col).alias("kept_id"),
            F.col("_score").alias("kept_score"),
        )
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # shingling + downstream minhash are CPU-bound map work: spread it
    # over all cores even when the source has few splits
    df = ensure_parallelism(df)
    return df.select(F.col(id_col).alias("doc"), shingles_arrow(F.col(text_col), n).alias("ss"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram shingles, pairs ≥ threshold.

    Shuffle structure: explode → self-equi-join on shingle → groupBy pair.
    Quadratic only within docs sharing a shingle; use after LSH blocking
    at scale.
    """
    # the shingle frame feeds four plan branches (counts ×2 + both join
    # sides) — persist so the Arrow shingling UDF runs once, same
    # treatment (and same LRU-eviction caveat) as minhash_dedup_pairs
    sets = _shingle_sets(df, id_col, text_col, n).persist()
    counts = sets.select("doc", F.size("ss").alias("n_sh"))
    ex = sets.select("doc", F.explode("ss").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca, cb = counts.alias("ca"), counts.alias("cb")
    jac = F.col("inter") / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("inter"))
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc"))
        .join(cb, F.col("doc_b") == F.col("cb.doc"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signature_cols(sh: Column, num_hashes: int) -> list[Column]:
    """MinHash signature as md5-hex minima — portable, deterministic,
    seed-free. sig_j = min over shingles s of md5(j || ':' || s).

    Catalyst form (the semantic definition the oracles mirror); the bulk
    path below computes the same hex strings with hashlib inside the
    shingling UDF — one Arrow pass instead of 12 interpreted folds."""
    return [
        F.array_min(F.transform(sh, lambda s, j=j: F.md5(F.concat(F.lit(f"{j}:"), s)))).alias(
            f"sig_{j}"
        )
        for j in range(num_hashes)
    ]


def _shingle_sigs_arrow(df: DataFrame, id_col: str, text_col: str, n: int,
                        num_hashes: int) -> DataFrame:
    """(doc, ss, sig_0..sig_{k-1}) in ONE Arrow pass: shingle + all
    minhash signatures per document. hashlib.md5 hexdigest is
    bit-identical to Spark/DuckDB md5(), so the signature definition is
    unchanged — only where it's computed."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.text import _PUNCT_RE, _WS_RE

    df = ensure_parallelism(df)
    out_t = T.StructType(
        [T.StructField("ss", T.ArrayType(T.StringType()))]
        + [T.StructField(f"sig_{j}", T.StringType()) for j in range(num_hashes)]
    )
    prefixes = [f"{j}:".encode() for j in range(num_hashes)]

    def f(s):
        md5 = hashlib.md5
        rows = {"ss": []}
        for j in range(num_hashes):
            rows[f"sig_{j}"] = []
        for t in s:
            nt = _WS_RE.sub(" ", _PUNCT_RE.sub("", (t or "").lower())).strip(" ")
            toks = nt.split(" ")
            if len(toks) - (n - 1) <= 0:
                ss = [nt]
            else:
                ss = list(dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                ))
            rows["ss"].append(ss)
            enc = [x.encode() for x in ss]
            for j, p in enumerate(prefixes):
                rows[f"sig_{j}"].append(min(md5(p + e).hexdigest() for e in enc))
        return pd.DataFrame(rows)

    f.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    udf = F.pandas_udf(f, out_t)
    out = df.select(F.col(id_col).alias("doc"), udf(F.col(text_col)).alias("_r"))
    return out.select(
        "doc", F.col("_r.ss").alias("ss"),
        *[F.col(f"_r.sig_{j}").alias(f"sig_{j}") for j in range(num_hashes)],
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing ≥1 band bucket.

    bands=4 × rows=3 over 12 hashes ⇒ pair-capture prob 1-(1-s³)⁴
    (≈0.99 at s=0.9, ≈0.05 at s=0.2). ``max_bucket_size`` drops
    degenerate buckets (boilerplate skew guard) when set.
    ``shingle_sets`` lets callers share an already-computed (doc, ss)
    frame — shingling is the dominant map cost, so pipelines that also
    verify should compute it once.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sets = (
        shingle_sets
        if shingle_sets is not None
        else _shingle_sigs_arrow(df, id_col, text_col, n, num_hashes)
    )
    if "sig_0" in sets.columns:  # signatures precomputed in the Arrow pass
        sig = sets.select("doc", *[f"sig_{j}" for j in range(num_hashes)])
    else:  # plain (doc, ss) frame: fall back to the Catalyst definition
        sig = sets.select("doc", *minhash_signature_cols(F.col("ss"), num_hashes))
    band_hashes = [
        F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]))
        for b in range(bands)
    ]
    buckets = sig.select(
        "doc", F.posexplode(F.array(*band_hashes)).alias("band", "bucket")
    )
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
        buckets = buckets.join(
            sizes.filter(F.col("bsz") <= max_bucket_size), ["band", "bucket"]
        ).drop("bsz")
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard verify.

    This is the scale path: the quadratic verify join runs only on LSH
    candidates, not all pairs. The shingle table feeds three plan
    branches (signatures + both verify sides), so it's persisted —
    shingling is re-evaluated once instead of three times; Spark evicts
    the cache LRU under memory pressure, and at cluster scale callers
    processing far-larger-than-memory corpora should checkpoint the
    shingle table instead.
    """
    sets = _shingle_sigs_arrow(df, id_col, text_col, n, num_hashes).persist()
    cands = lsh_candidate_pairs(
        df, id_col, text_col, n, num_hashes, bands, shingle_sets=sets
    )
    a, b = sets.alias("a"), sets.alias("b")
    joined = (
        cands.join(a, cands.doc_a == F.col("a.doc"))
        .join(b, cands.doc_b == F.col("b.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("a.ss"), F.col("b.ss"))).alias("inter"),
            (F.size("a.ss") + F.size("b.ss")).alias("total"),
        )
    )
    jac = F.col("inter") / (F.col("total") - F.col("inter"))
    return joined.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --- SimHash (portable md5-bit construction) ---

#: contribution of token ``t`` to simhash bit ``b``: ±1 by the b-th bit
#: of md5(t). Pure arithmetic on the hex digit so the identical formula
#: runs in Spark SQL and DuckDB (instr/substring/floor/% are shared).
_CONTRIB_TMPL = (
    "((CAST(floor((instr('0123456789abcdef', substring(md5({t}), {pos}, 1)) - 1) "
    "/ {pw}) AS INTEGER) % 2) * 2 - 1)"
)


def simhash_bit_contrib_sql(token_expr: str, bit: int) -> str:
    """The ±1 contribution formula for one bit — shared Spark/DuckDB text."""
    return _CONTRIB_TMPL.format(t=token_expr, pos=1 + bit // 4, pw=2 ** (3 - bit % 4))


def simhash_expr(toks_col: str, bits: int = 16) -> Column:
    """SimHash over a distinct-token array column, as a single integer.

    bit_b(doc) = 1 iff Σ_tokens contrib_b(t) > 0; ties (sum == 0) → 0.
    Computed with per-bit ``aggregate`` folds over the token array — no
    explode, no shuffle: a pure map-side pass.
    """
    total = None
    for b in range(bits):
        contrib = simhash_bit_contrib_sql("t", b)
        s = F.expr(f"aggregate({toks_col}, 0, (acc, t) -> acc + {contrib})")
        bit = F.when(s > 0, F.lit(1)).otherwise(F.lit(0)) * (2**b)
        total = bit if total is None else total + bit
    return total


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, arrow: bool = True
) -> DataFrame:
    """(id, simhash) per document. ``arrow=True`` (default) computes all
    bits in one vectorized pandas-UDF pass; ``arrow=False`` keeps the
    pure-Catalyst ``simhash_expr`` form (the semantic definition the
    oracles mirror — ``bits`` interpreted HOF folds per row, measured
    the slowest per-byte text op in the round-1 audit)."""
    if not 1 <= bits <= 62:
        # the signature packs into a signed 64-bit long on both paths;
        # bit 62 is the last whose 2^b literal fits (the Catalyst form
        # would overflow its IntegerType literals too)
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    df = ensure_parallelism(df)
    if arrow:
        return df.select(
            F.col(id_col),
            _simhash_arrow_udf(bits)(F.col(text_col)).alias(f"simhash{bits}"),
        )
    toks = F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))
    return df.select(
        F.col(id_col), toks.alias("_toks")
    ).select(id_col, simhash_expr("_toks", bits).alias(f"simhash{bits}"))


def _simhash_arrow_udf(bits: int):
    """Arrow twin of ``simhash_expr`` ∘ tokenize: identical output, one
    pass. Mirrors ``_shingle_sigs_arrow``'s construction — hashlib md5
    hexdigest is bit-identical to Spark/DuckDB ``md5()``, and the ±1
    contribution of token t to bit b is bit ``3 - b%4`` of hex digit
    ``b//4`` (the same arithmetic as ``simhash_bit_contrib_sql``)."""
    import hashlib

    import pandas as pd

    from ..functions.text import _PUNCT_RE, _WS_RE

    ndigits = (bits + 3) // 4

    def f(s):
        md5 = hashlib.md5
        out = []
        for t in s:
            if t is None:
                # parity with the Catalyst form: every per-bit fold is
                # NULL, so when(s>0)·otherwise(0) yields all-zero bits
                out.append(0)
                continue
            nt = _WS_RE.sub(" ", _PUNCT_RE.sub("", t.lower())).strip(" ")
            toks = dict.fromkeys(nt.split(" "))
            ones = [0] * bits
            for tok in toks:
                digits = [int(c, 16) for c in md5(tok.encode()).hexdigest()[:ndigits]]
                for b in range(bits):
                    ones[b] += (digits[b >> 2] >> (3 - (b & 3))) & 1
            n = len(toks)
            # Σ contrib = 2·ones − n; bit set iff the sum is positive
            out.append(sum(1 << b for b in range(bits) if 2 * ones[b] > n))
        return pd.Series(out)

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(f, "long")


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Buckets of docs sharing an identical simhash (near-dup groups)."""
    t = simhash_table(df, id_col, text_col, bits)
    col = f"simhash{bits}"
    return (
        t.groupBy(col)
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
    keep_block: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine ≥ threshold.

    ``block_col`` restricts comparisons to equal blocking keys (cluster /
    LSH bucket / shard) — mandatory at scale to avoid the full cross
    join; the join below is then an equi-join Catalyst shuffles on the
    block key. ``keep_block`` adds the shared block key to the output
    (per-block observability).
    """
    from ..functions.vectors import as_double_array, dot, norm

    v = df.select(
        F.col(id_col).alias("vid"),
        as_double_array(F.col(vec_col)).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("nrm", norm(F.col("v")))  # per-vector, below the join
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    if block_col:
        joined = a.join(b, (F.col("a.blk") == F.col("b.blk")) & cond)
    else:
        joined = a.join(b, cond)
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        joined.select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(cos, 6).alias("cosine_sim"),
            *([F.col("a.blk").alias("block")] if keep_block and block_col else []),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dup_pairs_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str,
    keep_block: bool = False,
    chunk_rows: int = 1024,
) -> DataFrame:
    """BLAS twin of :func:`embedding_near_dup_pairs` — identical output
    (same round-6 threshold contract, rounding applied Catalyst-side
    like ``brute_force_topk_arrow``), built for the in-bucket pair
    volumes blocking actually produces at scale.

    Why it exists: the Catalyst form evaluates the 64-term dot product
    per PAIR as an interpreted ``aggregate``/``zip_with`` fold — the sf1
    stress run (SCALE.md) measured 280 s for ~20 M in-bucket pairs,
    ~120× over linear scaling. Here each block computes its pairwise
    cosine matrix as chunked GEMMs (``chunk_rows × n`` slabs, so peak
    memory is bounded regardless of block size) inside one
    ``applyInPandas`` group — the same work is a few hundred
    milliseconds, and per-pair cost no longer depends on Python or
    expression interpretation.

    Numeric contract: raw float64 cosines leave the UDF with a
    conservative ``threshold - 1e-6`` pre-filter; the authoritative
    ``round(cos, 6) >= threshold`` filter runs in Catalyst, so boundary
    behavior is decided by the same engine the oracle mirrors.

    Scale shape: one shuffle (the groupBy on the block key). Blocks are
    LSH buckets / cluster ids — at real corpus sizes raise ``planes`` /
    ``n_centroids`` so blocks stay ~10³-10⁴ vectors; GEMM slabs keep
    memory at ``chunk_rows × block`` doubles. Local-mode caveat: with
    tiny byte sizes AQE may coalesce the block shuffle to few tasks;
    harmless here precisely because per-pair cost is BLAS, not
    interpreted.
    """
    import numpy as np
    import pandas as pd

    from ..functions.vectors import as_double_array

    id_t = df.schema[id_col].dataType.simpleString()
    blk_t = df.schema[block_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, _cos double, block {blk_t}"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        x = np.array(list(pdf["v"]), dtype=np.float64)
        n = len(x)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": [], "block": []})
        nrm = np.linalg.norm(x, axis=1)
        vid = pdf["vid"].to_numpy()
        blk = pdf["blk"].iloc[0]
        col = np.arange(n)[None, :]
        ia, ib, cs = [], [], []
        for i0 in range(0, n - 1, chunk_rows):
            i1 = min(i0 + chunk_rows, n - 1)
            c = (x[i0:i1] @ x.T) / (nrm[i0:i1, None] * nrm[None, :])
            with np.errstate(invalid="ignore"):  # zero-norm → NaN → False
                mask = (c >= threshold - 1e-6) & (
                    col > np.arange(i0, i1)[:, None]  # upper triangle only
                )
            ri, ci = np.nonzero(mask)
            ia.append(vid[ri + i0])
            ib.append(vid[ci])
            cs.append(c[ri, ci])
        ia, ib, cs = np.concatenate(ia), np.concatenate(ib), np.concatenate(cs)
        return pd.DataFrame(
            {"id_a": ia, "id_b": ib, "_cos": cs, "block": np.repeat(blk, len(ia))}
        )

    v = df.select(
        F.col(id_col).alias("vid"),
        as_double_array(F.col(vec_col)).alias("v"),
        F.col(block_col).alias("blk"),
    )
    return (
        v.groupBy("blk")
        .applyInPandas(pairs, out_schema)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_cos"), 6).alias("cosine_sim"),
            *(["block"] if keep_block else []),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    planes: int = 4,
    n_tables: int = 1,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: near-dup pairs with the blocking
    key derived FROM THE EMBEDDING ITSELF (random-hyperplane LSH bucket)
    instead of an external label or cluster id.

    This is the honest 100 TB form of :func:`embedding_near_dup_pairs`:
    nothing outside the vector column is needed, expected pair work
    drops from n² to ~n²/2^planes (per-bucket), and the only shuffle is
    the equi-join on the bucket key. Cosine-similar vectors agree on
    most hyperplane signs, so true near-dups land in the same bucket
    with high probability; raise ``planes`` for bigger corpora (smaller
    buckets, slightly lower recall) — the same trade as the ANN path,
    and the same deterministic bucket function (similarity.lsh_bucket),
    so a persisted bucket index is shared between dedup and search.

    A single table catches a cos-θ pair with p = (1-θ/π)^planes — fine
    near cos 1.0, lossy at moderate thresholds. ``n_tables`` > 1 unions
    pairs across independent hyperplane families (plane offsets), so
    recall becomes 1-(1-p)^T at T× join cost — the standard multi-table
    LSH amplification; pair dedup across tables is one ``groupBy`` on
    an already-shuffled key. Output keeps, per pair, the MINIMUM bucket
    label across the tables that surfaced it (deterministic, but not
    necessarily the first table's bucket) for per-block observability.

    In-bucket pairs come from the BLAS twin
    (:func:`embedding_near_dup_pairs_arrow`) — same round-6 contract as
    the pure-Catalyst form, ~100× cheaper per pair (measured in the sf1
    stress run, SCALE.md).
    """
    from .similarity import lsh_bucket

    # bucket hashing + in-bucket pair scoring are CPU-bound vector math;
    # spread the scan before fanning out per table
    df = ensure_parallelism(df)
    tables = []
    for t in range(n_tables):
        blocked = df.withColumn(
            "_sem_bucket", lsh_bucket(F.col(vec_col), planes, plane_offset=t * planes)
        )
        tables.append(
            embedding_near_dup_pairs_arrow(
                blocked, id_col, vec_col, threshold, block_col="_sem_bucket",
                keep_block=True,
            ).withColumnRenamed("block", "bucket")
        )
    if n_tables == 1:
        return tables[0]
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    # same pair can surface from several tables; keep one row (min bucket
    # label for determinism)
    return (
        out.groupBy("id_a", "id_b")
        .agg(F.min("cosine_sim").alias("cosine_sim"), F.min("bucket").alias("bucket"))
    )


def duplicate_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 64,
    checkpoint_every: int = 1,
    jumps_per_round: int = 3,
) -> DataFrame:
    """Transitive duplicate groups from near-dup pairs: connected
    components by iterative min-label propagation with POINTER JUMPING
    (A~B, B~C ⇒ one group labeled by its min doc id).

    Each round does (1) a hop — every node takes the min label over its
    neighbors — and (2) ``jumps_per_round`` pointer jumps — labels are
    node ids, so following the label one step (label := label(label))
    compresses paths toward the min; each extra jump is one more
    self-join INSIDE the same Spark job, roughly halving the remaining
    distance again. The hop alone converges in O(diameter) rounds — fine
    for the near-clique components LSH verification emits, but a long
    chain component (diameter d) costs d rounds; with jumping the
    round count drops to O(log d), and stacking several jumps per round
    trades cheap intra-job joins for expensive extra rounds (each round
    = a full job + convergence action; on an iterative driver loop the
    per-round fixed cost, not the data, dominates below cluster scale).

    Convergence is detected WITHOUT a compare-join: the start-of-round
    label rides along as a hidden ``_old`` column, so "did anything
    change this round" is one single-row ``count(label != _old)``
    aggregate on the frame the round already materializes — exact for
    ANY label type (numeric ids, md5/fingerprint strings, ...), unlike
    a numeric-sum checksum which would NULL out on non-numeric ids and
    silently stop after one round.

    Robustness at scale: every ``checkpoint_every`` rounds (default:
    every round) the label frame is ``localCheckpoint``-ed. This is not
    optional hygiene: each jump references the current frame TWICE, so
    the un-truncated logical plan grows by 2^jumps per round and the
    ANALYZER (which walks the tree, persist or not) becomes the
    bottleneck within a few rounds. With one action per round anyway,
    a per-round checkpoint costs nothing extra and keeps analysis O(1)
    per round. ``max_iterations`` is a hard stop (RuntimeError)
    so a logic regression can never loop a cluster forever; 64 rounds of
    even a single jump cover a diameter of ~2^64, i.e. any real graph.

    Returns (doc, component) for every doc appearing in ``pairs``.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    ).distinct().persist()
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).persist()
    materialized = labels

    for rounds in range(1, max_iterations + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        cur = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        for _ in range(jumps_per_round):
            c = cur.alias("c")
            p = cur.select(
                F.col("node").alias("pnode"), F.col("label").alias("plabel")
            ).alias("p")
            cur = c.join(p, F.col("c.label") == F.col("p.pnode"), "left").select(
                F.col("c.node").alias("node"),
                F.col("c._old").alias("_old"),
                F.least(
                    F.col("c.label"), F.coalesce(F.col("p.plabel"), F.col("c.label"))
                ).alias("label"),
            )
        if rounds % checkpoint_every == 0:
            new_materialized = cur.localCheckpoint()  # truncate lineage
        else:
            new_materialized = cur.persist()
        changed = (  # materializes + checks in one action; exact for any type
            new_materialized.agg(
                F.count(F.when(F.col("label") != F.col("_old"), True)).alias("c")
            ).collect()[0]["c"]
        )
        materialized.unpersist()
        materialized = new_materialized
        labels = new_materialized.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_groups did not converge within {max_iterations} rounds"
        )
    edges.unpersist()
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("component"))


def paragraph_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    split_regex: str | None = r"\n{2,}",
    window_tokens: int | None = None,
) -> DataFrame:
    """Paragraph-granularity dedup roll-up — the standard next step after
    document-level dedup for training data (CCNet dedups lines, Dolma
    paragraphs): fingerprint every paragraph, flag paragraphs that occur
    in MORE THAN ONE document, and roll back up to one row per document
    with its duplicated-paragraph fraction (the drop/trim signal).

    Paragraph definition is caller-chosen:

    - ``split_regex`` (default ``\\n{2,}``) — real paragraph breaks;
      each paragraph is normalized (lower/strip-punct/collapse-ws) after
      the split, since normalization itself collapses newlines.
    - ``window_tokens=k`` — non-overlapping k-token windows over the
      normalized document, for corpora without newline structure (the
      synthetic fixture) or as a fixed-granularity "pseudo-paragraph"
      pass; the last window may be short, and an empty document yields
      one empty window so every input doc appears in the output.

    Scale shape (100 TB): the explode is map-side; duplicate detection
    is a window over ``fp`` (md5 — uniform key, no skew) using
    ``size(collect_set(doc))`` (per-group state is a handful of doc ids
    for real duplication levels); the roll-up is one groupBy on the doc
    id. Two shuffles total, both on uniform keys, nothing quadratic —
    same plan family as :func:`prefix_dedup_groups` plus one roll-up.
    Within-document repeats are deliberately NOT flagged (cross-doc
    contamination is the dedup signal; intra-doc repetition is a
    quality signal, see ``functions.text.repetition_ratio``).

    Returns ``(id_col, n_paragraphs, n_dup_paragraphs,
    dup_paragraph_ratio)``.
    """
    from pyspark.sql import Window

    if window_tokens is not None:
        toks = F.split(normalized_text(F.col(text_col)), " ")
        k = window_tokens
        n_win = F.greatest(F.ceil(F.size(toks) / F.lit(k)), F.lit(1)).cast("int")
        paras = F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, (i * k + 1).cast("int"), k)),
        )
    else:
        paras = F.transform(
            F.split(F.col(text_col), split_regex), lambda p: normalized_text(p)
        )
    ex = df.select(
        F.col(id_col).alias("_doc"), F.explode(paras).alias("_para")
    ).select("_doc", F.md5(F.col("_para")).alias("_fp"))
    ndocs = F.size(F.collect_set("_doc").over(Window.partitionBy("_fp")))
    dup = F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
    return (
        ex.withColumn("_ndocs", ndocs)
        .groupBy(F.col("_doc").alias(id_col))
        .agg(
            F.count("*").alias("n_paragraphs"),
            dup.alias("n_dup_paragraphs"),
        )
        .withColumn(
            "dup_paragraph_ratio",
            F.round(F.col("n_dup_paragraphs") / F.col("n_paragraphs"), 4),
        )
    )


def remove_boilerplate_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate REMOVAL (CCNet line-dedup / RefinedWeb-style): unlike
    :func:`paragraph_dedup_stats`, which only *reports* a document's
    duplicated-span fraction, this pass REWRITES the text — every
    k-token window of the normalized document whose fingerprint occurs
    in at least ``min_docs`` distinct documents is dropped, and the
    surviving windows are re-joined in original order. This is the
    corpus-level "remove the cookie banner / nav bar / license header
    from every page" operator of a web-scale training pipeline; spans
    are k-token windows because the synthetic fixture (and plenty of
    real corpora) has no newline structure — callers with real lines
    should pre-split and use a line-granularity fingerprint instead.

    Scale shape (100 TB): the window explode is map-side; the frequent
    set is the HEAVY-HITTER set (spans repeated across >= min_docs
    docs), orders of magnitude smaller than the corpus, so it is
    broadcast. One pass: explode windows, broadcast-mark frequent
    ones, re-assemble per doc. The reassembly shuffle moves the window
    STRINGS; window construction is the dominant cost and runs once.

    Returns ``(id_col, clean_text, n_windows, n_dropped,
    dropped_ratio)``; ``clean_text`` is ``''`` when every window was
    boilerplate, so downstream length filters drop the husk.
    """
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # window construction (normalize/split/slice/md5) dominates and is
    # pure map work — and the `ex` subtree below is evaluated twice
    # (frequent-set agg + mark join), so a few-split source would pin
    # BOTH passes to one core; no-op when the scan is already parallel
    df = ensure_parallelism(df)
    toks = F.split(normalized_text(F.col(text_col)), " ")
    k = window_tokens
    n_win = F.greatest(F.ceil(F.size(toks) / F.lit(k)), F.lit(1)).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, (i * k + 1).cast("int"), k)),
    )
    ex = df.select(
        F.col(id_col).alias("_doc"), F.posexplode(wins).alias("_pos", "_win")
    ).withColumn("_fp", F.md5(F.col("_win")))
    freq = (
        ex.groupBy("_fp")
        .agg(F.countDistinct("_doc").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_fp", F.lit(1).alias("_dup"))
    )
    marked = ex.join(F.broadcast(freq), "_fp", "left")
    kept = F.when(F.col("_dup").isNull(), F.struct(F.col("_pos"), F.col("_win")))
    return (
        marked.groupBy(F.col("_doc").alias(id_col))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["_win"]
                ),
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_windows"),
            F.coalesce(
                F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_dropped"),
        )
        .withColumn(
            "dropped_ratio", F.round(F.col("n_dropped") / F.col("n_windows"), 4)
        )
    )


def blocked_edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 40,
    prefix_tokens: int = 5,
    window: int = 200,
    max_block_size: int | None = None,
) -> DataFrame:
    """Fuzzy near-dup pairs under bounded Levenshtein distance, with
    token-prefix blocking — the record-linkage complement to the
    set-based families above: Jaccard/MinHash see *token overlap* and
    miss small in-place edits that reorder nothing, while edit distance
    sees *sequence* changes (typo families, template fills, OCR noise).

    Scale shape (100 TB): a full-corpus Levenshtein self-join is doubly
    infeasible — O(n²) pairs, O(len²) per pair — so both axes are
    bounded. Pairs: docs are blocked on the md5 of their first
    ``prefix_tokens`` normalized tokens (the `prefix_dedup_groups`
    key), one equi-join shuffle, candidate work quadratic only within a
    block, and ``max_block_size`` hard-caps degenerate boilerplate
    blocks exactly like the LSH ``max_bucket_size`` guard. Cost per
    pair: the distance is computed on the first ``window`` chars of the
    normalized text (a bounded compare window, the standard blocking-
    era trick), keeping each comparison O(window²) regardless of
    document length — and column pruning means only the truncated
    window ever enters the shuffle, not the document payload.

    Recall contract (documented, standard for prefix blocking): pairs
    whose edits fall inside the first ``prefix_tokens`` tokens land in
    different blocks and are missed; run alongside the LSH family,
    which has no positional blind spot, for combined coverage.

    Returns (doc_a, doc_b, edit_dist, block); a doc has exactly one
    block, so pairs are unique by construction — no ``distinct``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    nt = normalized_text(F.col(text_col))
    toks = F.split(nt, " ")
    sides = df.select(
        F.col(id_col).alias("doc"),
        F.substring(nt, 1, window).alias("_t"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_tokens))).alias("block"),
    )
    if max_block_size is not None:
        sizes = sides.groupBy("block").agg(F.count("*").alias("bsz"))
        sides = sides.join(
            sizes.filter(F.col("bsz") <= max_block_size), "block"
        ).drop("bsz")
    a, b = sides.alias("a"), sides.alias("b")
    dist = F.levenshtein(F.col("a._t"), F.col("b._t"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
            F.col("a.block").alias("block"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 4,
    candidates: str = "lsh",
    prefix_tokens: int = 5,
    max_block_size: int | None = 100,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    |A∩B| / |A| — the measure symmetric Jaccard structurally misses:
    a short document wholly embedded in a long one (quote farms,
    aggregator pages wrapping a source article) has low Jaccard but
    containment ≈ 1 of the short side.

    Candidates come from the same MinHash-LSH banding as the Jaccard
    verify path (shared shingle pass), so the recall caveat is honest
    and documented: banding probability tracks JACCARD, so containment
    pairs with very unequal sizes may not share a band — for strict
    superset hunting pass ``candidates="prefix"``. Prefix mode emits,
    per doc, one block key for EVERY prefix length 1..min(
    ``prefix_tokens``, its own token count), so a contained doc
    shorter than ``prefix_tokens`` still meets its container at the
    contained doc's full length; prefix-aligned pairs are therefore
    guaranteed candidates unless their block is dropped by
    ``max_block_size`` (the same boilerplate skew guard as
    `blocked_edit_distance_pairs` — short common prefixes like a
    1-token block are exactly where it bites, by design). Emitted
    pairs are oriented: (contained_id, container_id, containment)
    with containment of the SMALLER side.
    """
    if candidates not in ("lsh", "prefix"):
        raise ValueError(f"candidates must be 'lsh' or 'prefix', got {candidates!r}")
    if candidates == "lsh":
        sets = _shingle_sigs_arrow(df, id_col, text_col, n, num_hashes).persist()
        cands = lsh_candidate_pairs(
            df, id_col, text_col, n, num_hashes, bands, shingle_sets=sets
        )
    else:
        # prefix mode never reads minhash signatures — shingle-only pass
        sets = _shingle_sets(df, id_col, text_col, n).persist()
        toks = F.split(normalized_text(F.col(text_col)), " ")
        lengths = F.sequence(
            F.lit(1), F.least(F.lit(prefix_tokens), F.size(toks))
        )
        blocked = df.select(
            F.col(id_col).alias("doc"),
            F.explode(lengths).alias("_j"),
            toks.alias("_toks"),
        ).select(
            "doc",
            F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), 1, F.col("_j")))).alias(
                "block"
            ),
        )
        if max_block_size is not None:
            sizes = blocked.groupBy("block").agg(F.count("*").alias("bsz"))
            blocked = blocked.join(
                sizes.filter(F.col("bsz") <= max_block_size), "block"
            ).drop("bsz")
        pa, pb = blocked.alias("pa"), blocked.alias("pb")
        cands = (
            pa.join(
                pb,
                (F.col("pa.block") == F.col("pb.block"))
                & (F.col("pa.doc") < F.col("pb.doc")),
            )
            .select(F.col("pa.doc").alias("doc_a"), F.col("pb.doc").alias("doc_b"))
            .distinct()  # a pair may share several prefix lengths
        )
    a, b = sets.alias("a"), sets.alias("b")
    joined = (
        cands.join(a, cands.doc_a == F.col("a.doc"))
        .join(b, cands.doc_b == F.col("b.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("a.ss"), F.col("b.ss"))).alias("inter"),
            F.size("a.ss").alias("na"),
            F.size("b.ss").alias("nb"),
        )
    )
    small_first = F.col("na") <= F.col("nb")
    contained = F.when(small_first, F.col("doc_a")).otherwise(F.col("doc_b"))
    container = F.when(small_first, F.col("doc_b")).otherwise(F.col("doc_a"))
    denom = F.least(F.col("na"), F.col("nb"))
    cont = F.col("inter") / denom
    return (
        joined.filter(denom > 0)
        .filter(cont >= threshold)
        .select(
            contained.alias("contained_id"),
            container.alias("container_id"),
            F.round(cont, 6).alias("containment"),
        )
    )
