"""Similarity search over embedding columns (SURVEY §2.h).

- **Brute-force cosine top-k** — exact baseline: broadcast the (small)
  query set against the corpus, rank per query. The corpus side is never
  shuffled; cost is one scan × |queries|, embarrassingly parallel.
- **Random-hyperplane LSH** — the scale path: bucketize every vector by
  the sign pattern of projections onto deterministic pseudo-random
  hyperplanes, then search only within the query's bucket. Hyperplane
  signs come from a fixed arithmetic pattern (seed-free, engine-portable).

All vector math is Catalyst higher-order functions (zip_with/aggregate/
transform) — JVM-side, no Python, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import as_double_array, dot, norm


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail of every top-k variant: rank on the cosine
    rounded to 9 dp with neighbor id as tie-break, emit it rounded to
    6 dp. This rounding contract is load-bearing for oracle parity
    (queries/base.py) — one definition, called from two places: the
    Catalyst core (:func:`_topk`, behind all seven Catalyst search
    paths) and the numpy twin ``brute_force_topk_arrow``.
    Input: (query_id, neighbor_id, _cos)."""
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_cos"), 9).alias("_rank_sim"),
        F.round(F.col("_cos"), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_rank_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hyperplane_sign(dim_index: Column, plane: int) -> Column:
    """Deterministic ±1 sign for (dimension, plane) — the portable stand-in
    for a seeded Gaussian hyperplane.

    NOT a linear form mod 2: parity of a*i + b*j collapses every plane
    onto plane 0 or its negation (a bug this replaced). Instead take a
    middle bit of a spatial-hash mix — the carry propagation in the
    multiply-add decorrelates planes, and only floor/%/± are used so
    the identical arithmetic runs in any engine:
    s = (floor(((i*73856093 + (j+1)*19349663) % 65536) / 256) % 2)*2 - 1.
    """
    h = (dim_index.cast("long") * 73856093 + F.lit((plane + 1) * 19349663)) % 65536
    return (F.floor(h / F.lit(256)) % 2) * 2 - 1


def lsh_bucket(vec: Column, planes: int, plane_offset: int = 0) -> Column:
    """Sign-pattern bucket id in [0, 2^planes).

    ``plane_offset`` selects an independent hyperplane family (planes
    ``offset .. offset+planes-1``) — the multi-table LSH primitive:
    unioning matches across T offset tables lifts pair recall from p to
    1-(1-p)^T without touching any single table's bucket balance."""

    def signed(j: int):
        # closure factory: PySpark infers lambda arity from the signature,
        # so the plane index can't ride along as a default arg
        return lambda x, i: x * hyperplane_sign(i, j)

    bucket = F.lit(0)
    for j in range(planes):
        proj = F.aggregate(
            F.transform(vec, signed(plane_offset + j)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket


def lsh_bucketize(df: DataFrame, id_col: str, vec_col: str, planes: int = 4) -> DataFrame:
    return df.select(
        F.col(id_col),
        lsh_bucket(as_double_array(F.col(vec_col)), planes).alias("bucket"),
    )


def _vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    planes: int | None = None,
) -> DataFrame:
    """The one vector projection of the search paths: ``(vid[, lbl], v
    [, bucket], nrm)`` — ``lbl`` when ``label_col`` is given, the LSH
    ``bucket`` when ``planes`` is. Norms are projected here, below any
    join, so they're computed once per VECTOR, not once per candidate
    pair."""
    cols = [F.col(id_col).alias("vid")]
    if label_col is not None:
        cols.append(F.col(label_col).alias("lbl"))
    vecs = df.select(*cols, as_double_array(F.col(vec_col)).alias("v"))
    if planes is not None:
        vecs = vecs.withColumn("bucket", lsh_bucket(F.col("v"), planes))
    return vecs.withColumn("nrm", norm(F.col("v")))


def _topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    on: str | None = None,
    exclude: str = "vid",
    dedup: bool = False,
) -> DataFrame:
    """The one Catalyst cosine top-k: broadcast ``queries`` against
    ``corpus`` (both ``_vectors``-shaped: ``vid``, ``v``, ``nrm``),
    optionally equi-joined on the block key ``on`` (LSH bucket, IVF
    cell), never pairing rows equal on ``exclude`` (``vid``: self;
    ``lbl``: same label), and rank through :func:`_rank_topk`.
    ``dedup`` drops repeated (query, neighbor) pairs — a query probing
    several cells can meet one neighbor in more than one of them.

    The exclusion sits INSIDE the join predicate, so no post-filter can
    silently shrink k; the cosine is a single zip_with fold per pair,
    aliased once so both roundings read it."""
    q, c = F.broadcast(queries.alias("q")), corpus.alias("c")
    cond = F.col(f"q.{exclude}") != F.col(f"c.{exclude}")
    if on is not None:
        cond = (F.col(f"q.{on}") == F.col(f"c.{on}")) & cond
    cos = dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nrm") * F.col("c.nrm"))
    scored = c.join(q, cond).select(
        F.col("q.vid").alias("query_id"),
        F.col("c.vid").alias("neighbor_id"),
        cos.alias("_cos"),
    )
    if dedup:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, k)


def _vector_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int,
    label_col: str | None = None,
    planes: int | None = None,
) -> DataFrame:
    """The four in-frame search paths: rows matching ``query_filter``
    (over the ``_vectors`` columns) rank against the whole frame,
    excluding same-label rows when ``label_col`` is given (else self)
    and blocked by LSH bucket when ``planes`` is given."""
    if planes is not None:
        from ..sources.tables import ensure_parallelism

        # bucket hashing, norms and the per-candidate dot products are
        # CPU-bound map work; spread a few-split scan (no-op at scale)
        df = ensure_parallelism(df)
    vecs = _vectors(df, id_col, vec_col, label_col, planes)
    return _topk(
        vecs.filter(query_filter),
        vecs,
        k,
        on=None if planes is None else "bucket",
        exclude="vid" if label_col is None else "lbl",
    )


def _lowest_id_centroids(vecs: DataFrame, n_centroids: int) -> DataFrame:
    """The deterministic, training-free IVF quantizer over ``_vectors``
    rows: the ``n_centroids`` lowest-id vectors as a (cid, cv, cnrm)
    table — the shape ``train_kmeans_centroids`` returns, and the rule
    the oracle replicates."""
    return vecs.orderBy("vid").limit(n_centroids).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )


def _with_corpus_centroid(df: DataFrame, vec_col: str) -> DataFrame:
    """``df`` plus the corpus centroid as a ``_centroid`` array column:
    one ``posexplode`` + per-dimension partial aggregation (map-side
    combine, O(dim) groups — a shuffle of dim rows per partition, NOT
    of the corpus), re-assembled in dimension order and BROADCAST back
    through a cross join."""
    dims = df.select(F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "v"))
    cent = dims.groupBy("pos").agg(F.avg("v").alias("c"))
    cent_arr = cent.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("_centroid")
    )
    return df.crossJoin(F.broadcast(cent_arr))


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: rows matching ``query_filter`` are the queries.

    This is the CORRECTNESS BASELINE (pure Catalyst, oracle-mirrored):
    it shuffles all |Q|×N scored pairs into the ranking window. For bulk
    workloads use ``brute_force_topk_arrow`` (same contract, BLAS matmul
    + partition-local top-k — shuffle independent of corpus size) or the
    ANN paths.

    The query side is broadcast (small by construction); ranking uses the
    value rounded to 9 dp with the neighbor id as tie-break so top-k
    membership is deterministic across engines.

    Norms are projected below the join so they're computed once per
    VECTOR, not once per candidate pair; the cosine itself is a single
    zip_with fold per pair, aliased once so both roundings read it.
    """
    return _vector_topk(df, id_col, vec_col, query_filter, k)


def hard_negative_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_filter: Column,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for embedding/retriever training: for each
    query vector, the top-k most-similar vectors with a DIFFERENT
    label — the near-miss negatives contrastive training needs (easy
    random negatives carry no gradient signal).

    Same contract and plan shape as :func:`brute_force_topk` (broadcast
    query side, norms projected below the join, `_rank_topk` rounding),
    with the join predicate swapped to label inequality: same-label rows
    can never appear, so no post-filter can silently shrink k. For bulk
    mining at corpus scale, run per LSH/IVF block first (the ANN paths)
    and apply the label filter inside the block join the same way.
    """
    return _vector_topk(df, id_col, vec_col, query_filter, k, label_col=label_col)


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 3,
    planes: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    At scale this turns the O(|Q|×|corpus|) scan into an equi-join on
    bucket — shuffle on a low-cardinality key; raise ``planes`` to keep
    buckets balanced as the corpus grows (expected bucket size n/2^planes).
    """
    return _vector_topk(df, id_col, vec_col, query_filter, k, planes=planes)


def ann_hard_negative_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_filter: Column,
    k: int = 3,
    planes: int = 4,
) -> DataFrame:
    """The bulk-mining shape of :func:`hard_negative_topk`: candidates
    restricted to the query's LSH bucket with the different-label
    predicate INSIDE the block join — per-bucket work instead of
    |Q|×|corpus|, so mining negatives for every training example (the
    production case: |Q| = |corpus|) stays an equi-join shuffle. The
    trade is ANN recall: a hard negative hashing to another bucket is
    missed, amplifiable with multi-table `plane_offset` families exactly
    like the dedup path."""
    return _vector_topk(
        df, id_col, vec_col, query_filter, k, label_col=label_col, planes=planes
    )


def train_kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iterations: int = 10,
    sample_size: int = 2048,
) -> DataFrame:
    """Deterministic spherical k-means for the IVF coarse quantizer.

    Trains Lloyd's on a deterministic hash-ordered sample: rows are
    taken in ``md5(vid)`` order, so the sample is seed-free and
    replayable yet *representative* — a lowest-id prefix would be a
    biased slice whenever ids correlate with content (time-ordered
    corpora drift), silently degrading centroid quality and IVF recall.
    Init = the ``k`` hash-first vectors, then ``iterations`` rounds of
    assign-to-nearest-by-cosine + renormalized mean. Empty cells keep
    their previous centroid. Returns the same broadcastable
    (cid, cv, cnrm) table shape ``ivf_assign_cells`` builds untrained.

    Raises ``ValueError`` when the corpus has fewer than ``k`` vectors —
    a silent short centroid table would make the requested/actual
    cell-count mismatch invisible downstream.

    Scale: training cost is O(sample_size × k × iterations) in numpy on
    the driver — independent of corpus size; the corpus-wide work stays
    the broadcast assignment join. Raise ``sample_size`` for finer
    centroids, not the corpus scan.
    """
    import numpy as np

    vecs = df.select(F.col(id_col).alias("vid"), as_double_array(F.col(vec_col)).alias("v"))
    rows = (
        vecs.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(sample_size)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"train_kmeans_centroids: corpus sample has {len(rows)} vectors, "
            f"fewer than k={k} centroids requested"
        )
    x = np.array([r.v for r in rows], dtype=np.float64)
    xn = np.linalg.norm(x, axis=1)
    xn[xn == 0] = 1.0
    xu = x / xn[:, None]  # unit vectors: cosine = dot
    cent = xu[:k].copy()
    for _ in range(iterations):
        assign = np.argmax(xu @ cent.T, axis=1)  # ties → lowest cid (argmax)
        for c in range(len(cent)):
            members = xu[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(int(c), [float(v) for v in cent[c]]) for c in range(len(cent))],
        "cid long, cv array<double>",
    )
    return out.withColumn("cnrm", norm(F.col("cv")))


def ivf_assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    n_probe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``n_probe``
    nearest centroid cells (by cosine affinity, centroid id tie-break).

    The default coarse quantizer is training-free and deterministic —
    the ``n_centroids`` lowest-id vectors act as centroids so the oracle
    can replicate cell assignment exactly; pass
    ``centroids=train_kmeans_centroids(...)`` for the trained quantizer
    (same shape: a small broadcast (cid, cv, cnrm) table, better recall
    per probed cell). Precedence: an explicit ``centroids`` table WINS
    and ``n_centroids`` is ignored — the cell count is then
    ``centroids.count()``, whatever the caller requested (same rule in
    ``ivf_topk``/``build_ivf_index``, which just forward the table).
    Scale: centroids broadcast; assignment is a map-side cross join with
    a tiny build side + a per-vector top-n_probe window keyed by vid —
    no all-pairs shuffle.
    """
    vecs = _vectors(df, id_col, vec_col)
    cent = F.broadcast(
        centroids if centroids is not None else _lowest_id_centroids(vecs, n_centroids)
    )
    aff = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    w = Window.partitionBy("vid").orderBy(F.col("_aff").desc(), F.col("cid"))
    return (
        vecs.crossJoin(cent)
        .select("vid", "v", "nrm", "cid", F.round(aff, 9).alias("_aff"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select("vid", "v", "nrm", "cid")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors live in their single
    nearest cell; queries probe their ``n_probe`` nearest cells and rank
    only those cells' members. The second ANN scale path next to
    ``ann_lsh_topk``: the candidate join is an equi-join on cell id, so
    work scales with corpus/n_centroids × n_probe instead of the full
    corpus. ``centroids`` swaps in a trained quantizer
    (``train_kmeans_centroids``) — the oracle path keeps the untrained
    default."""
    corpus = ivf_assign_cells(df, id_col, vec_col, n_centroids, n_probe=1,
                              centroids=centroids)
    probes = ivf_assign_cells(df, id_col, vec_col, n_centroids, n_probe=n_probe,
                              centroids=centroids)
    return _topk(probes.filter(query_filter), corpus, k, on="cid", dedup=True)


def brute_force_topk_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 5,
) -> DataFrame:
    """Numpy-vectorized twin of ``brute_force_topk``: queries are
    collected to a matrix and broadcast; each corpus partition computes
    cos = Q·Xᵀ / (|Q||x|) with one BLAS matmul per Arrow batch and emits
    only its partition-local top-k per query. The global window then
    ranks the union of partition top-ks — correct because the global
    top-k is a subset of it, and shuffle volume is
    O(partitions × queries × k), independent of corpus size.

    ~64 float muls per pair as one matmul instead of an interpreted
    fold; same rounding contract (round 9/6) as the Catalyst twin.
    """
    import numpy as np
    import pandas as pd

    from ..sources.tables import ensure_parallelism

    vecs = df.select(F.col(id_col).alias("vid"), as_double_array(F.col(vec_col)).alias("v"))
    q_rows = vecs.filter(query_filter).collect()  # queries are small by contract
    q_ids = [r.vid for r in q_rows]
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    q_nrm = np.linalg.norm(q_mat, axis=1)

    spark = df.sparkSession
    b = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm))

    id_t = df.schema[id_col].dataType.simpleString()  # generic id types
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, _cos double"

    def part(batches):
        ids, qm, qn = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf["v"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1)
            cos = (qm @ x.T) / (qn[:, None] * xn[None, :])  # |Q| × batch
            vid = list(pdf["vid"])
            rows = {"query_id": [], "neighbor_id": [], "_cos": []}
            top = min(k + 1, cos.shape[1])  # +1: self may rank
            for qi in range(cos.shape[0]):
                row = cos[qi]
                finite = np.isfinite(row)  # zero-norm vectors → NaN: exclude
                if not finite.any():
                    continue
                # select by value threshold, not argpartition membership:
                # keep everything within 2e-9 of the top-th value so the
                # global round-9/id tie-break sees every tied candidate
                vals = row[finite]
                kth = np.partition(vals, max(len(vals) - top, 0))[max(len(vals) - top, 0)]
                keep = np.where(finite & (row >= kth - 2e-9))[0]
                for j in keep:
                    if vid[j] != ids[qi]:
                        rows["query_id"].append(ids[qi])
                        rows["neighbor_id"].append(vid[j])
                        rows["_cos"].append(float(row[j]))
            yield pd.DataFrame(rows)

    cand = ensure_parallelism(vecs).mapInPandas(part, out_schema)
    return _rank_topk(cand, k)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    n_centroids: int = 16,
    trained: bool = True,
    kmeans_iterations: int = 10,
    sample_size: int = 2048,
) -> None:
    """Persist an IVF vector index: a (tiny) centroid table plus the
    corpus as parquet PARTITIONED BY cell id — the IVF twin of
    ``build_ann_index``. ``trained=True`` trains the coarse quantizer
    with ``train_kmeans_centroids`` (stored with the index, so queries
    always use the exact centroids the corpus was partitioned under);
    ``trained=False`` keeps the deterministic lowest-id quantizer.

    100 TB shape: one broadcast-assignment pass over the corpus, one
    partitioned write; queries then touch only their probed cells'
    partitions (static partition pruning — see ``query_ivf_index``).
    """
    if trained:
        cents = train_kmeans_centroids(df, id_col, vec_col, k=n_centroids,
                                       iterations=kmeans_iterations,
                                       sample_size=sample_size)
    else:  # the deterministic lowest-id quantizer, materialized so the
        # SAME table is both stored and used for partitioning (never
        # re-derived separately — the index invariant)
        cents = _lowest_id_centroids(_vectors(df, id_col, vec_col), n_centroids)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cents = df.sparkSession.read.parquet(f"{index_dir}/centroids")
    assigned = ivf_assign_cells(df, id_col, vec_col, n_centroids, n_probe=1,
                                centroids=cents)
    assigned.write.mode("overwrite").partitionBy("cid").parquet(f"{index_dir}/vectors")


def query_ivf_index(
    queries_df: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k neighbors of each query against a persisted IVF index.

    Queries rank against their ``n_probe`` nearest cells only. The
    probed cell ids are collected (queries are small by contract, like
    ``query_ann_index``) and applied as a STATIC ``cid IN (...)``
    filter, so the vectors scan partition-prunes to exactly the probed
    cells — the plan shows ``PartitionFilters: [cid IN ...]``.
    """
    spark = queries_df.sparkSession
    cents = spark.read.parquet(f"{index_dir}/centroids")
    # materialize the probe assignment ONCE (queries are small by
    # contract): the collected rows feed both the static cell filter
    # and the broadcast join side — without this the centroid
    # crossJoin + window would run twice
    assign = ivf_assign_cells(queries_df, id_col, vec_col, n_probe=n_probe, centroids=cents)
    probe_rows = assign.collect()
    probes = spark.createDataFrame(probe_rows, assign.schema)
    cells = sorted({r.cid for r in probe_rows})
    idx = spark.read.parquet(f"{index_dir}/vectors").filter(F.col("cid").isin(cells))
    return _topk(probes, idx, k, on="cid", dedup=True)


#: The small file beside an ANN index's data that records the LSH
#: ``planes`` it was bucketed with (underscore-named: Spark's parquet
#: listing skips it).
_ANN_PLANES_FILE = "_lsh_planes"


def build_ann_index(df: DataFrame, id_col: str, vec_col: str, index_dir: str,
                    planes: int = 8) -> None:
    """Persist an LSH-bucketed vector index: (bucket, vid, v, nrm) parquet
    partitioned by bucket — queries read only their probed buckets
    (partition pruning does the cell selection). ``planes`` is recorded
    beside the data, written after it, so ``query_ann_index`` buckets
    its queries with the same hyperplanes."""
    from .publish import publish_file

    vecs = _vectors(df, id_col, vec_col, planes=planes)
    vecs.write.mode("overwrite").partitionBy("bucket").parquet(index_dir)
    publish_file(df.sparkSession, f"{index_dir}/{_ANN_PLANES_FILE}", str(planes))


def query_ann_index(
    queries_df: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k neighbors of each query vector against a persisted index.

    The query side computes its own bucket, with the ``planes`` the
    index was built with (read from the index), and equi-joins the
    index on it; with the index partitioned by bucket, scans prune to
    the probed cells. Incremental twin of ``ann_lsh_topk`` — the corpus
    lives on disk, queries arrive in batches. An index without its
    recorded planes is refused: bucketing queries with other
    hyperplanes than the corpus silently returns nothing.
    """
    from .table import _read_small_file

    spark = queries_df.sparkSession
    planes = _read_small_file(spark, f"{index_dir}/{_ANN_PLANES_FILE}")
    if planes is None:
        raise ValueError(
            f"{index_dir} does not record the LSH planes it was built with"
            f" ({_ANN_PLANES_FILE}); rebuild it with build_ann_index"
        )
    queries = _vectors(queries_df, id_col, vec_col, planes=int(planes))
    return _topk(queries, spark.read.parquet(index_dir), k, on="bucket")


def centroid_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = -0.2,
    round_dp: int = 4,
) -> DataFrame:
    """Embedding quality gate: cosine of every vector to the corpus
    centroid, with an outlier flag for vectors pointing away from the
    mass (corrupt/degenerate embeddings before they poison an ANN
    index or a semantic-dedup pass).

    Scale shape: one ``posexplode`` + per-dimension partial aggregation
    (map-side combine, O(dim) groups — a shuffle of dim rows per
    partition, NOT of the corpus), the dim-sized centroid re-assembled
    and BROADCAST back, then a pure map-side cosine per row. No
    corpus-sized shuffle anywhere; at 100 TB this is one scan + one
    O(dim) exchange.

    The flag compares the ROUNDED cosine (``round_dp``) so the
    boundary is engine-stable (base.py conventions). The rounded value
    is normalized through ``+ 0.0``: rounding a tiny negative cosine
    yields IEEE ``-0.0``, which some engines/format paths render as
    "-0" and others as "0" — adding positive zero canonicalizes both
    to ``+0.0`` (the mirrored oracle SQL does the same)."""
    out = _with_corpus_centroid(df, vec_col)
    v = as_double_array(F.col(vec_col))
    cos = (
        F.round(
            dot(v, F.col("_centroid")) / (norm(v) * norm(F.col("_centroid"))), round_dp
        )
        + F.lit(0.0)  # -0.0 → +0.0 (see docstring)
    )
    return out.select(
        F.col(id_col),
        cos.alias("cos_centroid"),
        (cos < F.lit(threshold)).alias("is_outlier"),
    )


def semantic_contamination(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eval_filter: Column,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-space eval-set decontamination: for every corpus
    vector, the maximum cosine to ANY benchmark/eval vector, with a
    contamination flag at ``threshold`` — the semantic complement of
    the n-gram/Bloom decontamination passes (paraphrased test questions
    share no 13-gram but sit next to the eval embedding). Rows matching
    ``eval_filter`` form the eval side; everything else is scored.

    Scale shape (100 TB): the eval set is benchmark-sized (thousands),
    so it is BROADCAST and the corpus is scanned once map-side — the
    per-row max is a partial aggregate (map-side combine on the already
    co-located id), no corpus shuffle, no all-pairs materialization.
    Nearest-eval tie-break: highest cosine (9 dp), then lowest eval id
    (via max over a (cos, -id) struct — one combiner-friendly agg
    instead of a window sort).

    Returns ``(id_col, nearest_eval_id, max_cos, contaminated)``.
    """
    vecs = _vectors(df, id_col, vec_col)
    ev = F.broadcast(
        vecs.filter(eval_filter).select(
            F.col("vid").alias("eid"),
            F.col("v").alias("evv"),
            F.col("nrm").alias("enrm"),
        )
    )
    corpus = vecs.filter(~eval_filter)
    cos9 = F.round(
        dot(F.col("v"), F.col("evv")) / (F.col("nrm") * F.col("enrm")), 9
    )
    best = (
        corpus.crossJoin(ev)
        .groupBy(F.col("vid").alias(id_col))
        .agg(
            F.max(
                F.struct(cos9.alias("r9"), (-F.col("eid")).alias("nid"))
            ).alias("b")
        )
    )
    return best.select(
        id_col,
        (-F.col("b.nid")).alias("nearest_eval_id"),
        (F.round(F.col("b.r9"), 6) + F.lit(0.0)).alias("max_cos"),
        (F.col("b.r9") >= threshold).cast("int").alias("contaminated"),
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Sparse all-pairs cosine similarity over TF-IDF term vectors via an
    inverted-index self-join — the sparse/lexical twin of the dense
    embedding paths above, and the classic scalable shape for "find every
    pair of documents that share vocabulary" (all-pairs similarity search
    / DISCO; see PAPERS.md). The reference's pipeline has no lexical
    similarity operator; this is part of the §2.h training-data surface
    (near-dup mining where no embeddings exist yet).

    Algorithm: normalize + tokenize → per-(doc, term) TF → document
    frequency per term → DROP terms with df > ``max_df_frac`` × N (the
    scale guard: stopword-like terms create the quadratic postings
    blowup; capping df bounds candidate pairs by Σ df² ≤ max_df × Σ df,
    linear in corpus size for fixed cap) → TF-IDF weight per posting →
    self-join postings on term with ``doc_a < doc_b`` → one groupBy
    (doc_a, doc_b) accumulates the dot product → join per-doc norms →
    cosine ≥ threshold.

    Cross-engine determinism: the dot product and norms are sums over an
    engine-controlled term order, and double addition is not associative
    — so weights are quantized to DECIMAL(18,6) first and all sums run
    in exact decimal arithmetic (same convention as the money aggregates,
    queries/base.py). The final cosine divides one exact decimal by the
    sqrt of a product of exact decimals — identical IEEE doubles on any
    engine and any partitioning.

    Shuffle structure (100 TB): explode is map-side; two aggregations
    (TF, df) and the pair aggregation are partial-aggregatable; the
    postings self-join shuffles on term (uniform after the df cap — the
    cap IS the skew guard, a term's postings list is at most
    max_df_frac × N). No cartesian, no driver collect.

    Returns ``(doc_a, doc_b, n_shared, cosine_sim)``.
    """
    from ..functions.text import normalized_text

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= F.col("n") * F.lit(max_df_frac))
    )
    # quantized TF-IDF weight: exact decimal from here on
    w = tf.join(F.broadcast(dfreq), "term").select(
        "doc",
        "term",
        F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
        .cast("decimal(18,6)")
        .alias("w"),
    )
    norms = w.groupBy("doc").agg(F.sum(F.col("w") * F.col("w")).alias("s"))
    a = w.select(F.col("doc").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc").alias("doc_b"), "term", F.col("w").alias("wb"))
    pairs = (
        a.join(b, ["term"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    sa = norms.select(F.col("doc").alias("doc_a"), F.col("s").alias("s_a"))
    sb = norms.select(F.col("doc").alias("doc_b"), F.col("s").alias("s_b"))
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("s_a").cast("double") * F.col("s_b").cast("double")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("_r9", F.round(cos, 9))
        .filter(F.col("_r9") >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.round(F.col("_r9"), 6) + F.lit(0.0)).alias("cosine_sim"),
        )
    )


def center_vectors(
    df: DataFrame, id_col: str, vec_col: str, round_dp: int = 6
) -> DataFrame:
    """Mean-center + re-normalize an embedding column — the cheap
    "whitening-lite" pass before cosine ANN: hubness drops and cosine
    contrast improves once the corpus centroid (which every vector
    partially shares) is removed. Same plan family as
    :func:`centroid_outliers`: O(dim) centroid exchange, broadcast
    back, map-side subtract + renormalize; zero-norm results (a vector
    equal to the centroid) yield a NULL unit vector rather than NaNs,
    and NULL input vectors are dropped (run ``profile_embeddings``
    first to count/flag them).

    Output: (id, centered — unit-norm array rounded to ``round_dp``
    per component, each ``+ 0.0``-canonicalized so a tiny negative
    component can't round to IEEE ``-0.0`` on one engine and ``+0.0``
    on the other; centered_norm — the norm of the mean-subtracted
    vector BEFORE re-normalization, rounded).
    """
    from ..sources.tables import ensure_parallelism

    # spread a few-split scan: the subtract/renormalize map pass
    # inherits the scan's partitioning (the broadcast cross join adds
    # no exchange), so a 1-task source would run it on one core
    df = ensure_parallelism(df.filter(F.col(vec_col).isNotNull()))
    out = _with_corpus_centroid(df, vec_col)
    v = as_double_array(F.col(vec_col))
    # STAGED evaluation: inlining `diff`/`dnorm` re-evaluates the O(dim)
    # diff inside norm() AND inside the per-component transform lambda
    # (where dnorm — itself O(dim) — is recomputed per element:
    # O(dim²)/row); lambda-bearing expressions escape codegen
    # subexpression elimination, and CollapseProject keeps these
    # projections apart because each alias is referenced more than
    # once. Measured 1.42 s → 0.66 s over sf0.1 embeddings, results
    # bit-identical.
    staged = out.select(
        F.col(id_col),
        F.zip_with(v, F.col("_centroid"), lambda a, b: a - b).alias("_diff"),
    ).select(F.col(id_col), F.col("_diff"), norm(F.col("_diff")).alias("_dnorm"))
    unit = F.when(
        F.col("_dnorm") > 0,
        F.transform(
            F.col("_diff"),
            lambda x: F.round(x / F.col("_dnorm"), round_dp) + F.lit(0.0),
        ),
    )
    return staged.select(
        F.col(id_col),
        unit.alias("centered"),
        F.round(F.col("_dnorm"), round_dp).alias("centered_norm"),
    )


def group_diversity(
    df: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Mean pairwise cosine similarity WITHIN each label group — the
    diversity/redundancy audit of a clustered or class-labeled corpus
    (a group near 1.0 is near-duplicates wearing different ids; near
    0.0 is healthy spread). The metric that decides whether a cluster
    needs semantic dedup before training.

    The trick that makes it scale: for unit vectors u_i, Σ_{i≠j}
    u_i·u_j = |Σu|² − Σ|u|², so the all-pairs mean needs NO pairwise
    join — just per-(label, dim) component sums. Plan: explode dims
    map-side → ONE partial-aggregating shuffle on (label, dim) →
    per-label fold of the dim sums. O(n·d) work and |labels|·d
    aggregate rows, versus the O(n²) join a literal implementation
    costs; at 100 TB this is the difference between feasible and not.

    Determinism: unit components are IEEE divisions (engine-identical),
    quantized to DECIMAL(18,9); component sums and squared-component
    sums are then EXACT decimals, and only the final closed form runs
    in doubles (profile_correlations treatment). NULL vectors, NULL
    labels, and zero-norm vectors are excluded; groups need n ≥ 2.
    Output: (label, n_vectors, mean_pairwise_cosine round 6, ±0.0
    canonicalized).
    """
    # no scan-spreading repartition: it would ship the full vector
    # array round-robin before the (label, dim) partial-agg exchange
    # (measured +0.25 s at sf0.1)
    v = as_double_array(F.col(vec_col))
    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(label_col).alias("_lab"), v.alias("_v"), norm(v).alias("_nrm"))
    base = base.filter(F.col("_nrm") > 0)
    dims = base.select(
        "_lab",
        F.posexplode(
            F.transform(F.col("_v"), lambda x: x / F.col("_nrm"))
        ).alias("_d", "_uc"),
    )
    q = F.col("_uc").cast("decimal(18,9)")
    per = dims.groupBy("_lab", "_d").agg(
        F.sum(q).alias("_s1"),
        F.sum((q * q).cast("decimal(38,18)")).alias("_s2"),
    )
    s1d = F.col("_s1").cast("double")
    lab = per.groupBy("_lab").agg(
        F.sum((s1d * s1d).cast("decimal(28,10)")).cast("double").alias("_S"),
        F.sum("_s2").cast("double").alias("_T"),
    )
    counts = base.groupBy("_lab").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    nd = F.col("n_vectors").cast("double")
    mean_cos = (F.col("_S") - F.col("_T")) / (nd * (nd - 1.0))
    return (
        lab.join(counts, on="_lab")
        .filter(F.col("n_vectors") >= 2)
        .select(
            F.col("_lab").alias(label_col),
            "n_vectors",
            (F.round(mean_cos, 6) + F.lit(0.0)).alias("mean_pairwise_cosine"),
        )
    )
