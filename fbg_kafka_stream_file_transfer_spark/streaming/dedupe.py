"""Streaming duplicate suppression (ST7).

The reference gets idempotence implicitly: at-least-once JMS delivery +
deterministic S3 keys mean a redelivered message overwrites its own
output (file-pipeline.yaml:80 — key = date/correlationId/fileName). The
engine makes both halves explicit:

- deterministic output keys (envelope.with_derived), and
- watermark-bounded duplicate suppression on ``correlation_id`` before
  the sinks, so redeliveries don't even reach them.

``dropDuplicatesWithinWatermark`` keeps state only within the watermark
horizon — bounded memory at any scale, unlike a plain
``dropDuplicates`` whose state grows forever on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def suppress_redeliveries(
    env: DataFrame,
    time_col: str = "event_time",
    key_col: str = "correlation_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate envelope rows (same correlation id) arriving within
    the watermark horizon. Batch DataFrames fall back to plain
    ``dropDuplicates`` (same semantics when the whole input is one
    'batch')."""
    if not env.isStreaming:
        return env.dropDuplicates([key_col])
    return env.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark([key_col])


# --- incremental near-dup dedup against a persistent LSH index ---
#
# The batch operators in operators.dedup find near-dups WITHIN a corpus;
# a training-data pipeline also needs the incremental form: does this
# NEW batch duplicate anything already ingested? The index is a parquet
# table of (band, bucket, doc, ss) — the same banded MinHash layout the
# batch path shuffles on, persisted. Each micro-batch:
#
#   1. signature pass over the new docs (one Arrow UDF pass),
#   2. equi-join new band buckets against the index (candidates),
#   3. exact-Jaccard verify on candidates,
#   4. append the new docs' buckets to the index.
#
# At scale the index is date/bucket-partitioned parquet (or a Delta
# table); the join is bucket-key equi-join so only colliding buckets
# are read — with bucketed storage this prunes to the touched buckets.


def _shingles_and_buckets(df, id_col: str, text_col: str, n: int, num_hashes: int,
                          bands: int):
    """(sets, buckets): sets = (doc, ss) stored ONCE per doc; buckets =
    (doc, band, bucket) — the skinny join key table. Storing ss inside
    the bucket rows would duplicate the dominant payload ``bands``×."""
    from pyspark.sql import functions as F

    from ..operators.dedup import _shingle_sigs_arrow

    rows = num_hashes // bands
    sigs = _shingle_sigs_arrow(df, id_col, text_col, n, num_hashes).persist()
    band_hashes = [
        F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]))
        for b in range(bands)
    ]
    sets = sigs.select("doc", "ss")
    buckets = sigs.select(
        "doc", F.posexplode(F.array(*band_hashes)).alias("band", "bucket")
    )
    return sets, buckets, sigs


def dedup_against_index(
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
    update_index: bool = True,
) -> DataFrame:
    """Near-dups of ``new_docs`` against everything previously indexed.

    Returns (doc, dup_of, jaccard) — one row per new doc that verifies
    ≥ ``threshold`` against a PREVIOUSLY indexed doc. Current-batch ids
    are anti-joined out of the match side, so the result is the same
    whether the index append happens before or after the join runs
    (parquet reads are lazy — ordering by action time is not reliable)
    and replayed appends of the same batch can never self-match.
    """
    from pyspark.sql import functions as F

    from ..operators.publish import exists

    spark = new_docs.sparkSession
    sets, buckets, sigs = _shingles_and_buckets(
        new_docs, id_col, text_col, n, num_hashes, bands
    )
    had_index = exists(spark, f"{index_dir}/buckets")
    if update_index:
        buckets.write.mode("append").parquet(f"{index_dir}/buckets")
        sets.write.mode("append").parquet(f"{index_dir}/sets")

    if not had_index:
        sigs.unpersist()
        # empty-result schema must match the id column's real type or
        # callers unioning per-batch results hit a type mismatch
        id_t = new_docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"doc {id_t}, dup_of {id_t}, jaccard double"
        )

    idx_buckets = spark.read.parquet(f"{index_dir}/buckets")
    idx_sets = spark.read.parquet(f"{index_dir}/sets")
    batch_ids = buckets.select("doc").distinct()
    prior = idx_buckets.join(batch_ids, "doc", "left_anti")
    cands = (
        buckets.alias("new")
        .join(
            prior.alias("old"),
            (F.col("new.band") == F.col("old.band"))
            & (F.col("new.bucket") == F.col("old.bucket")),
        )
        .select(F.col("new.doc").alias("doc"), F.col("old.doc").alias("dup_of"))
        .dropDuplicates(["doc", "dup_of"])
    )
    # shingle arrays join in only for the (few) candidates
    old_sets = idx_sets.select(
        F.col("doc").alias("dup_of"), F.col("ss").alias("ss_old")
    ).dropDuplicates(["dup_of"])
    joined = (
        cands.join(sets.withColumnRenamed("ss", "ss_new"), "doc")
        .join(old_sets, "dup_of")
    )
    inter = F.size(F.array_intersect(F.col("ss_new"), F.col("ss_old")))
    total = F.size("ss_new") + F.size("ss_old")
    jac = inter / (total - inter)
    hits = (
        joined.select("doc", "dup_of", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    sigs.unpersist()
    return hits
