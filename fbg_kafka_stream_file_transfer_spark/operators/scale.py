"""Scale machinery: skew salting and bucketed co-located joins.

Two techniques the 100 TB design leans on when AQE alone isn't enough
(SCALE.md):

- **Salting** — a hot grouping key (one customer, one boilerplate
  document fingerprint) overloads its shuffle partition. Two-stage
  aggregation splits each key into ``n_salts`` sub-keys, pre-aggregates
  per sub-key (map-side + first shuffle spread over n_salts
  partitions), then merges. Works for any algebraic aggregate.
- **Bucketing** — fact tables co-partitioned on their join key at write
  time join WITHOUT a shuffle: both sides' bucket layout satisfies the
  join's distribution requirement. This is how the incoming/processed/
  failed correlation joins (E6 replay) stay shuffle-free when the
  tables are petabyte-scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .publish import _best_effort_delete, _hadoop_fs, recover_all, replace_dir


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_source: Column | None = None,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max} (algebraic: merge(fn) = fn except count →
    sum). ``salt_source`` defaults to a deterministic spread
    (crc32 of all key+value columns); pass a column for custom salting.

    Equivalent to ``df.groupBy(*key_cols).agg(...)`` — the oracle checks
    exactly that — but the first shuffle distributes each key over
    ``n_salts`` partitions, so a single hot key can no longer pin one
    reducer.
    """
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    if "_salt" in df.columns:
        # same hazard as salted_join: withColumn would overwrite the
        # user's column and the stage-1 grouping would key on garbage
        raise ValueError("input already has a '_salt' column; rename it first")
    # mix the physical partition id into the salt: value-only hashing
    # would give IDENTICAL duplicate rows one salt and leave a
    # row-duplication hot key exactly as skewed as before
    salt = (
        salt_source
        if salt_source is not None
        else F.crc32(F.concat_ws("\x1f", *[F.col(c) for c in df.columns]))
        + F.spark_partition_id()
    ) % n_salts

    stage1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt")
    first = stage1.agg(
        *[
            getattr(F, fn)(col).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    return first.groupBy(*key_cols).agg(
        *[
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join key.

    Joining two tables bucketed identically on the join key compiles to
    a SortMergeJoin with NO Exchange on either side — verified by the
    plan assertion in tests. At 100 TB this converts the replay join's
    two full shuffles into local merges. ``path`` makes the table
    external at that location (warehouse dir is a static conf).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables (see ``write_bucketed``)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def distributed_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running sum WITHOUT a single-partition window.

    ``sum(x) OVER (ORDER BY ...)`` with no PARTITION BY is the classic
    scale-killer: WindowExec moves the entire corpus to one partition
    ("No Partition Defined for Window operation" — serial, spills, and
    at 100 TB simply dies). This is the distributed form — the
    textbook two-phase prefix sum:

    1. range-partition + locally sort by ``order_cols`` (ONE range
       shuffle — the same cost as any global sort);
    2. per-partition running sum via a window PARTITIONED by
       ``spark_partition_id()`` (parallel, no data movement);
    3. per-partition totals (one tiny row each) get their exclusive
       prefix via a window over the partition-id frame — thousands of
       rows at most, the deliberate group-level-frame pattern — and
       are broadcast-joined back as offsets.

    ``order_cols`` must be a total order (include a unique tie-break)
    or per-row results within a tie are partition-dependent. Adds
    ``running_<value_col>``.

    The shape file-compaction planners need: running bytes over the
    file listing → bin = floor(running/target), computed over millions
    of metadata rows without serializing them through one task.
    """
    out_name = f"running_{value_col}"
    reserved = {"_pid", "_part_total", "_offset", out_name} & set(df.columns)
    if reserved:
        raise ValueError(f"column name(s) {sorted(reserved)} are reserved")
    order = [F.col(c).asc() for c in order_cols]
    ranged = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), *order
    ).sortWithinPartitions(*order)
    withpid = ranged.withColumn("_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = withpid.withColumn(out_name, F.sum(F.col(value_col)).over(w_local))
    totals = withpid.groupBy("_pid").agg(
        F.sum(F.col(value_col)).alias("_part_total")
    )
    w_prefix = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_part_total").over(w_prefix), F.lit(0)).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_name, F.col(out_name) + F.col("_offset"))
        .drop("_pid", "_offset")
    )


def write_partitioned_idempotent(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent partition-level backfill: overwrite ONLY the
    partitions present in ``df``, leaving every other partition's files
    untouched (dynamic partition overwrite — the write mode that makes
    re-running a day's pipeline safe: same input → same files, no
    global truncate, no duplicate appends).

    This is the batch counterpart of the streaming sinks' effectively-
    once contract (streaming/pipeline.py ST1): replaying a backfill for
    2024-01-02 must not touch 2024-01-01. Static overwrite mode (the
    default) would DELETE the whole table root first — the classic
    backfill footgun this wrapper exists to rule out.
    """
    if not partition_cols:
        raise ValueError("need at least one partition column")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_to_target(
    df: DataFrame,
    order_cols: list[str],
    size_col: str,
    target_bytes: float,
    path: str,
) -> DataFrame:
    """Execute small-file compaction: assign every row (≈ file entry)
    to a bin by the distributed running sum of its size — bin =
    floor(exclusive_prefix / target) — then write one directory per
    bin (``partitionBy`` on the bin, each bin's rows coalescing into
    its own files). Completes the planner/executor pair with
    ``distributed_running_sum``: the plan is the query shape
    (`layout_compaction_bins`), this materializes it.

    Returns the binned frame (with ``compaction_bin``) for inspection;
    the write is the side effect. Bins are contiguous in
    ``order_cols`` order, so downstream range predicates on the order
    key still prune whole bins.

    Concurrency: when ``df`` scans a LIVE merge target, run the whole
    compaction inside ``table.table_write_lock(spark, <table path>)``
    — the same lease ``merge_into_partitioned`` takes — so a merge
    racing the compaction fails loudly instead of mutating the table
    mid-scan (examples/run_maintenance.py step 4 shows the pattern).
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    run = distributed_running_sum(df, order_cols, size_col)
    out_name = f"running_{size_col}"
    binned = run.withColumn(
        "compaction_bin",
        F.floor((F.col(out_name) - F.col(size_col)) / F.lit(float(target_bytes))).cast(
            "bigint"
        ),
    ).drop(out_name)
    (
        binned.repartition(F.col("compaction_bin"))
        .write.mode("overwrite")
        .partitionBy("compaction_bin")
        .parquet(path)
    )
    return binned


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe inner equi-join: a hot join key pins one reducer in a
    plain shuffle join; here each big-side row takes a deterministic
    salt in [0, n_salts) (crc32 of the whole row + physical partition
    id — the salted_agg spread, so duplicate rows still scatter) while
    the small side is REPLICATED across all salts (explode), and the
    join runs on (key…, salt). Every hot key now spreads over
    ``n_salts`` reducers at the cost of an n_salts× copy of the small
    side — the classic salt trade, worth it exactly when the small
    side is modest but too big (or too skew-futile) to broadcast.

    Semantically ≡ ``big.join(small, on)`` — the oracle checks exactly
    that. Prefer AQE's skew-join split when it fires; this is the
    deterministic fallback for the cases it can't see (first run, no
    stats, or a sink that disables AQE).
    """
    if n_salts < 2:
        raise ValueError(f"n_salts must be >= 2, got {n_salts}")
    if "_salt" in big.columns or "_salt" in small.columns:
        # withColumn would silently OVERWRITE a real user column and the
        # join would key on the synthetic salt — corrupting the result
        # with no error. Refuse instead.
        raise ValueError("input already has a '_salt' column; rename it first")
    salt = (
        F.crc32(F.concat_ws("\x1f", *[F.col(c) for c in big.columns]))
        + F.spark_partition_id()
    ) % n_salts
    b = big.withColumn("_salt", salt.cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, on + ["_salt"]).drop("_salt")


# ---- cast safety (r16) -------------------------------------------------
# This session runs with spark.sql.ansi.enabled=false (session.py —
# the documented oracle-parity choice), so Catalyst casts never THROW:
# a narrowing numeric cast WRAPS (bigint 2^40+7 → int 7), a
# float→integral cast truncates, and a cross-family cast NULLs. Any
# implicit cast the DML/MERGE family applies to user data must
# therefore be proven lossless DRIVER-SIDE, before any job runs — the
# r15 verdict's confirmed-corruption repro (a wider-typed delta column
# silently wrapped by the merge alignment projection) is exactly the
# class these helpers refuse.

_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}
_FLOAT_RANK = {"float": 1, "double": 2}
# decimal digits needed to hold each integral type exactly
_INT_DECIMAL_DIGITS = {1: 3, 2: 5, 3: 10, 4: 19}


def _cast_class(src, dst) -> str:
    """Classify casting a value of type ``src`` into a slot declared
    ``dst`` under ANSI-off semantics:

    - ``'identical'`` — no cast needed;
    - ``'widen'`` — lossless: every ``src`` value is exactly
      representable in ``dst`` (integral up-chain, float→double,
      byte/short/int→double or →float where the mantissa covers the
      range, decimal growth, integral→decimal with room,
      date→timestamp);
    - ``'wrap'`` — same-family NARROWING: the cast silently wraps,
      truncates, or rounds (bigint→int, double→float, double→int,
      decimal scale loss, timestamp→date) — the data-corruption class;
    - ``'cross'`` — cross-family: value-dependent, NULL on failure
      (string↔numeric, bool↔numeric, …).
    """
    from pyspark.sql import types as T

    if src == dst:
        return "identical"
    s, d = src.typeName(), dst.typeName()
    si, di = _INT_RANK.get(s), _INT_RANK.get(d)
    sf, df_ = _FLOAT_RANK.get(s), _FLOAT_RANK.get(d)
    if si and di:
        return "widen" if si < di else "wrap"
    if sf and df_:
        return "widen" if sf < df_ else "wrap"
    if si and d == "double":
        # double's 53-bit mantissa holds byte/short/int exactly;
        # long→double ROUNDS past 2^53
        return "widen" if si <= 3 else "wrap"
    if si and d == "float":
        # float's 24-bit mantissa holds byte/short exactly
        return "widen" if si <= 2 else "wrap"
    if sf and di:
        return "wrap"  # truncates the fraction, wraps past the range
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        ok = (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
        return "widen" if ok else "wrap"
    if si and isinstance(dst, T.DecimalType):
        need = _INT_DECIMAL_DIGITS[si]
        return "widen" if dst.precision - dst.scale >= need else "wrap"
    if isinstance(src, T.DecimalType) and (di or d in _FLOAT_RANK):
        return "wrap"  # rounds
    if sf and isinstance(dst, T.DecimalType):
        return "wrap"  # rounds
    if s == "date" and d in ("timestamp", "timestamp_ntz"):
        return "widen"  # midnight-of conversion, invertible
    if s in ("timestamp", "timestamp_ntz") and d == "date":
        return "wrap"  # truncates the time component
    # nested types recurse: an array<int> delta into an array<bigint>
    # stored column is a lossless element-wise up-cast, not a
    # cross-family refusal. Nullability narrows conservatively: a
    # nullable source into a non-null container is value-dependent.
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        if src.containsNull and not dst.containsNull:
            return "cross"
        return _cast_class(src.elementType, dst.elementType)
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        if src.valueContainsNull and not dst.valueContainsNull:
            return "cross"
        return _worst_cast_class(
            _cast_class(src.keyType, dst.keyType),
            _cast_class(src.valueType, dst.valueType),
        )
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        if [f.name for f in src.fields] != [f.name for f in dst.fields]:
            return "cross"
        cls = "identical"
        for a, b in zip(src.fields, dst.fields):
            if a.nullable and not b.nullable:
                return "cross"
            cls = _worst_cast_class(
                cls, _cast_class(a.dataType, b.dataType)
            )
        return cls
    return "cross"


_CAST_CLASS_RANK = {"identical": 0, "widen": 1, "cross": 2, "wrap": 3}


def _worst_cast_class(a: str, b: str) -> str:
    """Combine nested cast classes pessimistically (wrap dominates —
    it is the silent-corruption class; cross beats widen)."""
    return a if _CAST_CLASS_RANK[a] >= _CAST_CLASS_RANK[b] else b


def _parquet_widen_ok(old, new) -> bool:
    """Stored-type WIDENING pairs this build supports: the Spark 4
    parquet readers must be able to read the OLD (narrow-written)
    files through the NEW manifest schema with zero rewrite
    (SPARK-40876 widening conversions — every pair here
    probe-verified on this runtime, vectorized and non-vectorized),
    and the manifest's driver-side stats frame must compare old and
    new bounds compatibly (Python int/float/Decimal interoperate;
    date-vs-datetime would raise, so date→timestamp_ntz is reader-
    supported but deliberately NOT offered as an evolution — the
    pruning frame for pre-widen bounds would break)."""
    from pyspark.sql import types as T

    if _cast_class(old, new) != "widen":
        return False
    o, n = old.typeName(), new.typeName()
    oi, ni = _INT_RANK.get(o), _INT_RANK.get(n)
    if oi and ni:
        return True  # integral up-chain
    if o == "float" and n == "double":
        return True
    if oi and n == "double":
        return True  # byte/short/int → double (widen class proves ≤ int)
    if isinstance(new, T.DecimalType) and (
        oi or isinstance(old, T.DecimalType)
    ):
        return True  # integral→decimal-with-room / decimal growth
    return False


def _assert_safe_delta_casts(
    delta_schema,
    cur_types: dict,
    partition_cols: list[str],
    op_col: str | None,
    context: str,
    widenable: bool,
    exempt: set,
) -> dict:
    """Guard the merge alignment projection: every delta column the
    stored schema shares must cast LOSSLESSLY to the stored type
    (identical or widen — the existing up-cast alignment). Returns
    ``{col: delta_type}`` for columns where the STORED side should
    widen instead (only when ``widenable`` — the locked manifest
    blind/ordered path with ``schema_evolution=True``); refuses
    loudly (before any data I/O — the table is untouched) for
    every wrap/cross cast, naming the recipe. ``exempt`` columns
    (the plain layout's directory-inferred partition columns) skip
    the check entirely."""
    widen_to: dict = {}
    for f in delta_schema.fields:
        c = f.name
        if c == op_col or c not in cur_types or c in exempt:
            continue
        cls = _cast_class(f.dataType, cur_types[c])
        if cls in ("identical", "widen"):
            continue
        dt, st = f.dataType.simpleString(), cur_types[c].simpleString()
        can_widen = _parquet_widen_ok(cur_types[c], f.dataType)
        if can_widen and widenable:
            if c in partition_cols:
                raise ValueError(
                    f"{context}: partition column {c!r} is {st} but the"
                    f" delta carries {dt} — a partition column's type"
                    " is fixed at create (its values are the manifest"
                    " entry keys); cast the delta explicitly, or"
                    " repartition_table into a wider-typed layout"
                )
            widen_to[c] = f.dataType
            continue
        effect = (
            "silently wraps/truncates values that do not fit"
            if cls == "wrap"
            else "silently NULLs unconvertible values"
        )
        recipe = (
            "cast the delta column explicitly if lossy alignment is"
            " intended"
        )
        if can_widen:
            recipe += (
                ", or pass schema_evolution=True on the locked"
                " manifest-table path to WIDEN the stored type"
                " instead (zero rewrite: old files read through the"
                " wider schema)"
            )
        raise ValueError(
            f"{context}: delta column {c!r} is {dt} but the stored"
            f" column is {st}; with ANSI off this cast {effect} —"
            f" refused before any write (the table is unchanged)."
            f" {recipe}"
        )
    return widen_to


def _assert_delta_key_unique(
    aligned: DataFrame, key_cols: list[str], context: str
) -> None:
    """Enforce the at-most-one-row-per-key delta contract that blind
    and conditional merges DEPEND on but (until r16) only documented:
    a dup-keyed delta silently lands BOTH rows in blind mode (the
    survivors ∪ incoming union keeps every delta row) and fans the
    matched target row out once per source row in conditional mode
    (the full-outer join) — the table ends up with duplicate keys and
    no error, the same silent-violation class as the r15 narrowing
    cast (Delta raises DELTA_MULTIPLE_SOURCE_ROW_MATCHING here).

    Rows with a NULL in ANY key column are exempt: key joins use
    plain equality, so NULL-keyed rows never contest a stored row or
    each other — they are independent inserts, deterministic however
    many there are. Ordered mode (``ts_col``) is not checked at all:
    folding a multi-row-per-key changelog is its documented job.

    Cost: one O(|delta|) aggregation over the already-snapshotted
    delta parquet, short-circuited to a single surviving group —
    delta-sized, never table-sized (the merge itself full-outer-joins
    that same delta). Runs BEFORE any table read or write."""
    import functools
    import operator

    nn = functools.reduce(
        operator.and_, [F.col(k).isNotNull() for k in key_cols]
    )
    dup = (
        aligned.where(nn)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_mrg_n"))
        .where(F.col("_mrg_n") > F.lit(1))
        .limit(1)
        .collect()
    )
    if dup:
        r = dup[0]
        kv = {k: r[k] for k in key_cols}
        raise ValueError(
            f"{context}: the delta carries {r['_mrg_n']} rows for key"
            f" {kv} — blind/conditional MERGE requires at most one"
            " row per key (which of the rows should win is undefined;"
            " applying both would duplicate the key in the table)."
            " Fold the delta first — cdc.apply_changelog for a"
            " timestamped changelog, or pass ts_col= to run the"
            " ordered merge, which folds multi-row keys itself."
            " Refused before any write (the table is unchanged)."
        )


def _assert_no_key_moves(
    stored_others: DataFrame,
    aligned: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    context: str,
) -> None:
    """The opt-in (``check_key_moves=True``) probe behind the
    partition-function contract: a delta row claiming partition B for
    a key whose stored row lives in an UNTOUCHED partition A would
    leave the A row in place and land a second row in B — a SILENT
    cross-partition duplicate key (the touched-partition case is
    safe: the stored row is contested and dropped/folded normally).
    ``stored_others`` is the untouched partitions' key+partition
    columns (manifest-pruned and bounds-filtered where possible);
    the delta's distinct keys broadcast into one inner join,
    short-circuited to the first offender."""
    import functools
    import operator

    nn = functools.reduce(
        operator.and_, [F.col(k).isNotNull() for k in key_cols]
    )
    probe = aligned.select(*key_cols).where(nn).distinct()
    hit = (
        stored_others.select(*key_cols, *partition_cols)
        .join(F.broadcast(probe), key_cols, "inner")
        .limit(1)
        .collect()
    )
    if hit:
        r = hit[0]
        kv = {k: r[k] for k in key_cols}
        pv = {c: r[c] for c in partition_cols}
        raise ValueError(
            f"{context}: delta key {kv} already lives in UNTOUCHED"
            f" partition {pv} — the delta assigns it a different"
            " partition, which would leave the stored row in place"
            " and land a duplicate (partition assignment must be"
            " functionally dependent on the key). Either fix the"
            " delta's partition values, or include the key's current"
            " partition in the delta (a touched partition folds the"
            " key normally). Refused before any write (the table is"
            " unchanged)."
        )


def merge_into_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
    ts_col: str | None = None,
    tiebreak_cols: tuple[str, ...] = (),
    lock_stale_after_seconds: float | None = None,
    retain_versions: int = 2,
    lock_wait_seconds: float | None = None,
    optimistic: bool = False,
    when_matched_update: dict | None = None,
    when_matched_condition: str | Column | None = None,
    when_matched_delete: str | Column | None = None,
    when_not_matched_insert: bool | str | Column = True,
    when_not_matched_by_source_delete: bool | str | Column = False,
    file_granular: bool = True,
    schema_evolution: bool = False,
    check_key_moves: bool = False,
) -> int:
    """MERGE a keyed delta into a persisted partitioned parquet table,
    rewriting ONLY the partitions the delta touches — the batch upsert/
    delete a day-over-day 100 TB pipeline runs instead of a full-table
    rebuild (reference's effectively-once sink contract, ST1, applied
    to a batch table; the transactional-format alternative is a
    Delta/Iceberg MERGE, absent from this container — SURVEY §2.a).

    Semantics (per key, within touched partitions):
    - a key present in ``updates`` with a non-``delete_op`` op (or no
      ``op_col``) REPLACES the current row (SCD1 last-writer-wins);
    - a key whose update op is ``delete_op`` VANISHES;
    - keys not in ``updates`` survive byte-identically — including
      every row of every untouched partition, whose files are never
      rewritten (dynamic partition overwrite).

    CONDITIONAL mode (r13 — any ``when_*`` argument set): the
    Delta-shaped ``MERGE`` clause surface, replacing the whole-row
    semantics above. Mutually exclusive with ``op_col``/``ts_col``
    (deletes come from clauses, not ops). Conditions and update
    expressions are SQL strings (or ``Column`` s) over two aliases:
    ``t`` = the current row, ``s`` = the delta row — ``"t.v + s.v"``,
    ``"s.ts > t.ts"``. A NULL condition is false (SQL ``WHERE``
    semantics). Per key, within touched partitions:

    - MATCHED (key in both): ``when_matched_delete`` true → row
      dropped; else ``when_matched_condition`` (default true) true →
      the current row with ONLY the ``when_matched_update`` columns
      ``{col: expr}`` replaced (partial-column update — every other
      column keeps the stored value; key/partition columns refuse,
      a moved key is the same constraint as ever); else the current
      row survives unchanged.
    - NOT MATCHED (delta-only key): inserted when
      ``when_not_matched_insert`` (true / condition over ``s``);
      table columns the delta lacks NULL-fill. Pass ``False`` for an
      update-only merge.
    - NOT MATCHED BY SOURCE (current-only key):
      ``when_not_matched_by_source_delete`` (false / true / condition
      over ``t``) true → dropped, else survives. SCOPE: candidates
      are the TOUCHED partitions' rows — untouched partitions are
      never read or rewritten (at 100 TB a table-wide
      not-matched-by-source sweep is a full rewrite; scope it by
      putting every partition you mean to sweep into the delta, the
      same discipline Delta users apply via an ON partition
      predicate).

    The delta may carry a SUBSET of table columns (keys + partition
    columns mandatory) plus EXTRA columns referenced only by
    expressions (e.g. ``s.amount_delta``) — extras are never stored.
    One full-outer join on the key — the same single-shuffle,
    delta-sized plan (Delta's own phase-2 shape); the blind path's
    broadcast-anti-join is not available because every clause needs
    the matched/not-matched distinction per row. The at-most-one-
    row-per-key delta contract applies as in blind mode (and is
    enforced the same way — see Contracts).

    ORDERED mode (``ts_col`` set — requires a single key column): the
    merge becomes conditional on event time instead of blind — per
    contested key, the surviving row is the (ts, tiebreak_cols)-max of
    {current row} ∪ {update rows}, and a delete only lands if it is
    the newest write (cdc.apply_changelog semantics). REDELIVERY
    safety, precisely: re-applying the LATEST delta (or any delta none
    of whose keys have since been superseded) is a no-op — which is
    exactly what a streaming foreachBatch sink
    (streaming/merge_sink.py) needs for effectively-once upserts over
    at-least-once delivery. It is NOT safe to replay an ARBITRARY
    historical delta: tombstones leave no trace in the table, so an
    old upsert for a key deleted by a NEWER delta would resurrect it
    (full time-travel replay needs tombstone retention à la Delta's
    log — out of scope here; replay through the changelog instead).
    Multi-row-per-key deltas are folded by the same pass (the
    at-most-one-row contract below applies only to blind mode). A
    contested CURRENT row whose ``ts_col`` is NULL follows the
    repo-wide malformed-event contract: it loses every contest (any
    VALID update, however old, wins); uncontested NULL-ts rows
    survive. When every update row for the key is ALSO NULL-ts the
    pool is all-malformed and cannot decide (or delete) anything —
    the current row survives unchanged. ``op_col`` and ``_mrg_src``
    are reserved internal names in ordered mode: a target table or
    delta already containing them raises (a silent overwrite would
    corrupt stored data).

    Contracts:
    - BLIND and CONDITIONAL modes: ``updates`` has at most one row
      per key — ENFORCED since r16 (``_assert_delta_key_unique``):
      a dup-keyed delta refuses loudly before any table I/O instead
      of silently landing both rows (blind) or fanning the matched
      row out per source row (conditional) — Delta's
      DELTA_MULTIPLE_SOURCE_ROW_MATCHING analogue. Pre-apply
      cdc.apply_changelog to fold a multi-event changelog first, or
      use ordered mode, which folds multi-row keys itself. Rows with
      a NULL key column are exempt (equality joins never match them
      — they are independent, deterministic inserts);
    - partition assignment is functionally dependent on the key (an
      update may not MOVE a key between partitions — the standard
      Hive-style partition-merge constraint; a moved key whose stored
      row lives in an UNTOUCHED partition leaves that row in place
      and lands a silent duplicate). Delete rows must carry the
      key's partition values for the same reason. CHECKABLE opt-in
      (r16): ``check_key_moves=True`` probes the untouched
      partitions' key columns pre-commit and refuses the first
      offender loudly — manifest-pruned by the delta's key range for
      single rangeable keys (a clustered table reads almost
      nothing); the worst case (scattered keys, plain layout) is a
      column-pruned key scan of the untouched data, which is why it
      is opt-in rather than default. A key whose stored partition IS
      touched folds normally in every mode — moving a key by
      including its old partition in the delta is legal;
    - STRING partition values must round-trip directory-name type
      inference: a value like ``'01'`` is written as ``version=01``
      but read back as integer ``1``, splitting the partition into
      two directories on the next write — the same landmine every
      Hive-layout consumer has; use values inference keeps as strings,
      or disable spark.sql.sources.partitionColumnTypeInference.

    A merge that leaves a touched partition EMPTY deletes that
    partition's directory explicitly: dynamic partition overwrite only
    replaces partitions that receive staged rows, so without the
    explicit delete a tombstone-only batch would leave every "deleted"
    row on disk and report success (the silent-corruption hole the
    r8 review found; pinned by a delete-all-of-one-partition test).

    Concurrency (round 9): the whole merge runs under the table's
    single-writer lease (``table.table_write_lock``) — a second
    concurrent merge (or compaction holding the same lock) raises
    ``ConcurrentWriterError`` instead of silently interleaving staging
    dirs and losing a delta. A writer that DIES holding the lease
    leaves it behind: later merges fail loudly until
    ``table.force_unlock`` (the honest default), or pass
    ``lock_stale_after_seconds`` to auto-break locks older than the
    TTL (sized far above any legitimate commit — the streaming merge
    sink's choice).

    FILE-GRANULAR current side (r14, manifest tables;
    ``file_granular=True`` default): one planner serves both layouts
    (below), and its planning job also yields each touched
    partition's delta key range. The manifest side uses it to read,
    merge and rewrite only the files whose per-file KEY bounds
    intersect that range; the other files provably contain no
    contested key and carry forward byte-identically inside the same
    entry, through the same carry helper DML uses
    (``table._file_scoped_carry``; see ManifestTable.delete_where). A
    streaming CDC batch upserting one key into a hot 10 GB
    key-clustered partition rewrites one file. Disabled automatically
    when ``when_not_matched_by_source_delete`` is truthy (its
    candidates are ALL current rows) and for non-rangeable key types;
    hive-layout tables have no per-file bounds. Both manifest commits
    carry (r15): ``stage_commit(carry_files=)`` is rebase-sound
    because the conflict check compares whole entry identities (dir +
    files map) — a rebase succeeds only when the carrying entries are
    bit-identical between base and winner, exactly when the carried
    references are still valid. ``compact()`` (or the sink's
    ``compact_min_carried``) folds carried references back into a
    clean generation.

    SCHEMA EVOLUTION (r15): the contract for a delta column absent
    from the stored table schema is now DEFINED, not path-dependent.
    In blind/ordered mode (the updateAll/insertAll analog — the delta
    row replaces the whole stored row):

    - ``schema_evolution=False`` (default): the merge REFUSES loudly,
      naming the new column(s) — silently dropping them (the old
      behavior) loses data the caller clearly meant to write, and
      silently evolving changes the table shape behind every reader.
      Either drop the columns from the delta or opt in.
    - ``schema_evolution=True`` (manifest tables, locked path): the
      new columns are APPENDED to the table schema, nullable; rows
      the delta does not replace — survivors in touched partitions,
      every untouched partition, all retained history — read back as
      NULL (the manifest's explicit-schema scan NULL-backfills files
      written before the evolution; same add-only rule ``changes()``
      documents for the feed, so a CDC tail keeps working across the
      boundary — Delta's ``withSchemaEvolution()``). Re-adding a
      ``drop_columns`` tombstoned name still refuses (resurrection
      guard). Composes with the file-granular path: carried files
      simply predate the column.

    TYPE WIDENING (r16): a delta column WIDER than the stored column
    (bigint delta → int stored, double → float, wider decimal) never
    aligns silently — with ANSI off the old down-cast WRAPPED
    (confirmed corruption: bigint 2^40+7 stored as 7). The contract:

    - ``schema_evolution=False``: REFUSE loudly before any I/O,
      naming the column and both types; cast the delta explicitly if
      lossy alignment is truly intended.
    - ``schema_evolution=True`` (locked manifest blind/ordered path):
      the STORED type widens to the delta's — a zero-rewrite schema
      change (Delta/Iceberg type widening): only touched partitions
      rewrite (wide); untouched partitions and carried files keep
      their narrow bytes and every read applies the wide manifest
      schema (the Spark 4 parquet widening read, probe-verified
      pairs only — ``_parquet_widen_ok``: integral up-chain,
      float→double, byte/short/int→double, decimal growth,
      integral→decimal-with-room). Time travel to a pre-widen
      version reads the narrow schema; ``changes()`` across the
      boundary emits the wide type (from side up-cast losslessly).
      Partition columns never widen (their values are the manifest
      entry keys). A cast that is not a supported widening —
      cross-family, or a lossy direction — refuses in BOTH modes.
      ``update_where`` SET expressions and conditional-merge
      ``when_matched_update`` expressions are guarded by the same
      classifier (wrapping casts refuse driver-side; cast explicitly
      inside the expression to opt in).

    Evolution refuses up front when it cannot be atomic or defined:
    conditional-clause mode (clauses name their target columns
    explicitly; extra delta columns there are expression inputs by
    contract, never stored — run a blind-mode evolution merge or an
    explicit backfill to add columns), ``optimistic=True`` (the
    rebase contract refuses concurrent schema change — documented at
    ``stage_commit``), and plain hive-layout tables (untouched
    partitions cannot be NULL-backfilled atomically; schema-less
    parquet readers would see a column that exists in some files —
    use a manifest table).

    One planner, a commit per layout (auto-detected). Every merge
    plans its delta in one place (``_plan_delta``): the delta is
    snapshotted to ``_merge_delta`` (evaluated exactly once), an empty
    one returns 0 even against an absent table, the cast check and
    alignment, the stray-column rule, the one-job planning
    aggregation (touched partitions + dup-key test) and the ``''``
    partition refusal run there, so every refusal fires the same way
    on both layouts and before any table data I/O. The layout only
    supplies data — its stored column types, the cast-exempt columns,
    whether types may widen and columns be appended — and keeps its
    own current-state read and commit:

    - PLAIN Hive-layout table (default): the merged rows are staged
      — already partitioned — under ``_merge_staging`` inside the
      table root, an underscore-prefixed directory parquet readers
      ignore, so a crash before the publish leaves the table
      untouched. The publish RENAMES each staged partition directory
      into place (one data write per merge, r17). Each partition flips
      via ``publish.replace_dir`` (an emptied one is moved aside, then
      deleted), so a crash DURING the publish is torn at partition
      granularity, each partition old-or-new. A failed publish keeps
      the staging and aside dirs; the next merge recovers under the
      table lock, and re-running the failed one converges for
      upsert/delete merges (not for a ``when_matched_update`` computed
      from the target row). All of it goes through the Hadoop
      FileSystem API (local, HDFS, S3A — where rename is a copy, the
      window equals the old overwrite's).
    - MANIFEST table (created via ``table.ManifestTable.create``;
      detected by ``_manifests/``): the publish is an atomic
      manifest/pointer swap — a reader sees the whole previous version
      or the whole new one, NEVER a partition-granular mix, and
      emptied partitions drop out of the manifest instead of racing a
      directory delete. The locked and optimistic merges share one
      path and differ only in the commit call (``overwrite_partitions``
      under the lease vs ``stage_commit`` + rebasing publish). Same
      delta-sized cost; this is the Delta/Iceberg-grade commit the
      plain layout cannot give (operators/table.py for the protocol and
      its crash analysis). ``retain_versions`` (manifest layout only,
      ignored for hive) sizes the snapshot window each commit keeps:
      time travel, ``changes()`` diffs, and a ``table_tail``
      consumer's maximum tolerated lag all reach exactly the retained
      versions — size it above the slowest consumer's lag in commits.

    Scale: the delta's partition list is a bounded collect (O(touched
    partitions), small by contract); the current-state scan prunes to
    touched partitions only; one anti-join shuffle on the key, sized
    by the touched partitions — never the table. Returns the number of
    touched partitions.
    """
    if not key_cols or not partition_cols:
        raise ValueError("need at least one key column and partition column")
    if ts_col is not None and (len(key_cols) != 1 or op_col is None):
        # validate BEFORE any Spark job: a misconfigured streaming sink
        # must fail on its empty first batch, not its first real one
        raise ValueError(
            "ordered merge needs exactly one key column and an op_col"
        )
    for nm, val, allow_bool in (
        ("when_matched_condition", when_matched_condition, False),
        ("when_matched_delete", when_matched_delete, False),
        ("when_not_matched_insert", when_not_matched_insert, True),
        (
            "when_not_matched_by_source_delete",
            when_not_matched_by_source_delete,
            True,
        ),
    ):
        # strict types up front: a truthy non-bool (1, numpy.bool_)
        # must not slip into clause mode and die as an obscure
        # AttributeError deep inside the plan (external review r13)
        ok = val is None or isinstance(val, (str, Column))
        if allow_bool:
            ok = ok or isinstance(val, bool)
        if not ok:
            raise TypeError(
                f"{nm} must be "
                + ("a bool, " if allow_bool else "")
                + "a SQL condition string, or a pyspark Column; got "
                + type(val).__name__
            )
    clauses = None
    if (
        when_matched_update is not None
        or when_matched_condition is not None
        or when_matched_delete is not None
        or when_not_matched_insert is not True
        or when_not_matched_by_source_delete is not False
    ):
        if op_col is not None or ts_col is not None:
            raise ValueError(
                "conditional merge clauses are mutually exclusive with"
                " op_col/ts_col — in clause mode deletes come from"
                " when_matched_delete / when_not_matched_by_source_delete"
            )
        bad = sorted(
            set(when_matched_update or ())
            & (set(key_cols) | set(partition_cols))
        )
        if bad:
            raise ValueError(
                f"when_matched_update may not set key or partition"
                f" column(s) {bad} — a moved key would leave its stale"
                " row behind (the standard partition-merge constraint)"
            )
        clauses = _MergeClauses(
            matched_update=dict(when_matched_update or {}),
            matched_condition=when_matched_condition,
            matched_delete=when_matched_delete,
            insert=when_not_matched_insert,
            not_matched_by_source_delete=when_not_matched_by_source_delete,
        )
    if schema_evolution and clauses is not None:
        raise ValueError(
            "schema_evolution applies to blind/ordered mode only —"
            " conditional clauses name their target columns explicitly"
            " and extra delta columns are expression inputs, never"
            " stored; add the column with a blind-mode evolution merge"
            " (or an explicit backfill) first"
        )
    if schema_evolution and optimistic:
        raise ValueError(
            "schema evolution does not compose with an optimistic"
            " rebase (a concurrent writer's staged rows carry the old"
            " schema) — use the locked path (optimistic=False) to"
            " evolve"
        )
    from ..session import ENGINE_SQL_CONF, scoped_conf
    from .table import is_manifest_table, table_write_lock

    if optimistic:
        # OPTIMISTIC mode (manifest tables only): stage the whole
        # compute outside the lease, publish under it with a
        # disjoint-partition rebase — two pipelines merging disjoint
        # date ranges both make progress, overlapping their heavy
        # work; an overlapping pair still fails the loser loudly.
        # ``lock_wait_seconds`` bounds how long the publish waits for
        # the lease; its DEFAULT here is 60 s, not the locked path's
        # fail-fast 0 — a momentary publish-vs-publish collision must
        # wait out the winner's metadata-sized lease hold, not throw
        # away the whole staged compute (external review r11).
        if not is_manifest_table(spark, path):
            raise ValueError(
                f"optimistic merge needs a manifest-committed table: "
                f"{path} (create it via ManifestTable.create)"
            )
        with scoped_conf(spark, ENGINE_SQL_CONF):
            return _merge_into_manifest(
                spark, path, updates, key_cols, partition_cols,
                op_col, delete_op, ts_col, tiebreak_cols,
                retain_versions, clauses, file_granular,
                schema_evolution, check_key_moves, optimistic,
                lock_wait_seconds, lock_stale_after_seconds,
            )
    fs, jroot = _hadoop_fs(spark, path)
    root_existed = bool(fs.exists(jroot))
    try:
        with scoped_conf(spark, ENGINE_SQL_CONF), table_write_lock(
            spark,
            path,
            holder="merge",
            stale_after_seconds=lock_stale_after_seconds,
            wait_seconds=lock_wait_seconds or 0.0,
        ):
            if is_manifest_table(spark, path):
                return _merge_into_manifest(
                    spark, path, updates, key_cols, partition_cols,
                    op_col, delete_op, ts_col, tiebreak_cols,
                    retain_versions, clauses, file_granular,
                    schema_evolution, check_key_moves, optimistic,
                    lock_wait_seconds, lock_stale_after_seconds,
                )
            if schema_evolution:
                raise ValueError(
                    f"schema_evolution requires a manifest table, but"
                    f" {path} is plain hive layout — untouched"
                    " partitions cannot be NULL-backfilled atomically"
                    " and schema-less parquet readers would see the"
                    " new column in only some files; create the table"
                    " via ManifestTable.create"
                )
            return _merge_into_plain(
                spark, path, updates, key_cols, partition_cols,
                op_col, delete_op, ts_col, tiebreak_cols,
                fs, jroot, root_existed, clauses, check_key_moves,
            )
    finally:
        if _dir_is_empty(spark, path):
            # two sources of an empty root, both non-tables: the
            # lock/staging writes materialized an absent table's root,
            # or a full-tombstone merge cleared the last partition
            # (lock preserved during the merge, gone after release).
            # An empty dir is never a valid table — remove it so
            # "empty table" reads as "table absent". (A racing writer
            # that acquires between the emptiness check and the delete
            # loses its fresh _lock — the sub-ms window is the no-CAS
            # filesystem trade documented in operators/table.py.)
            _best_effort_delete(spark, path)


class _MergeClauses:
    """Carrier for the conditional-MERGE clause set (r13) — built by
    ``merge_into_partitioned`` from its ``when_*`` kwargs and threaded
    through every commit path to ``_compute_merged``."""

    __slots__ = (
        "matched_update",
        "matched_condition",
        "matched_delete",
        "insert",
        "not_matched_by_source_delete",
    )

    def __init__(
        self,
        matched_update,
        matched_condition,
        matched_delete,
        insert,
        not_matched_by_source_delete,
    ):
        self.matched_update = matched_update
        self.matched_condition = matched_condition
        self.matched_delete = matched_delete
        self.insert = insert
        self.not_matched_by_source_delete = not_matched_by_source_delete


def _plan_delta(
    spark: SparkSession,
    updates: DataFrame,
    snapshot: str,
    stored_types,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None,
    ts_col: str | None,
    clauses: _MergeClauses | None,
    context: str,
    cast_exempt: set,
    evolve: bool,
    part_aggs: list[Column],
):
    """The delta side of every merge, whatever the table layout. The
    layout comes in as data: ``stored_types()`` returns the stored
    column types (raising when the table cannot take a merge; it is
    called only once the delta proved non-empty), ``cast_exempt``
    names columns the cast check skips, and ``evolve`` allows stored
    types to widen and new columns to be appended. Every refusal here
    fires before any table data I/O.

    1. Snapshot the delta: the raw updates are written to
       ``snapshot`` so the delta plan is evaluated EXACTLY ONCE.
       Without it a NONDETERMINISTIC delta (sampling, F.rand, a
       recomputed shuffle) could yield different rows at the
       touched-partitions collect and at the final write — a
       partition written but absent from ``touched`` would be
       replaced WITHOUT its survivors, silent row loss (r8 review).
       Parquet-backed re-reads are stable; the extra write is
       delta-sized. The row count rides the write as an observed
       metric, so the empty-delta check (None: a no-op, even against
       an absent table) costs no extra job. The caller owns the
       snapshot's cleanup: the merged plan reads from it.
    2. Align the delta to the stored types. The alignment may only
       up-cast (r16): a delta column WIDER than the stored one widens
       the stored type when ``evolve`` (zero rewrite — parquet readers
       read the old narrow files through the wider schema) and
       refuses otherwise; a wrap/cross cast always refuses (the
       r15-verdict corruption class: ANSI-off bigint→int alignment
       silently wrapped 2^40+7 to 7).
    3. Delta columns the stored schema lacks (r15): in blind/ordered
       mode they are appended when ``evolve`` and refused otherwise —
       never silently discarded. Conditional-clause mode keeps its
       extras-as-expression-inputs contract (clauses name what they
       store); ``op_col`` is consumed by the merge, never stored.
    4. ONE delta-sized job plans the merge: the touched-partition set
       AND the blind/conditional dup-key test (keyed-row count vs
       distinct-key count, r16; ordered mode folds multi-row keys by
       design and is exempt). The loud per-key probe runs only on the
       failure path. ``part_aggs`` adds per-partition aggregations: the
       job then runs as GROUPING SETS ((partition_cols), ()), giving
       one stats row per touched partition plus the global row the
       dup-key test reads (which also catches a key illegally split
       across two partitions).

    Returns None for an empty delta, else ``(aligned, touched,
    part_rows, widen_to, new_cols)``: ``part_rows`` are the
    per-partition rows in ``touched`` order (None without
    ``part_aggs``), ``widen_to`` maps columns whose stored type widens
    to the delta's type."""
    import functools
    import operator

    from pyspark.sql import Observation

    obs = Observation()
    updates.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(snapshot)
    delta = spark.read.schema(updates.schema).parquet(snapshot)
    if obs.get["n"] == 0:
        return None
    cur_types = stored_types()
    widen_to = _assert_safe_delta_casts(
        delta.schema, cur_types, partition_cols, op_col, context,
        widenable=evolve, exempt=cast_exempt,
    )
    target_types = {**cur_types, **widen_to}
    aligned = delta.select(
        *[
            F.col(c).cast(target_types[c]).alias(c)
            if c in target_types
            else F.col(c)
            for c in delta.columns
        ]
    )
    new_cols: list[str] = []
    if clauses is None:
        new_cols = [
            c for c in aligned.columns if c not in cur_types and c != op_col
        ]
        if new_cols and not evolve:
            raise ValueError(
                f"{context}: delta column(s) {new_cols} are not in the"
                " stored schema; drop them from the delta, or append"
                " them (NULL-backfilled for existing rows) with"
                " schema_evolution=True on a manifest table"
                " (ManifestTable.create). Silently discarding them was"
                " never a contract."
            )
    nn = functools.reduce(
        operator.and_, [F.col(k).isNotNull() for k in key_cols]
    )
    dup_aggs = [
        F.count(F.when(nn, 1)).alias("_nk"),
        F.count_distinct(*key_cols).alias("_nd"),
    ]
    part_rows = None
    if part_aggs:
        gcols = [F.col(c) for c in partition_cols]
        rows = (
            aligned.groupingSets([gcols, []], *gcols)
            .agg(*part_aggs, *dup_aggs, F.grouping_id().alias("_gid"))
            .collect()
        )
        total = next(r for r in rows if r["_gid"] != 0)
        part_rows = [r for r in rows if r["_gid"] == 0]
        touched = [tuple(r[: len(partition_cols)]) for r in part_rows]
    else:
        total = aligned.agg(
            *dup_aggs, F.collect_set(F.struct(*partition_cols)).alias("_p")
        ).collect()[0]
        touched = [tuple(p) for p in total["_p"]]
    if ts_col is None and total["_nk"] != total["_nd"]:
        _assert_delta_key_unique(aligned, key_cols, context)
    _reject_empty_string_partitions(touched, partition_cols)
    return aligned, touched, part_rows, widen_to, new_cols


def _merge_into_plain(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None,
    delete_op: str,
    ts_col: str | None,
    tiebreak_cols: tuple[str, ...],
    fs,
    jroot,
    root_existed: bool,
    clauses: _MergeClauses | None,
    check_key_moves: bool,
) -> int:
    """Hive-layout commit: read the current state, stage the merged
    rows already partitioned, publish them partition by partition.
    Caller holds the table write lock."""
    import functools
    import operator

    from pyspark.sql import Observation

    staging = f"{path}/_merge_staging"
    _, jstaging = _hadoop_fs(spark, staging)
    if fs.exists(jstaging):
        # a previous publish failed or died: put back what it left
        # moved aside BEFORE anything reads the table (a missing
        # partition would re-merge without its survivors). Only such
        # publishes leave staging behind, so clean tables skip the walk.
        recover_all(spark, path, depth=len(partition_cols))
        _best_effort_delete(spark, staging)
    delta_staging = f"{path}/_merge_delta"
    current_all = None

    def stored_types() -> dict:
        # the TABLE's read-back schema: partition directory names only
        # type-infer to numeric/date/string, so a BOOLEAN (or other)
        # partition column comes back as STRING and a raw union with
        # the typed delta would fail — the delta aligns to these types,
        # and everything downstream (touched list, partition predicate,
        # written-set comparison, dir deletion) uses the aligned
        # representation, so the two sides never disagree about a
        # partition's identity
        nonlocal current_all
        if not root_existed:
            raise ValueError(f"merge target table does not exist: {path}")
        current_all = spark.read.parquet(path)
        return {f.name: f.dataType for f in current_all.schema.fields}

    try:
        plan = _plan_delta(
            spark, updates, delta_staging, stored_types, key_cols,
            partition_cols, op_col, ts_col, clauses,
            f"merge into {path} (hive layout)",
            # partition columns' read-back types come from
            # directory-name inference (above): a delta-vs-inferred
            # mismatch there is representational, not lossy. The plain
            # layout cannot evolve at all — no manifest to carry the
            # evolved schema, and schema-less readers coerce per file.
            cast_exempt=set(partition_cols),
            evolve=False,
            part_aggs=[],
        )
        if plan is None:
            return 0
        aligned, touched = plan[:2]
        pred = functools.reduce(
            operator.or_,
            [
                functools.reduce(
                    operator.and_,
                    [
                        F.col(c).eqNullSafe(F.lit(v))
                        for c, v in zip(partition_cols, t)
                    ],
                )
                for t in touched
            ],
        )
        current = current_all.filter(pred)
        if check_key_moves:
            # plain layout has no manifest to prune with: the
            # untouched side is a full (column-pruned) key scan —
            # the documented opt-in cost
            _assert_no_key_moves(
                current_all.filter(~pred), aligned, key_cols,
                partition_cols, f"merge into {path}",
            )
        merged = _compute_merged(
            current, aligned, key_cols, op_col, delete_op, ts_col,
            tiebreak_cols, clauses=clauses,
        )

        # ONE data write (r17): the merged rows are staged already
        # PARTITIONED (hive layout mirrored under _merge_staging), and
        # the publish MOVES each staged partition directory into place
        # (crash contract: merge_into_partitioned's docstring). The
        # written partition set rides the staging write as an observed
        # metric.
        _stage_obs = Observation()
        merged.observe(
            _stage_obs,
            F.collect_set(F.struct(*partition_cols)).alias("_parts"),
        ).write.mode("overwrite").partitionBy(*partition_cols).parquet(
            staging
        )
        written = {
            tuple(p[c] for c in partition_cols)
            for p in _stage_obs.get["_parts"]
        }
        leaves = _staged_leaves(spark, staging, len(partition_cols))
        if len(leaves) != len(written):
            raise RuntimeError(
                f"merge staging {staging} holds {len(leaves)} partition"
                f" dirs but the staging write observed {len(written)}"
                " written partitions; nothing was published — re-run"
                " the merge"
            )
        # the publish never touches a partition with no staged rows —
        # an EMPTIED partition is removed explicitly (moved aside, then
        # deleted) or its old files silently survive
        emptied = [t for t in touched if t not in written]
        done: list[str] = []
        try:
            for rel in leaves:
                replace_dir(spark, f"{staging}/{rel}", f"{path}/{rel}")
                done.append(rel)
            for t in emptied:
                _delete_partition_dir(spark, path, partition_cols, t)
                done.append(f"emptied {t}")
        except Exception as exc:
            raise RuntimeError(
                f"merge publish into {path} failed after {len(done)} of"
                f" {len(leaves) + len(emptied)} partition swaps ({exc})."
                f" Published: {done}. Every other touched partition"
                " keeps its pre-merge rows; one caught mid-swap is"
                " parked beside itself as a hidden '.<dir>.stale' copy"
                " that the next merge into this table puts back (it"
                " recovers under the table lock first). The unpublished"
                f" merged partitions stay in {staging} until then."
                " Re-running this merge converges for upsert/delete"
                " merges only: a when_matched_update computed from the"
                " target row (e.g. n = t.n + 1) would apply twice to the"
                " published partitions."
            ) from exc
        if not written and _table_has_no_partitions(spark, path):
            # the merge deleted the LAST partition: a root holding
            # only _SUCCESS/_merge markers is unreadable
            # (UNABLE_TO_INFER_SCHEMA) and would wedge every later
            # read — clear it so "empty table" is uniformly "table
            # absent" (the sink's bootstrap recreates it). The HELD
            # LOCK file is preserved (r9 review); the now-empty
            # root is removed after release by the caller's final
            # empty-dir sweep.
            _clear_root_keep_lock(fs, jroot)
        _best_effort_delete(spark, staging)
        return len(touched)
    finally:
        # staging dirs are non-semantic; a cleanup failure must not
        # fail a committed merge (readers skip underscore dirs)
        _best_effort_delete(spark, delta_staging)


def _compute_merged(
    current: DataFrame,
    aligned: DataFrame,
    key_cols: list[str],
    op_col: str | None,
    delete_op: str,
    ts_col: str | None,
    tiebreak_cols: tuple[str, ...],
    clauses: _MergeClauses | None = None,
) -> DataFrame:
    """The merge's relational core, shared by the plain and manifest
    commit paths: survivors (current rows whose key is uncontested) ∪
    winners (blind mode: the update rows minus deletes; ordered mode:
    the changelog fold over contested current + update rows;
    conditional mode: CASE projections over one full-outer join —
    ``_compute_merged_conditional``)."""
    if clauses is not None:
        return _compute_merged_conditional(
            current, aligned, key_cols, clauses
        )
    upd_keys = aligned.select(*key_cols).distinct()
    survivors = current.join(upd_keys, key_cols, "left_anti")
    if ts_col is not None:
        from .cdc import apply_changelog

        # the internal op/source markers must be FRESH names: if the
        # stored table already has a column called op_col, the
        # cur_pool withColumn below would silently overwrite it with
        # NULL and the final select would write op-values back into
        # user data — blind mode fails loudly on this shape, ordered
        # mode would corrupt silently (external review r9). Refuse.
        clash = {op_col, "_mrg_src"} & set(current.columns)
        if clash or "_mrg_src" in aligned.columns:
            raise ValueError(
                f"ordered merge reserves column name(s) "
                f"{sorted(clash | ({'_mrg_src'} & set(aligned.columns)))}; "
                "the target table / delta may not contain them — "
                "rename the stored column or pick another op_col"
            )
        # pool = contested current rows (op NULL = plain upsert) +
        # all update rows; the changelog fold picks the (ts,
        # tiebreaks, update-beats-current)-max write per key and
        # applies tombstones
        contested = current.join(upd_keys, key_cols, "left_semi")
        cur_pool = contested.withColumn(
            op_col, F.lit(None).cast("string")
        ).withColumn("_mrg_src", F.lit(0))
        upd_pool = aligned.withColumn("_mrg_src", F.lit(1))
        pool = cur_pool.unionByName(upd_pool.select(*cur_pool.columns))
        winners = apply_changelog(
            pool,
            key_cols[0],
            ts_col,
            op_col,
            tiebreak_cols=tuple(tiebreak_cols) + ("_mrg_src",),
            delete_op=delete_op,
        )
        # a contested key whose ENTIRE pool is NULL-ts produces no
        # winner (apply_changelog drops malformed rows), and without
        # this rescue the key would silently VANISH — an
        # all-malformed delta must be ignored for that key, never
        # treated as a delete (external review r9). Keys with at
        # least one valid-ts row are fully decided by the fold.
        decided = (
            pool.filter(F.col(ts_col).isNotNull())
            .select(*key_cols)
            .distinct()
        )
        orphaned = contested.join(decided, key_cols, "left_anti")
        return survivors.unionByName(
            winners.select(*current.columns)
        ).unionByName(orphaned.select(*current.columns))
    incoming = aligned
    if op_col is not None:
        incoming = aligned.filter(
            ~F.col(op_col).eqNullSafe(F.lit(delete_op))
        ).drop(op_col)
    return survivors.unionByName(incoming.select(*current.columns))


def _compute_merged_conditional(
    current: DataFrame,
    aligned: DataFrame,
    key_cols: list[str],
    clauses: _MergeClauses,
) -> DataFrame:
    """Conditional-clause merge core (r13): ONE full-outer join on the
    key (Delta's own phase-2 shape — every clause needs the row's
    matched / not-matched / not-matched-by-source class, so the blind
    path's broadcast anti-join cannot express it), then pure CASE
    projections — no second shuffle, no window. Clause order is
    fixed: a matched delete wins over a matched update (the
    deterministic subset of Delta's ordered-clause evaluation).
    Conditions evaluate under SQL ``WHERE`` semantics: NULL is false.

    Scale shape: both sides shuffle once on the key, sized by the
    TOUCHED partitions and the delta — never the table; projections
    are Catalyst CASE expressions inside whole-stage codegen."""
    reserved = {"_mrg_t", "_mrg_s"} & (
        set(current.columns) | set(aligned.columns)
    )
    if reserved:
        raise ValueError(
            f"conditional merge reserves column name(s)"
            f" {sorted(reserved)}; the target table / delta may not"
            " contain them"
        )
    missing = [c for c in key_cols if c not in aligned.columns]
    if missing:
        raise ValueError(f"delta lacks key column(s) {missing}")
    tfields = {f.name: f.dataType for f in current.schema.fields}
    s_has = set(aligned.columns)

    def as_cond(c, default: bool) -> Column:
        if c is None:
            return F.lit(default)
        if isinstance(c, bool):
            return F.lit(c)
        col = F.expr(c) if isinstance(c, str) else c
        # NULL condition is FALSE — SQL WHERE semantics (pinned)
        return F.coalesce(col.cast("boolean"), F.lit(False))

    raw_upd: dict[str, Column] = {}
    for c, e in clauses.matched_update.items():
        if c not in tfields:
            raise ValueError(
                f"when_matched_update column {c!r} is not in the table"
                f" schema {sorted(tfields)}"
            )
        raw_upd[c] = F.expr(e) if isinstance(e, str) else e

    t = current.withColumn("_mrg_t", F.lit(1)).alias("t")
    s = aligned.withColumn("_mrg_s", F.lit(1)).alias("s")
    # USING-column join: the key columns come out coalesced, correct
    # for all three row classes
    j = t.join(s, key_cols, "full_outer")
    # cast safety (r16): each SET expression implicitly casts to the
    # stored column type, as Delta does — but with ANSI off a
    # same-family NARROWING cast silently wraps/truncates instead of
    # failing. Resolve every expression's type against the joined
    # frame (analysis only, no job) and refuse the wrapping class
    # up front; widening/identical casts are lossless, cross-family
    # casts keep Delta's value-dependent implicit-cast semantics.
    if raw_upd:
        names = sorted(raw_upd)
        probe = j.select(
            *[raw_upd[n].alias(f"_t_{i}") for i, n in enumerate(names)]
        ).schema
        for i, n in enumerate(names):
            et = probe[f"_t_{i}"].dataType
            if _cast_class(et, tfields[n]) == "wrap":
                raise ValueError(
                    f"when_matched_update expression for {n!r}"
                    f" analyzes to {et.simpleString()} but the stored"
                    f" column is {tfields[n].simpleString()}; with"
                    " ANSI off this cast silently wraps/truncates"
                    " values that do not fit — refused before any"
                    " write. Cast explicitly inside the expression if"
                    " the narrowing is intended"
                )
    upd = {c: e.cast(tfields[c]) for c, e in raw_upd.items()}
    matched = F.col("_mrg_t").isNotNull() & F.col("_mrg_s").isNotNull()
    t_only = F.col("_mrg_s").isNull()
    mcond = as_cond(clauses.matched_condition, True)
    mdel = as_cond(clauses.matched_delete, False)
    ins = as_cond(clauses.insert, True)
    nmbs = as_cond(clauses.not_matched_by_source_delete, False)
    keep = F.when(matched, ~mdel).when(t_only, ~nmbs).otherwise(ins)
    proj = []
    for c in current.columns:
        if c in key_cols:
            proj.append(F.col(f"`{c}`"))
            continue
        tcol = F.col(f"t.`{c}`")
        scol = (
            F.col(f"s.`{c}`")
            if c in s_has
            else F.lit(None).cast(tfields[c])
        )
        mval = F.when(mcond, upd[c]).otherwise(tcol) if c in upd else tcol
        proj.append(
            F.when(matched, mval)
            .when(t_only, tcol)
            .otherwise(scol)
            .alias(c)
        )
    return j.filter(keep).select(*proj)


def _merge_into_manifest(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None,
    delete_op: str,
    ts_col: str | None,
    tiebreak_cols: tuple[str, ...],
    retain_versions: int,
    clauses: _MergeClauses | None,
    file_granular: bool,
    schema_evolution: bool,
    check_key_moves: bool,
    optimistic: bool,
    lock_wait_seconds: float | None,
    lock_stale_after_seconds: float | None,
) -> int:
    """Atomic-commit merge for manifest tables: the publish is a
    manifest/pointer swap, so a crash at ANY point leaves the previous
    version fully readable, and an emptied partition drops out of the
    manifest instead of racing a directory delete.

    The commit is one call of the table's one data commit
    (``ManifestTable._data_commit``). LOCKED, the caller holds the
    write lease for the whole merge and the commit is refused if the
    table moved since the plan read it. OPTIMISTIC, the ENTIRE
    compute — delta snapshot,
    current-state read, merge shuffle, generation write, stats
    aggregation — runs WITHOUT the lease (staged into a GC-invisible
    dot-dir); only the rename + metadata walk + manifest publish
    serialize under it, waiting up to ``lock_wait_seconds`` (60 s by
    default). Two pipelines merging disjoint partition sets therefore
    overlap their heavy work, and the rebase check covers every
    commit since this merge READ the table, so an overlapping winner
    still fails this writer loudly unless the rebase proves the
    partitions disjoint."""
    import uuid

    from .table import ManifestTable

    mt = ManifestTable(spark, path)
    delta_staging = f"{path}/_merge_delta"
    if optimistic:
        # concurrent optimistic merges must not overwrite each other's
        # snapshot (the lease serializes the locked path's shared name)
        delta_staging += f"-{uuid.uuid4().hex}"
    try:
        plan = _manifest_merge_plan(
            spark, mt, updates, key_cols, partition_cols, op_col,
            delete_op, ts_col, tiebreak_cols, delta_staging, clauses,
            file_granular, schema_evolution, check_key_moves,
        )
        if plan is None:
            return 0
        merged, touched, ver, carry = plan
        op = {"name": "merge", "n_partitions": len(touched)}
        if carry:
            op["file_scoped"] = len(carry)
        mt._data_commit(
            merged,
            touched,
            ver,
            op,
            retain_versions,
            optimistic=optimistic,
            carry_files=carry,
            lock_wait_seconds=(
                60.0 if lock_wait_seconds is None else lock_wait_seconds
            ),
            lock_stale_after_seconds=lock_stale_after_seconds,
        )
        return len(touched)
    finally:
        _best_effort_delete(spark, delta_staging)


def _manifest_merge_plan(
    spark: SparkSession,
    mt,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None,
    delete_op: str,
    ts_col: str | None,
    tiebreak_cols: tuple[str, ...],
    delta_staging: str,
    clauses: _MergeClauses | None,
    file_granular: bool,
    schema_evolution: bool,
    check_key_moves: bool,
):
    """The table side of a manifest merge: plan the delta against the
    MANIFEST's stored schema (``_plan_delta``; partition values never
    round-trip through directory-name inference here, so the plain
    layout's ``'01'`` string landmine cannot occur), then build the
    lazy merged plan over the manifest-pruned current state — no file
    listing of untouched data. Returns ``(merged, touched,
    version_read, carry)`` or None for an empty delta.

    FILE-GRANULAR current side (r14, ``file_granular``): within each
    touched partition, only the files whose per-file KEY bounds
    intersect the delta's per-partition key range enter the merge;
    the other files provably contain no contested key, so every mode
    passes their rows through verbatim (blind's left-anti survivors,
    ordered's uncontested rows, conditional's not-matched-keep with
    ``nmbs=False``) — they carry forward byte-identically via the
    commit's ``carry_files`` hook instead of being read, folded, and
    rewritten. A streaming CDC batch touching one key in a hot
    10 GB partition then rewrites one file. Soundness: a file is
    excluded only when its bounds exclude the WHOLE delta key range
    (the same conservative `_entry_scan_selection` read() trusts);
    a contested key's rows can therefore never hide in a carried
    file, and carried rows interact with no merge clause — except
    ``when_not_matched_by_source_delete``, whose candidates are ALL
    current rows, so any truthy nmbs disables the file-granular path
    for the statement."""
    from pyspark.sql import types as T

    from .table import (
        _entry_scan_selection,
        _file_scoped_carry,
        _partition_key,
    )

    ver = mt.current_version()
    man = mt.manifest(ver) if ver is not None else None
    stored = T.StructType.fromJson(man["schema"]) if man else None
    cur_types = {f.name: f.dataType for f in stored.fields} if man else {}

    def stored_types() -> dict:
        if man is None:
            raise ValueError(f"merge target table does not exist: {mt.path}")
        if list(man["partition_cols"]) != list(partition_cols):
            raise ValueError(
                f"table {mt.path} is partitioned by "
                f"{man['partition_cols']}; merge called with "
                f"{partition_cols}"
            )
        return cur_types

    _RANGEABLE = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.StringType,
        T.BooleanType, T.DateType, T.TimestampType,
    )
    fg_ok = (
        file_granular
        and (
            clauses is None
            or clauses.not_matched_by_source_delete is False
        )
        and all(k in updates.columns for k in key_cols)
        and all(
            k in cur_types and isinstance(cur_types[k], _RANGEABLE)
            for k in key_cols
        )
    )
    # fg planning rides the delta planner's one job: each partition's
    # delta key range + distinct-key count (deletes included — a
    # tombstone contests its key like any write)
    part_aggs = []
    if fg_ok:
        for i, k in enumerate(key_cols):
            part_aggs.append(F.min(F.col(k)).alias(f"_lo_{i}"))
            part_aggs.append(F.max(F.col(k)).alias(f"_hi_{i}"))
            part_aggs.append(F.count_distinct(F.col(k)).alias(f"_cd_{i}"))
    plan = _plan_delta(
        spark, updates, delta_staging, stored_types, key_cols,
        partition_cols, op_col, ts_col, clauses, f"merge into {mt.path}",
        cast_exempt=set(),
        evolve=schema_evolution,
        part_aggs=part_aggs,
    )
    if plan is None:
        return None
    aligned, touched, rows, widen_to, new_cols = plan
    tomb = sorted(set(new_cols) & set(man.get("dropped_cols") or []))
    if tomb:
        # same resurrection guard _finalize_generation enforces —
        # refuse BEFORE any table data I/O
        raise ValueError(
            f"column name(s) {tomb} were dropped from this"
            " table and may not be re-added by schema"
            " evolution: retained pre-drop data files still"
            " carry values under these names; pick a fresh"
            " name"
        )
    carry: dict[str, dict] = {}
    if fg_ok:
        np_ = len(partition_cols)
        live = {e["key"]: e for e in man["entries"]}
        pc, sk = mt._pcols_for_pruning(man, stored)
        # EXACT key sets where the delta is key-sparse (r14): a
        # min-max range collapses for SCATTERED point keys — the
        # real CDC shape is random keys across the keyspace, whose
        # range spans every file. For partitions with ≤ cap distinct
        # keys (and a files map to prune), one extra delta-sized job
        # collects the exact sets and the per-file test becomes an
        # IN clause (any key within the file's bounds) — selecting
        # ~|keys| files instead of all of them. The sets are
        # planning-ephemeral, never persisted; the collect is
        # bounded by cap × touched partitions.
        _KEYSET_CAP = 256

        def _cap_for(t: tuple) -> int:
            # entries carrying per-file Bloom filters (r16) earn a
            # 4× larger keyset window: the IN-clause test there is a
            # membership probe (memoized salted-md5 positions), not
            # just a bounds check — on an unclustered table a bigger
            # point-delta still selects ~|keys| files instead of
            # falling back to the min-max range, which spans every
            # file. The planning collect stays bounded
            # (cap × touched partitions).
            e = live.get(_partition_key(t)) or {}
            fmap = e.get("files") or {}
            if any(st.get("bloom") for st in fmap.values()):
                return 4 * _KEYSET_CAP
            return _KEYSET_CAP

        want_sets = [
            t
            for r, t in zip(rows, touched)
            if (live.get(_partition_key(t)) or {}).get("files")
            and all(
                r[f"_cd_{i}"] is not None
                and 1 <= r[f"_cd_{i}"] <= _cap_for(t)
                and r[f"_lo_{i}"] is not None
                for i in range(len(key_cols))
            )
        ]
        keysets: dict[tuple, list] = {}
        if want_sets:
            import functools as _ft
            import operator as _op

            cond = _ft.reduce(
                _op.or_,
                [
                    _ft.reduce(
                        _op.and_,
                        [
                            F.col(c).eqNullSafe(F.lit(v))
                            for c, v in zip(partition_cols, t)
                        ],
                    )
                    for t in want_sets
                ],
            )
            kaggs = [
                F.collect_set(F.col(k)).alias(f"_ks_{i}")
                for i, k in enumerate(key_cols)
            ]
            for kr in (
                aligned.filter(cond)
                .groupBy(*partition_cols)
                .agg(*kaggs)
                .collect()
            ):
                keysets[tuple(kr[:np_])] = [
                    list(kr[f"_ks_{i}"])
                    for i in range(len(key_cols))
                ]
        full_parts: list[tuple] = []
        fg_paths: list[str] = []
        for r, t in zip(rows, touched):
            e = live.get(_partition_key(t))
            fmap = e.get("files") if e is not None else None
            ks = keysets.get(t)
            kb: list | None = []
            for i in range(len(key_cols)):
                if ks is not None and ks[i]:
                    kb.append((key_cols[i], "in", ks[i]))
                    continue
                lo, hi = r[f"_lo_{i}"], r[f"_hi_{i}"]
                if lo is None or hi is None:
                    # all-NULL delta keys here: NULL contests nothing
                    # (no join/window match), but a bound cannot be
                    # built — fall back to the full partition
                    kb = None
                    break
                kb.append((key_cols[i], "between", (lo, hi)))
            if e is None or not fmap or kb is None:
                full_parts.append(t)
                continue
            kept, sel = _entry_scan_selection(e, kb, pc, sk)
            if not kept:
                sel = []  # entry bounds exclude every delta key
            if sel is None or len(sel) >= len(fmap):
                full_parts.append(t)
                continue
            paths, carry[_partition_key(t)] = _file_scoped_carry(
                mt.path, e, sel
            )
            fg_paths.extend(paths)
        parts = []
        if full_parts:
            parts.append(
                mt.read(partitions=full_parts, manifest_dict=man)
            )
        if fg_paths:
            parts.append(
                spark.read.schema(stored).parquet(
                    *sorted(set(fg_paths))
                )
            )
        if not parts:
            current = spark.createDataFrame([], stored)
        elif len(parts) == 1:
            current = parts[0]
        else:
            current = parts[0].unionByName(parts[1])
    else:
        current = mt.read(partitions=touched, manifest_dict=man)
    if widen_to:
        # stored-type widening (r16): cast the current side UP to the
        # delta's wider types, so the merged plan — whose schema
        # _finalize_generation publishes — is uniformly wide. Only the
        # touched partitions rewrite (wide); untouched partitions and
        # carried files keep their narrow bytes, and every later read
        # applies the wide manifest schema (the parquet widening read
        # _parquet_widen_ok restricts the pairs to). Lossless by
        # construction: widen_to only holds 'widen'-class pairs.
        current = current.select(
            *[
                F.col(c).cast(widen_to[c]).alias(c)
                if c in widen_to
                else F.col(c)
                for c in current.columns
            ]
        )
    if new_cols:
        # evolution: the current side gains the new columns as typed
        # NULLs (nullable by construction), so survivors keep shape
        # with the delta's winners and the committed df's schema —
        # which _finalize_generation publishes — is the evolved one.
        # Untouched partitions and carried files simply predate the
        # column; the manifest's explicit-schema scan NULL-backfills
        # them on every read (operators/table.py read()).
        atypes = {f.name: f.dataType for f in aligned.schema.fields}
        current = current.select(
            "*",
            *[F.lit(None).cast(atypes[c]).alias(c) for c in new_cols],
        )
    if check_key_moves:
        from .table import _decode_value

        touched_set = {_partition_key(tuple(t)) for t in touched}
        others = [
            tuple(_decode_value(pv) for pv in e["values"])
            for e in man["entries"]
            if e["key"] not in touched_set and "values" in e
        ]
        if others:
            # single rangeable key: bound the untouched scan by the
            # delta's key range so entry/file stats prune it — the
            # clustered-table case reads almost nothing. Multi-column
            # or unbounded keys fall back to the column-pruned key
            # scan of the untouched partitions (the documented
            # opt-in cost).
            where_rng = None
            if len(key_cols) == 1:
                k = key_cols[0]
                ext = aligned.agg(
                    F.min(F.col(k)).alias("_lo"),
                    F.max(F.col(k)).alias("_hi"),
                    F.count_distinct(F.col(k)).alias("_cd"),
                ).collect()[0]
                if ext["_lo"] is not None and ext["_cd"] <= 256:
                    # key-sparse delta (the CDC point shape): an IN
                    # clause instead of the range lets the per-file
                    # BLOOM probes prune the untouched side too —
                    # exactly the unclustered cold start where the
                    # range spans every file (same 256-key window as
                    # the fg merge keyset path)
                    keys = [
                        r[0]
                        for r in aligned.select(k)
                        .where(F.col(k).isNotNull())
                        .distinct()
                        .collect()
                    ]
                    if keys:
                        where_rng = [(k, "in", keys)]
                elif ext["_lo"] is not None:
                    where_rng = [(k, "between", (ext["_lo"], ext["_hi"]))]
            _assert_no_key_moves(
                mt.read(
                    partitions=others, manifest_dict=man,
                    where=where_rng,
                ),
                aligned, key_cols, partition_cols,
                f"merge into {mt.path}",
            )
    merged = _compute_merged(
        current, aligned, key_cols, op_col, delete_op, ts_col,
        tiebreak_cols, clauses=clauses,
    )
    return merged, touched, ver, carry or None


def _clear_root_keep_lock(fs, jroot) -> None:
    """Delete everything under a table root EXCEPT the ``_lock`` file —
    the lease-preserving root clear shared by the full-tombstone merge
    cleanup and the sink's torn-bootstrap debris clear (a recursive
    root delete would release a HELD lease mid-critical-section)."""
    if not fs.exists(jroot):
        return
    for status in fs.listStatus(jroot):
        if status.getPath().getName() != "_lock":
            fs.delete(status.getPath(), True)


def _reject_empty_string_partitions(
    touched: list[tuple], partition_cols: list[str]
) -> None:
    """The Hive directory layout writes '' and NULL to the SAME
    ``__HIVE_DEFAULT_PARTITION__`` directory, so an empty-string
    partition value is indistinguishable from NULL on disk: the plain
    path would skip the emptied-partition delete (resurrecting
    tombstones) and the manifest path would conflate two logical
    partitions into one directory (r9 review). Refuse up front —
    partition on NULL or a real sentinel instead."""
    for t in touched:
        for c, v in zip(partition_cols, t):
            if v == "":
                raise ValueError(
                    f"partition column {c!r} carries an empty-string "
                    "value; '' and NULL share one directory in the "
                    "Hive layout — use NULL or a non-empty sentinel"
                )


def _dir_is_empty(spark: SparkSession, path: str) -> bool:
    try:
        fs, jpath = _hadoop_fs(spark, path)
        return bool(fs.exists(jpath)) and len(fs.listStatus(jpath)) == 0
    except Exception:  # noqa: BLE001
        return False


def _partition_value_matches(val, raw: str) -> bool:
    """Does the UNESCAPED on-disk partition directory value ``raw``
    denote the collected Python value ``val``? Matching by VALUE, not
    by re-formatting val with str(): Spark's dir formatting differs
    from Python's for several types (booleans lowercase; doubles via
    Java Double.toString — ``1.0E-7`` where Python says ``1e-07``;
    timestamps without trailing zero-padding), and a formatting
    mismatch here silently SKIPS the delete and resurrects
    tombstoned rows (r8 review)."""
    import datetime

    if val is None:
        return raw == "__HIVE_DEFAULT_PARTITION__"
    if isinstance(val, bool):
        return raw == ("true" if val else "false")
    if isinstance(val, float):
        import math

        try:
            parsed = float(raw)
        except ValueError:
            return False
        # NaN needs its own branch: NaN == NaN is False, so a merge
        # that empties a NaN-keyed partition would silently skip the
        # directory delete and resurrect its tombstoned rows (external
        # review r9) — the exact bug class this helper exists to stop
        if math.isnan(val):
            return math.isnan(parsed)
        return parsed == val
    if isinstance(val, datetime.datetime):
        try:
            return datetime.datetime.fromisoformat(raw.replace("T", " ")) == (
                val.replace(tzinfo=None)
            )
        except ValueError:
            return False
    if isinstance(val, datetime.date):
        try:
            return datetime.date.fromisoformat(raw) == val
        except ValueError:
            return False
    return raw == str(val)


def _table_has_no_partitions(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists but holds no ``col=value`` partition
    directories (only commit markers / underscore dirs)."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if "=" in name and not name.startswith("."):
            return False
    return True


def _staged_leaves(spark: SparkSession, staging: str, depth: int) -> list[str]:
    """Relative paths of the leaf partition directories (``col=value``
    nesting, ``depth`` levels) under ``staging``. Names are kept
    VERBATIM (no unescape/re-escape round trip — the staged names came
    out of the same Spark writer that produced the table's, so ``%XX``
    escapes and ``__HIVE_DEFAULT_PARTITION__`` match byte-for-byte)."""
    fs, jstag = _hadoop_fs(spark, staging)

    def _walk(jdir, level: int, rel: str) -> list[str]:
        out = []
        for status in fs.listStatus(jdir):
            name = status.getPath().getName()
            if not status.isDirectory() or "=" not in name:
                continue  # _SUCCESS and committer leftovers
            r = f"{rel}/{name}" if rel else name
            out.extend(
                [r] if level == 1 else _walk(status.getPath(), level - 1, r)
            )
        return out

    return _walk(jstag, depth, "")


def _delete_partition_dir(
    spark: SparkSession, path: str, partition_cols: list[str], values: tuple
) -> None:
    """Locate ``path/col1=v1/col2=v2/...`` and remove it through
    ``publish.replace_dir`` (moved aside, then deleted). Directory
    names are matched UNESCAPED (Spark percent-escapes special
    characters in partition values); a missing level means the
    partition never existed and nothing is removed."""
    import urllib.parse

    fs, cur = _hadoop_fs(spark, path)
    dest = path
    for col, val in zip(partition_cols, values):
        if not fs.isDirectory(cur):
            return
        hit = None
        for status in fs.listStatus(cur):
            name = status.getPath().getName()
            if "=" not in name or name.startswith("."):
                continue
            c, _, raw = name.partition("=")
            if c == col and _partition_value_matches(
                val, urllib.parse.unquote(raw)
            ):
                hit = status.getPath()
                break
        if hit is None:
            return
        cur, dest = hit, f"{dest}/{hit.getName()}"
    replace_dir(spark, None, dest)
