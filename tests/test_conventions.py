"""Cross-engine convention invariants (queries/base.py).

The oracle gate's exactness rests on a few behavioral agreements
between Spark and DuckDB. Each is pinned here so an engine upgrade
that silently changes one fails pytest, not the driver's gate.
"""

from __future__ import annotations

import duckdb
import pytest


def test_decimal_tie_rounding_parity(spark):
    """Both engines round decimal ties half-away-from-zero — the premise
    of the decimal-exact money convention (round while still decimal)."""
    sql = (
        "SELECT round(CAST(2.675 AS DECIMAL(18,3)), 2) AS a,"
        "       round(CAST(2.665 AS DECIMAL(18,3)), 2) AS b,"
        "       round(CAST(-2.675 AS DECIMAL(18,3)), 2) AS c"
    )
    s = spark.sql(sql).collect()[0]
    d = duckdb.sql(sql).fetchone()
    assert (float(s.a), float(s.b), float(s.c)) == (2.68, 2.67, -2.68)
    assert tuple(float(x) for x in d) == (2.68, 2.67, -2.68)


def test_double_half_rounding_diverges_between_engines(spark):
    """Documents WHY money sums round in decimal: rounding a double that
    prints as an exact half diverges — Spark rounds the shortest string
    repr (HALF_UP on '.695'), DuckDB the exact binary value (.69499...).
    If this test ever fails, the engines converged and the decimal
    detour could be simplified."""
    v = 583060.695  # nearest double is just BELOW the printed half
    s = spark.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 2) AS r").collect()[0].r
    d = duckdb.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 2) AS r").fetchone()[0]
    assert s == 583060.70 and d == 583060.69


def test_negative_zero_canonicalization(spark):
    """round() of a tiny negative double yields -0.0; '+ 0.0' must
    canonicalize it to +0.0 in both engines (the sim_centroid_outliers
    fix — '%.10g' renders -0.0 as '-0')."""
    import math

    s_raw = spark.sql("SELECT round(-1e-9, 4) AS r").collect()[0].r
    d_raw = duckdb.sql("SELECT round(-1e-9, 4) AS r").fetchone()[0]
    # at least one engine produces -0.0 (duckdb does); the guard fixes both
    assert math.copysign(1.0, d_raw) == -1.0
    s_fix = spark.sql("SELECT round(-1e-9, 4) + 0.0 AS r").collect()[0].r
    d_fix = duckdb.sql("SELECT round(-1e-9, 4) + 0.0 AS r").fetchone()[0]
    assert math.copysign(1.0, s_fix) == 1.0 and math.copysign(1.0, d_fix) == 1.0
    assert "%.10g" % d_raw == "-0" and "%.10g" % d_fix == "0"


def test_md5_and_floor_cast_parity(spark):
    """Portable-hash sampling and int-cast conventions: identical md5 hex
    and floor-before-cast behavior."""
    s = spark.sql(
        "SELECT md5('spark-graft') AS h, CAST(floor(2.9) AS BIGINT) AS f"
    ).collect()[0]
    d = duckdb.sql(
        "SELECT md5('spark-graft') AS h, CAST(floor(2.9) AS BIGINT) AS f"
    ).fetchone()
    assert s.h == d[0] and s.f == d[1] == 2


def test_decimal_sum_is_order_independent(spark):
    """The decimal money sum gives one exact answer under any partitioning
    (the double sum does not have this property)."""
    import pyspark.sql.functions as F

    df = spark.range(100_000).select(
        (F.col("id") % 997 / 100.0 + 0.0001).alias("x")
    )
    a = (
        df.repartition(1)
        .agg(F.sum(F.col("x").cast("decimal(18,4)")).alias("s"))
        .collect()[0]
        .s
    )
    b = (
        df.repartition(64)
        .agg(F.sum(F.col("x").cast("decimal(18,4)")).alias("s"))
        .collect()[0]
        .s
    )
    assert a == b


@pytest.mark.parametrize("expr", ["0.00005", "0.00015", "2.00005"])
def test_double_never_sits_on_decimal_half_grid(expr):
    """Half-points of the DECIMAL(…,4) grid (odd multiples of 5e-5) are
    not dyadic rationals, so no double equals one exactly — which is why
    double→decimal casts agree across engines despite different tie
    rules (the tie case never arises)."""
    from decimal import Decimal

    assert Decimal(float(expr)) != Decimal(expr)


def test_no_oracle_checked_query_returns_complex_columns(spark, sf_dir):
    """Registry-wide driver-certifiability invariant: an oracle-checked
    query whose result schema has a top-level ArrayType/MapType/
    StructType column can NEVER pass the external driver gate — its
    pandas canonicalizer crashes sorting list cells (sim_center_vectors
    was ERR in r6 until reshaped to exploded rows). Covers every
    oracle-checked query EXCEPT the ``stream_*`` e2e twins, which
    drain real micro-batches inside the callable and are exercised by
    oracle_check.py (which carries the same assertion). Most builders
    are lazy plan construction at sf0.001; a few run bounded collect()s
    (IVF training samples, route summaries) — still cheap at this sf.
    """
    from fbg_kafka_stream_file_transfer_spark import queries as qreg

    offenders = {}
    for name, q in qreg.REGISTRY.items():
        if q.oracle is None or name.startswith("stream_"):
            continue
        df = q.spark(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-uncertifiable complex columns: {offenders}"


def test_no_oracle_emits_hugeint(sf_dir):
    """Registry-wide HUGEINT guard: DuckDB ``sum(int)`` returns HUGEINT,
    which the driver's pandas canonicalizer folds to float64 and hashes
    as "1000.0" against Spark's "1000" — the r6 sample_split_assignment
    local-green/driver-red gap. Every integer-sum output column must
    ``CAST(... AS BIGINT)``. Types come from lazy DuckDB relations
    (planning only, no execution), so this covers all ~200 oracles in
    seconds and fails the moment a new un-CAST aggregate lands."""
    from fbg_kafka_stream_file_transfer_spark import queries as qreg
    from fbg_kafka_stream_file_transfer_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = {}
    for name, q in qreg.REGISTRY.items():
        if q.oracle is None:
            continue
        rel = con.sql(q.oracle)
        bad = [
            f"{c}: {t}"
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"un-CAST integer aggregates (HUGEINT): {offenders}"


def test_local_gate_flags_bare_int_sum(spark):
    """A deliberately-bare ``sum(int)`` oracle must fail the LOCAL gate
    the same way it would fail the driver — the dtype_mismatches check
    in oracle_check.py closes the fetchall()-exact-ints blind spot."""
    from oracle_check import dtype_mismatches

    sdf = spark.sql("SELECT CAST(10 AS BIGINT) AS s")
    rel = duckdb.sql("SELECT sum(x) AS s FROM (VALUES (4), (6)) t(x)")
    duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    assert str(rel.types[0]).upper() == "HUGEINT"  # premise: bare sum(int)
    mm = dtype_mismatches(sdf.schema.fields, duck_types)
    assert mm and "CAST" in mm[0]
    # and the properly-CAST version is clean
    rel2 = duckdb.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (4), (6)) t(x)"
    )
    clean = {c: str(t) for c, t in zip(rel2.columns, rel2.types)}
    assert dtype_mismatches(sdf.schema.fields, clean) == []
    # int-vs-float divergence is flagged in both directions
    fdf = spark.sql("SELECT CAST(10.0 AS DOUBLE) AS s")
    assert dtype_mismatches(fdf.schema.fields, clean) != []


def test_no_oracle_uses_strlen():
    """DuckDB ``strlen()`` counts UTF-8 BYTES while Spark ``length()``
    and DuckDB ``length()`` count CHARACTERS — on any non-ASCII corpus
    the two diverge (r8 review: export_jsonl_roundtrip). Oracles must
    use length() — UNLESS the Spark side measures a BINARY column,
    where bytes are the point and Spark's length(binary) matches
    strlen; those queries are whitelisted explicitly."""
    from fbg_kafka_stream_file_transfer_spark import queries as qreg

    # media_bytes: Spark length(to_binary(text,'utf-8')) == utf-8 bytes
    byte_semantics_ok = {"pipe_multimodal_metadata"}
    offenders = [
        name
        for name, q in qreg.REGISTRY.items()
        if q.oracle is not None
        and "strlen(" in q.oracle.lower()
        and name not in byte_semantics_ok
    ]
    assert not offenders, f"oracles using byte-counting strlen: {offenders}"


def test_length_semantics_parity_non_ascii(spark):
    """Pin the cross-engine character-length convention on non-ASCII:
    'héllo ★' is 7 characters in BOTH engines' length() but 10 UTF-8
    bytes in DuckDB strlen() — the divergence the registry-wide
    no-strlen guard exists to rule out."""
    s = "héllo ★"
    (spark_len,) = spark.sql(
        "SELECT length('héllo ★')"
    ).collect()[0]
    duck_len, duck_bytes = duckdb.sql(
        f"SELECT length('{s}'), strlen('{s}')"
    ).fetchall()[0]
    assert spark_len == duck_len == 7
    assert duck_bytes == 10  # premise: strlen counts bytes, not chars


def test_directory_swaps_go_through_publish():
    """Every rename the engine commits itself goes through the one
    crash-safe protocol in operators/publish.py (replace_dir /
    publish_file / recover). A hand-rolled ``.rename(`` or
    ``os.replace(`` anywhere else in operators/ or streaming/ is a new
    private swap with its own crash windows — route it through the
    module instead."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "fbg_kafka_stream_file_transfer_spark"
    pattern = re.compile(r"\.rename\(|os\.replace\(")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for sub in ("operators", "streaming")
        for path in sorted((pkg / sub).rglob("*.py"))
        if path.name != "publish.py" or path.parent.name != "operators"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, f"hand-rolled renames outside operators/publish.py: {offenders}"


def test_merge_delta_is_planned_once():
    """Both table layouts plan a merge delta through one planner
    (scale._plan_delta): the cast check, alignment, stray-column rule
    and planning aggregation live there once. A second call site of
    ``_assert_safe_delta_casts(`` under operators/ is a second copy of
    the delta side, which drifts from the first the way the r15/r16
    fixes once had to be patched into both."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "fbg_kafka_stream_file_transfer_spark"
    pattern = re.compile(r"(?<!def )\b_assert_safe_delta_casts\(")
    sites = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted((pkg / "operators").rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert len(sites) == 1, f"_assert_safe_delta_casts call sites: {sites}"


def _table_call_sites(name: str) -> list[str]:
    import re
    from pathlib import Path

    path = (
        Path(__file__).resolve().parent.parent
        / "fbg_kafka_stream_file_transfer_spark"
        / "operators"
        / "table.py"
    )
    pattern = re.compile(rf"(?<!def )\b{name}\(")
    return [
        f"table.py:{n}"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]


def test_metadata_commits_publish_through_one_path():
    """Manifests are built in ``_publish_entries``, called from the
    publish half of the one data commit (_finalize_generation, under
    _publish_staged), the one metadata-only commit path
    (_metadata_commit) and clone_to. A fourth call site is
    a metadata-only commit copying the persisted table properties by
    hand again, the copy that once had to be kept in step in eight
    places."""
    sites = _table_call_sites("_publish_entries")
    assert len(sites) <= 3, f"_publish_entries call sites: {sites}"


def test_metadata_answers_are_planned_once():
    """Partition-key clauses are decided exactly in two places: the
    aggregate planner behind count / metadata_agg / partition_profile
    (ManifestTable._metadata_plan) and the whole-partition DELETE in
    _dml_rewrite. A third call site of ``_pcol_clause_exact(`` is a
    second copy of the "answer from manifest stats, scan the rest"
    rule."""
    sites = _table_call_sites("_pcol_clause_exact")
    assert len(sites) <= 2, f"_pcol_clause_exact call sites: {sites}"


def test_data_commits_publish_through_one_path():
    """Every manifest data commit, locked or optimistic, is one stage
    (ManifestTable._stage) followed by one publish (_publish_staged,
    whose tail is _finalize_generation). A second
    ``_finalize_generation(`` call site is a second commit path again:
    the locked and optimistic pair whose back-read, contract checks
    and touched derivation once branched inside it."""
    sites = _table_call_sites("_finalize_generation")
    assert len(sites) == 1, f"_finalize_generation call sites: {sites}"


def test_generations_are_written_in_one_place():
    """``_stage`` is the only place a manifest table writes a
    generation. A second ``.write.partitionBy(`` in table.py is a
    second copy of the write prologue (reserved ``_p_*`` names, ``''``
    partition values), the copy the locked path once kept."""
    writes = _table_call_sites(r"\.write\.partitionBy")
    assert len(writes) <= 1, f".write.partitionBy( sites: {writes}"
