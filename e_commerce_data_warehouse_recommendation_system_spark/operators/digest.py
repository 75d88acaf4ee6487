"""Cross-engine digests: fold any component query into oracle-checkable rows.

The verify driver records correctness rows for only the first
``registry.DRIVER_QUERY_BUDGET`` (50) registered queries, while SURVEY.md §2
inventories ~100 operators. This module is the compression scheme: each
micro-operator stays a full query with a full-result DuckDB oracle (checked
individually by scripts/check_correctness.py --components), and a *suite*
registers ONE driver-visible query whose result is the union of per-component
digests — with a mechanically derived DuckDB oracle that computes the same
digest over the component's original oracle SQL. A value bug in any
component therefore still flips the suite's driver row red.

Digest design rules (everything must hash-match bit-for-bit across engines):

- exact numerics (``num``) sum through DECIMAL(38,6) and cross the engine
  boundary as the decimal's exact STRING rendering (both engines pad to
  scale 6, verified by the fuzzer) — never as a double: a decimal→double
  cast rounds, and above 2^53 Spark's BigDecimal rounding and DuckDB's
  int128 rounding can differ by 1 ulp (round-6 driver red on an epoch-µs
  sum ≈1.6e19 — the ``sum:`` metric was double-valued then).
  PRECONDITION (canary-enforced, tests/test_oracle_canary.py): every
  ``num`` column's values must be EXACTLY representable at scale 6 —
  integers or decimals with ≤6 fractional digits. The scale-6 cast is
  where the engines part ways otherwise: Spark rounds HALF_UP on a
  decimal downcast while DuckDB TRUNCATES toward zero (probed round 7),
  so a 7th fractional digit silently diverges. Raw doubles belong in
  ``dbl``, wider decimals need a wider digest kind first;
- doubles (``dbl``) are folded as SUM(FLOOR(x * 1e6)) in exact decimal:
  FLOOR of an identical IEEE double is identical, and the integer sum is
  order-independent — no float accumulation ever crosses an engine
  boundary, and (since round 7) the sum itself crosses as a string too;
- strings (``str``) digest as COUNT DISTINCT + MIN/MAX of md5 (md5 hex is
  ASCII, so MIN/MAX never hits collation differences; md5 is identical in
  Spark and DuckDB);
- timestamps (``ts``) digest on epoch microseconds only (cast to TIMESTAMP
  first — value-preserving under the pinned UTC session TZ, and it accepts
  NTZ-typed columns): DuckDB may read the
  testdata as TIMESTAMP_NS while Spark truncates ns -> us, so every ts
  metric goes through epoch_us / unix_micros (identical truncation);
- dates (``date``) digest as days since 1970-01-01;
- booleans (``bool``) digest as true-count + non-null count.

Output schema (both engines): (op, metric, value_num DOUBLE, value_str).
"""

from __future__ import annotations

from collections.abc import Callable  # noqa: F401 (typing for metric factories)

from pyspark.sql import Column, DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.registry import (
    Component,
    register,
)

# --------------------------------------------------------------------------
# Per-kind metric builders. Each metric is (suffix, spark_expr, sql_expr,
# is_string_valued). Spark exprs and SQL exprs are generated from the same
# spec, so the two sides cannot drift independently.
# --------------------------------------------------------------------------

_EPOCH = "DATE '1970-01-01'"

#: dbl-digest saturation bound: DBL_CLAMP * 1e6 = 8e15 < 2^53, so the
#: clamped micro-fold is exact in double on both engines.
DBL_CLAMP = 8e9


def _dbl_clamp(c: Column) -> Column:
    """NULL-preserving clamp to ±DBL_CLAMP (greatest/least alone would map
    NULL to the bound — both engines skip NULLs in GREATEST)."""
    return F.when(
        c.isNotNull(), F.least(F.greatest(c, F.lit(-DBL_CLAMP)), F.lit(DBL_CLAMP))
    )


def _kind_metrics(col: str, kind: str) -> list[tuple[str, "Callable[[], Column]", str, bool]]:
    """Metric spec per column kind: (metric, spark_expr_factory, sql_expr,
    is_string_valued). Spark expressions are FACTORIES (built lazily inside
    digest_df) because Column construction needs an active SparkContext,
    while oracle SQL is assembled at import/registration time."""
    if kind == "num":
        return [
            (
                f"sum:{col}",
                # STRING-valued on purpose: the DECIMAL(38,6) sum is exact
                # and renders identically in both engines at any magnitude;
                # casting to DOUBLE instead loses above 2^53 where the two
                # engines' rounding diverges by 1 ulp (round-6 red row).
                lambda c=col: F.sum(F.col(c).cast("decimal(38,6)")).cast("string"),
                f"CAST(SUM(CAST({col} AS DECIMAL(38,6))) AS VARCHAR)",
                True,
            ),
            (
                f"cntd:{col}",
                lambda c=col: F.countDistinct(F.col(c)).cast("double"),
                f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)",
                False,
            ),
        ]
    if kind == "dbl":
        # Clamp to ±DBL_CLAMP before the micro-fold so every intermediate
        # stays an EXACT integer double (< 2^53): beyond that, Spark's
        # floor(double)->LONG saturates while DuckDB floors in double, and
        # double->decimal casts use shortest-repr vs exact-binary rules —
        # found by the fuzzer (tests/test_digest_property.py). Out-of-range
        # values saturate identically on both engines; real digest columns
        # (prices, ratios, running sums) sit orders of magnitude inside.
        clamp_sql = (
            f"CASE WHEN {col} IS NOT NULL THEN "
            f"LEAST(GREATEST({col}, -{DBL_CLAMP:.1f}), {DBL_CLAMP:.1f}) END"
        )
        return [
            (
                f"sumf:{col}",
                # STRING-valued: each clamped micro-fold TERM is exact in
                # double, but the SUM over N rows can exceed 2^53 where the
                # final decimal→double cast diverges by 1 ulp between
                # engines — same class as the round-6 `num` red. The
                # integer-decimal string renders identically everywhere.
                lambda c=col: F.sum(
                    F.floor(_dbl_clamp(F.col(c)) * 1000000).cast("decimal(38,0)")
                ).cast("string"),
                f"CAST(SUM(CAST(FLOOR(({clamp_sql}) * 1000000) AS DECIMAL(38,0))) AS VARCHAR)",
                True,
            ),
            (
                f"cntd:{col}",
                lambda c=col: F.countDistinct(F.col(c)).cast("double"),
                f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)",
                False,
            ),
        ]
    if kind == "str":
        return [
            (
                f"cntd:{col}",
                lambda c=col: F.countDistinct(F.col(c)).cast("double"),
                f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)",
                False,
            ),
            (f"minh:{col}", lambda c=col: F.min(F.md5(F.col(c))), f"MIN(md5({col}))", True),
            (f"maxh:{col}", lambda c=col: F.max(F.md5(F.col(c))), f"MAX(md5({col}))", True),
        ]
    if kind == "date":
        return [
            (
                f"mind:{col}",
                lambda c=col: F.min(F.datediff(F.col(c), F.lit("1970-01-01"))).cast("double"),
                f"CAST(MIN({col} - {_EPOCH}) AS DOUBLE)",
                False,
            ),
            (
                f"maxd:{col}",
                lambda c=col: F.max(F.datediff(F.col(c), F.lit("1970-01-01"))).cast("double"),
                f"CAST(MAX({col} - {_EPOCH}) AS DOUBLE)",
                False,
            ),
            (
                f"cntd:{col}",
                lambda c=col: F.countDistinct(F.col(c)).cast("double"),
                f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)",
                False,
            ),
        ]
    if kind == "ts":
        return [
            (
                f"mint:{col}",
                lambda c=col: F.min(F.unix_micros(F.col(c).cast("timestamp"))).cast("double"),
                f"CAST(MIN(epoch_us({col})) AS DOUBLE)",
                False,
            ),
            (
                f"maxt:{col}",
                lambda c=col: F.max(F.unix_micros(F.col(c).cast("timestamp"))).cast("double"),
                f"CAST(MAX(epoch_us({col})) AS DOUBLE)",
                False,
            ),
            (
                f"cntd:{col}",
                lambda c=col: F.countDistinct(F.unix_micros(F.col(c).cast("timestamp"))).cast("double"),
                f"CAST(COUNT(DISTINCT epoch_us({col})) AS DOUBLE)",
                False,
            ),
        ]
    if kind == "bool":
        return [
            (
                f"sumb:{col}",
                # when/otherwise maps NULL -> 0 exactly like the SQL CASE;
                # a bare SUM(CAST(col AS LONG)) would skip NULLs and return
                # NULL on an all-NULL column while the oracle returns 0
                lambda c=col: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("double"),
                f"CAST(SUM(CASE WHEN {col} THEN 1 ELSE 0 END) AS DOUBLE)",
                False,
            ),
            (
                f"cnt:{col}",
                lambda c=col: F.count(F.col(c)).cast("double"),
                f"CAST(COUNT({col}) AS DOUBLE)",
                False,
            ),
        ]
    raise ValueError(f"unknown digest kind {kind!r} for column {col!r}")


def _metrics(cols: tuple[tuple[str, str], ...]) -> list[tuple[str, "Callable[[], Column]", str, bool]]:
    out: list[tuple[str, "Callable[[], Column]", str, bool]] = [
        ("n_rows", lambda: F.count(F.lit(1)).cast("double"), "CAST(COUNT(*) AS DOUBLE)", False)
    ]
    for col, kind in cols:
        out.extend(_kind_metrics(col, kind))
    return out


# --------------------------------------------------------------------------
# Spark side: one aggregation pass -> long-format digest rows
# --------------------------------------------------------------------------


def digest_df(df: DataFrame, op: str, cols: tuple[tuple[str, str], ...]) -> DataFrame:
    """Digest a component's result: ONE aggregation over the full result
    (map-side partial everywhere), exploded to (op, metric, value_num,
    value_str) rows. The component's whole plan still executes — the digest
    only replaces driver-side row shipping with an aggregate."""
    ms = _metrics(cols)
    agg_row = df.agg(*[make() .alias(f"_m{i}") for i, (_, make, _, _) in enumerate(ms)])
    structs = [
        F.struct(
            F.lit(op).alias("op"),
            F.lit(name).alias("metric"),
            (F.lit(None).cast("double") if is_str else F.col(f"_m{i}").cast("double")).alias(
                "value_num"
            ),
            (F.col(f"_m{i}").cast("string") if is_str else F.lit(None).cast("string")).alias(
                "value_str"
            ),
        )
        for i, (name, _, _, is_str) in enumerate(ms)
    ]
    return agg_row.select(F.explode(F.array(*structs)).alias("_d")).select(
        "_d.op", "_d.metric", "_d.value_num", "_d.value_str"
    )


# --------------------------------------------------------------------------
# DuckDB side: the same digest over the component's original oracle SQL
# --------------------------------------------------------------------------


def digest_sql(op: str, inner_sql: str, cols: tuple[tuple[str, str], ...]) -> str:
    """Digest oracle: aggregate the component's full-result oracle once,
    then emit the same long-format rows.

    ``_src``/``_agg`` are declared ``AS MATERIALIZED``: the UNION ALL body
    references ``_agg_{op}`` once per metric, and DuckDB's default CTE
    inlining would re-evaluate the component's ENTIRE oracle per metric
    branch (~13x work; the branches can also run concurrently — at sf0.1
    that re-evaluation blew the rec_prep_suite sweep past the RAM/spill
    budget on the rrf/itemcf members). Materialized, each component's
    oracle runs exactly once per suite — the same single-evaluation shape
    as the Spark side's one-pass digest aggregation."""
    ms = _metrics(cols)
    agg_exprs = ",\n         ".join(
        f"{sql} AS _m{i}" for i, (_, _, sql, _) in enumerate(ms)
    )
    selects = []
    for i, (name, _, _, is_str) in enumerate(ms):
        vn = "CAST(NULL AS DOUBLE)" if is_str else f"_m{i}"
        vs = f"_m{i}" if is_str else "CAST(NULL AS VARCHAR)"
        selects.append(
            f"SELECT '{op}' AS op, '{name}' AS metric, {vn} AS value_num, {vs} AS value_str FROM _agg_{op}"
        )
    body = "\n  UNION ALL ".join(selects)
    return (
        f"(WITH _src_{op} AS MATERIALIZED ({inner_sql}),\n"
        f"  _agg_{op} AS MATERIALIZED (SELECT {agg_exprs} FROM _src_{op})\n"
        f"  {body})"
    )


# --------------------------------------------------------------------------
# Suite registration
# --------------------------------------------------------------------------


def register_suite(name: str, comps: dict[str, Component]) -> None:
    """Register ONE driver-visible query + oracle covering every component.

    Components run sequentially inside the suite (they are independent
    Spark jobs; the scheduler overlaps stages), each reduced to digest rows
    and unioned. The oracle is the UNION ALL of each component's digest SQL
    over its original full-result oracle."""
    items = list(comps.items())
    for cname, comp in items:
        if comp.oracle is None or not comp.cols:
            raise ValueError(f"suite {name}: component {cname} needs an oracle and cols")

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        out: DataFrame | None = None
        for cname, comp in items:
            d = digest_df(comp.fn(spark, sf_dir), cname, comp.cols)
            out = d if out is None else out.unionByName(d)
        assert out is not None
        return out

    fn.__name__ = name
    fn.__doc__ = f"Digest suite over components: {', '.join(c for c, _ in items)}."
    oracle = "\nUNION ALL\n".join(
        digest_sql(cname, comp.oracle, comp.cols) for cname, comp in items
    )
    register(name, oracle=oracle)(fn)
