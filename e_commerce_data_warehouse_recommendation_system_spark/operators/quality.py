"""Declarative data-quality checks (single-pass, Deequ-style).

The reference's quality assurance is ad-hoc: a count smoke check
(reference: README.md:54-57), a null-profile print
(reference: postgres_reader.py:123-127) and a column-existence guard
(reference: dags/transform_fact_orders.py:42-46). This generalizes them
into a rule set evaluated in ONE aggregation pass over the table — every
rule compiles to an aggregate expression, so a 100 TB validation costs one
scan + one tiny shuffle regardless of how many rules run.

Rules return violation counts (0 = pass), emitted long-format
(rule, violations) so downstream alerting can diff runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.registry import component, register
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare


def not_null(col: str) -> tuple[str, Column]:
    return f"not_null({col})", F.coalesce(F.sum(F.col(col).isNull().cast("long")), F.lit(0))


def unique(col: str) -> tuple[str, Column]:
    """count - countDistinct = surplus duplicate rows (0 when unique).
    Nulls are ignored by both counts, matching SQL UNIQUE semantics."""
    return f"unique({col})", F.count(col) - F.countDistinct(col)


def in_range(col: str, lo: float, hi: float) -> tuple[str, Column]:
    c = F.col(col)
    return (
        f"in_range({col},{lo},{hi})",
        F.coalesce(F.sum(((c < lo) | (c > hi)).cast("long")), F.lit(0)),
    )


def accepted_values(col: str, values: tuple[str, ...]) -> tuple[str, Column]:
    return (
        f"accepted_values({col})",
        F.coalesce(F.sum((~F.col(col).isin(*values)).cast("long")), F.lit(0)),
    )


def matches_regex(col: str, pattern: str) -> tuple[str, Column]:
    return (
        f"matches_regex({col})",
        F.coalesce(F.sum((~F.col(col).rlike(pattern)).cast("long")), F.lit(0)),
    )


def validate(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Evaluate every rule in one aggregation; return (rule, violations)."""
    agg = df.agg(*[expr.alias(f"_r{i}") for i, (_, expr) in enumerate(rules)])
    stacked = ", ".join(f"'{name}', _r{i}" for i, (name, _) in enumerate(rules))
    return agg.selectExpr(f"stack({len(rules)}, {stacked}) AS (rule, violations)")


@register(
    "dq_orders_checks",
    oracle="""
    WITH agg AS (
      -- DuckDB types SUM(<integer>) as HUGEINT (int128); Spark returns BIGINT.
      -- The driver's value hash is type-sensitive, so every integer SUM must
      -- be cast back to BIGINT to hash-match the Spark long.
      SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r0,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS r1,
             CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS r3,
             CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[0-9]-') THEN 1 ELSE 0 END) AS BIGINT) AS r4
      FROM orders
    )
    SELECT 'not_null(o_orderkey)' AS rule, r0 AS violations FROM agg
    UNION ALL SELECT 'unique(o_orderkey)', r1 FROM agg
    UNION ALL SELECT 'in_range(o_totalprice,0,1000000)', r2 FROM agg
    UNION ALL SELECT 'accepted_values(o_orderstatus)', r3 FROM agg
    UNION ALL SELECT 'matches_regex(o_orderpriority)', r4 FROM agg
    """,
)
def dq_orders_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five rules over orders in one pass: PK not-null + unique, price
    range, status domain, priority format."""
    prepare(spark, sf_dir)
    o = spark.table("orders")
    rules = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 1_000_000),
        accepted_values("o_orderstatus", ("O", "F", "P")),
        matches_regex("o_orderpriority", "^[0-9]-"),
    ]
    return validate(o, rules)


#: per-segment outlier threshold: values above this quantile of their own
#: event_type are flagged. 0.995 on the synthetic data keeps every segment
#: with a non-empty outlier set while staying in the tail.
OUTLIER_QUANTILE = 0.995


@component(
    "dq_value_outliers",
    oracle=f"""
    WITH thresholds AS (
      SELECT event_type, quantile_cont(value, {OUTLIER_QUANTILE}) AS threshold
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value > t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           t.threshold
    FROM events e JOIN thresholds t ON e.event_type = t.event_type
    GROUP BY e.event_type, t.threshold
    """,
    cols=[
        ("event_type", "str"),
        ("n_events", "num"),
        ("n_outliers", "num"),
        ("threshold", "dbl"),
    ],
)
def dq_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment tail-outlier detection — the data-quality twin of the
    fixed-bound ``in_range`` rule: instead of a hand-set limit, each
    segment's own exact 99.5th percentile becomes its threshold, so a
    segment whose value distribution shifts flags itself. Shape: one
    aggregation computes the per-type quantile (exact ``percentile`` —
    proven identical to DuckDB's ``quantile_cont`` by a11_percentiles; at
    100 TB swap for ``approx_percentile``, a mergeable sketch with the
    same plan), the tiny threshold table broadcasts back, and the flag
    count is a map-side CASE inside the same scan — two passes over
    events, no window, no sort."""
    prepare(spark, sf_dir)
    ev = spark.table("events")
    thresholds = ev.groupBy("event_type").agg(
        F.percentile("value", OUTLIER_QUANTILE).alias("threshold")
    )
    return (
        ev.join(F.broadcast(thresholds), "event_type")
        .groupBy("event_type", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") > F.col("threshold")).cast("long")).alias("n_outliers"),
        )
        .select("event_type", "n_events", "n_outliers", "threshold")
    )


# --------------------------------------------------------------------------
# In-flight observed metrics (df.observe) — instrumentation without a
# second pass
# --------------------------------------------------------------------------


@component(
    "dq_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_custkeys,
           SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS observed_revenue,
           CAST(COUNT(*) AS BIGINT) AS sink_rows
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
    cols=[
        ("n_rows", "num"),
        ("null_custkeys", "num"),
        ("observed_revenue", "num"),
        ("sink_rows", "num"),
    ],
)
def dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ metrics observed IN-FLIGHT on a real query via ``df.observe``
    (the Observation API): row count, null-key count, and the decimal
    revenue sum are collected as accumulator-style aggregates WHILE the
    query's own action runs — no second scan, no extra job. This is how a
    production pipeline instruments every stage (Deequ's runtime-metrics
    mode, Delta Live Tables expectations) as opposed to the separate
    validation pass of dq_orders_checks: both exist because both are real
    patterns — validate-then-load wants the standalone pass, continuous
    pipelines want the free in-flight one.

    The oracle recomputes the same aggregates relationally, so the
    Observation values (which cross the JVM boundary through a listener,
    a DIFFERENT path from collect()) are value-checked against SQL — and
    the sink count is reported independently from the observed count,
    proving observation never perturbs the observed frame.

    Scale: observe compiles to the same partial aggregates as agg() fused
    into the existing job's stages — zero additional shuffles (the metric
    exchange is the driver-side accumulator merge)."""
    from pyspark.sql import Observation

    prepare(spark, sf_dir)
    obs = Observation("dq_inflight")
    urgent = (
        spark.table("orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(F.col("o_custkey").isNull().cast("long")), F.lit(0)
            ).alias("null_custkeys"),
            F.sum(F.col("o_totalprice").cast("decimal(28,8)")).alias(
                "observed_revenue"
            ),
        )
    )
    sink_rows = urgent.count()  # the query's own action triggers the metrics
    got = obs.get
    return spark.createDataFrame(
        [
            (
                got["n_rows"],
                got["null_custkeys"],
                got["observed_revenue"],
                sink_rows,
            )
        ],
        schema=(
            "n_rows bigint, null_custkeys bigint, "
            "observed_revenue decimal(38,8), sink_rows bigint"
        ),
    )


# --------------------------------------------------------------------------
# Cross-source reconciliation (header totals vs line-item rollup)
# --------------------------------------------------------------------------

#: tolerance for header-vs-lines total mismatch, in scale-4 units (0.01)
RECONCILE_TOL_UNITS = 100


@component(
    "dq_reconcile_totals",
    oracle=f"""
    WITH lines AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(28,4)) * 10000) AS BIGINT) AS line_units
      FROM lineitem GROUP BY l_orderkey
    ),
    cmp AS (
      SELECT o.o_orderstatus,
             ABS(CAST(CAST(o.o_totalprice AS DECIMAL(28,4)) * 10000 AS BIGINT)
                 - l.line_units) AS diff_units
      FROM orders o JOIN lines l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN diff_units > {RECONCILE_TOL_UNITS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(MAX(diff_units) AS BIGINT) AS max_diff_units
    FROM cmp GROUP BY o_orderstatus
    """,
    cols=[
        ("o_orderstatus", "str"),
        ("n_orders", "num"),
        ("n_mismatched", "num"),
        ("max_diff_units", "num"),
    ],
)
def dq_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source reconciliation — the finance-closing DQ check the
    single-table rule set can't express: does every order HEADER total
    equal its LINE-ITEM rollup (Σ extendedprice·(1−disc)·(1+tax)) within
    a cent? Mismatch counts and the worst absolute difference per order
    status, everything in scale-4 integer units end-to-end (each factor
    carries ≤2 decimals, so the triple product is exact at scale 4 —
    comparing decimals as integers sidesteps every float-tolerance
    question a reconciliation normally drags in).

    Scale: one map-side-combined rollup to the order grain, one keyed
    header⋈rollup join (same key, co-partitioned), one status rollup —
    the whole audit is two shuffles over data that never widens."""
    prepare(spark, sf_dir)
    lines = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(
            (
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                    ).cast("decimal(28,4)")
                )
                * 10000
            )
            .cast("long")
            .alias("line_units")
        )
    )
    cmp = (
        spark.table("orders")
        .join(lines, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderstatus",
            F.abs(
                (F.col("o_totalprice").cast("decimal(28,4)") * 10000).cast("long")
                - F.col("line_units")
            ).alias("diff_units"),
        )
    )
    return cmp.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("diff_units") > RECONCILE_TOL_UNITS, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatched"),
        F.max("diff_units").cast("long").alias("max_diff_units"),
    )


# --------------------------------------------------------------------------
# Freshness SLA: per-source staleness against the corpus high-water mark
# --------------------------------------------------------------------------

#: staleness budget per event source, in hours behind the global max ts
FRESHNESS_SLA_HOURS = 24


@component(
    "dq_freshness_sla",
    oracle=f"""
    WITH hwm AS (
      SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events
    ),
    per_type AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.n_events,
           CAST(p.last_us AS BIGINT) AS last_us,
           CAST(FLOOR(CAST(h.max_us - p.last_us AS DOUBLE) / 3600000000.0)
             AS BIGINT) AS lag_hours,
           h.max_us - p.last_us <= {FRESHNESS_SLA_HOURS} * 3600000000
             AS within_sla
    FROM per_type p, hwm h
    """,
    cols=[
        ("event_type", "str"),
        ("n_events", "num"),
        ("last_us", "num"),
        ("lag_hours", "num"),
        ("within_sla", "bool"),
    ],
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness SLA — the pipeline-health check every warehouse
    runs before trusting a downstream rollup: how far does each event
    source's high-water mark lag the corpus-wide one, and is it inside the
    {FRESHNESS_SLA_HOURS} h budget? The reference instant is the GLOBAL
    max(ts), not wall-clock now(), so the check is deterministic and
    replayable (the production swap to now() is one literal). Instants
    cross as epoch-µs int64 (the r6-proven digest form); the lag floors to
    whole hours in exact integer arithmetic, and the verdict binds to the
    integer comparison.

    The hour lag crosses through the explicit double-floor op-tree on
    BOTH sides (an integer `//` on the oracle against a double FLOOR on
    the engine can disagree by 1 at exact-multiple boundaries); the SLA
    verdict itself binds to the pure int64 comparison in µs, so it can
    never disagree regardless of the floor form.

    Scale: two map-side-combined aggregations over one scan (global max
    rides a 1-row broadcast cross join) — O(scan), output bounded by
    |event types|."""
    prepare(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    hwm = ev.agg(F.max("us").alias("max_us"))
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("us").alias("last_us")
    )
    lag_hours = F.floor(
        (F.col("max_us") - F.col("last_us")).cast("double") / 3600000000.0
    )
    return per_type.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        F.col("last_us").cast("long").alias("last_us"),
        lag_hours.cast("long").alias("lag_hours"),
        (
            F.col("max_us") - F.col("last_us") <= FRESHNESS_SLA_HOURS * 3600000000
        ).alias("within_sla"),
    )


# --------------------------------------------------------------------------
# Curation-side DQ: the documents-table contract a training pipeline gates on
# --------------------------------------------------------------------------

DOC_LANGS = ("en", "de", "fr", "es", "zh")


@component(
    "dq_documents_checks",
    cols=[("rule", "str"), ("violations", "num")],
    oracle=f"""
    WITH agg AS (
      SELECT CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r0,
             COUNT(doc_id) - COUNT(DISTINCT doc_id) AS r1,
             CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS r2,
             CAST(SUM(CASE WHEN lang NOT IN
                      ({", ".join(f"'{lg}'" for lg in DOC_LANGS)})
                      THEN 1 ELSE 0 END) AS BIGINT) AS r3,
             CAST(SUM(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$')
                      THEN 1 ELSE 0 END) AS BIGINT) AS r4,
             CAST(SUM(CASE WHEN n_chars <> length(text)
                      THEN 1 ELSE 0 END) AS BIGINT) AS r5
      FROM documents
    )
    SELECT 'not_null(doc_id)' AS rule, r0 AS violations FROM agg
    UNION ALL SELECT 'unique(doc_id)', r1 FROM agg
    UNION ALL SELECT 'non_empty(text)', r2 FROM agg
    UNION ALL SELECT 'accepted_values(lang)', r3 FROM agg
    UNION ALL SELECT 'matches_regex(source)', r4 FROM agg
    UNION ALL SELECT 'derived_consistent(n_chars)', r5 FROM agg
    """,
)
def dq_documents_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents-table CONTRACT a curation pipeline gates ingestion on
    — the curation-side twin of dq_orders_checks: PK not-null + unique,
    non-empty text, language in the supported domain, source naming
    format, and the DERIVED-COLUMN integrity rule ``n_chars ==
    length(text)`` (a stale or corrupted precomputed column silently
    poisons every length-based quality filter downstream — this is the
    check that catches it at the gate). Six rules compile into ONE
    aggregation pass (the dq_orders_checks / validate() shape): a 100 TB
    validation costs one scan + one tiny shuffle however many rules run."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    rules = [
        not_null("doc_id"),
        unique("doc_id"),
        (
            "non_empty(text)",
            F.coalesce(
                F.sum((F.col("text").isNull() | (F.length("text") == 0)).cast("long")),
                F.lit(0),
            ),
        ),
        accepted_values("lang", DOC_LANGS),
        matches_regex("source", "^src[0-9]+$"),
        (
            "derived_consistent(n_chars)",
            F.coalesce(
                F.sum((F.col("n_chars") != F.length("text")).cast("long")), F.lit(0)
            ),
        ),
    ]
    return validate(d, rules)


#: md5-first-hex split of doc_id into the REFERENCE (0-7, ~half) vs
#: CURRENT snapshot halves — the deterministic stand-in for week-over-week
#: corpus snapshots the drift monitor compares
DRIFT_REF_DIGITS = tuple("01234567")


@component(
    "dq_corpus_drift",
    cols=[
        ("lang", "str"),
        ("n_ref", "num"),
        ("n_cur", "num"),
        ("share_ref_micro", "num"),
        ("share_cur_micro", "num"),
        ("share_delta_micro", "num"),
        ("mean_chars_ref_micro", "num"),
        ("mean_chars_cur_micro", "num"),
    ],
    oracle=f"""
    WITH tagged AS (
      SELECT lang, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ({", ".join(f"'{d}'" for d in DRIFT_REF_DIGITS)}) AS is_ref
      FROM documents
    ),
    tot AS (
      SELECT SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS t_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS t_cur
      FROM tagged
    ),
    per_lang AS (
      SELECT lang,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur,
             SUM(CASE WHEN is_ref THEN n_chars ELSE 0 END) AS c_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE n_chars END) AS c_cur
      FROM tagged GROUP BY lang
    )
    SELECT lang,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(1000000 * n_ref // GREATEST(t_ref, 1) AS BIGINT)
             AS share_ref_micro,
           CAST(1000000 * n_cur // GREATEST(t_cur, 1) AS BIGINT)
             AS share_cur_micro,
           CAST(ABS(1000000 * n_ref // GREATEST(t_ref, 1)
                    - 1000000 * n_cur // GREATEST(t_cur, 1)) AS BIGINT)
             AS share_delta_micro,
           CAST(1000000 * c_ref // GREATEST(n_ref, 1) AS BIGINT)
             AS mean_chars_ref_micro,
           CAST(1000000 * c_cur // GREATEST(n_cur, 1) AS BIGINT)
             AS mean_chars_cur_micro
    FROM per_lang CROSS JOIN tot
    """,
)
def dq_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DRIFT MONITOR — the distribution-comparison gate a
    continuously-ingested training corpus runs between snapshots: the
    per-language composition (document share) and length profile (mean
    chars) of the reference half vs the current half, with the per-lang
    absolute share delta in integer micro units (summing it gives the
    total-variation distance × 2 — the alert statistic; a PSI/KL form
    needs ln(), which is not correctly-rounded identically across
    engines — the text_lm_score lesson, so the monitor stays in exact
    integer ratios). The two halves are deterministic md5 splits of one
    fixture (the stand-in for week-over-week snapshots — the operator
    takes any two frames in production). Everything is integer counts
    and floor divisions: the whole monitor hash-matches cross-engine,
    so a drifted ingest OR a broken monitor both flip cells.

    Scale: ONE scan with a map-side split tag, one groupBy on the
    bounded lang grain + a 1-row total broadcast — the dq_orders_checks
    cost shape applied to drift."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    is_ref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        *DRIFT_REF_DIGITS
    )
    tagged = d.select("lang", "n_chars", is_ref.alias("is_ref"))
    per_lang = tagged.groupBy("lang").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
        F.sum(F.when(F.col("is_ref"), F.col("n_chars")).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("n_chars"))).alias("c_cur"),
    )
    tot = tagged.agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("t_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("t_cur"),
    )
    share_ref = F.expr("div(1000000 * n_ref, greatest(t_ref, 1))")
    share_cur = F.expr("div(1000000 * n_cur, greatest(t_cur, 1))")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        share_ref.cast("bigint").alias("share_ref_micro"),
        share_cur.cast("bigint").alias("share_cur_micro"),
        F.abs(share_ref - share_cur).cast("bigint").alias("share_delta_micro"),
        F.expr("div(1000000 * c_ref, greatest(n_ref, 1))")
        .cast("bigint")
        .alias("mean_chars_ref_micro"),
        F.expr("div(1000000 * c_cur, greatest(n_cur, 1))")
        .cast("bigint")
        .alias("mean_chars_cur_micro"),
    )
