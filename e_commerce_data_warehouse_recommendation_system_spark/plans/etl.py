"""Warehouse ETL: staging -> dimensions -> fact (SURVEY.md SS1.3, SS3.1).

The reference's Kimball star build: six pandas transforms + one fact join
chain, materialized through PostgreSQL between every stage
(reference: dags/transform_*.py, orchestrated by dags/e_commerce_dw_dag.py).
Spark-first version: each dim/fact is a lazy DataFrame builder; Catalyst sees
the whole plan, the Postgres staging round-trips disappear, and
materialization is an explicit parquet write (``run_pipeline``).

Semantics preserved from the reference, mapped onto the testdata star:

- surrogate keys = ``row_number`` over an explicit natural-key order (W1,
  reference: transform_dim_customers.py:19 ``df.index + 1``; pandas index
  order is load order, so the deterministic ``ORDER BY`` is the honest
  distributed equivalent);
- SCD-1 ``is_current`` flag (reference: transform_dim_customers.py:21);
- string cleanup: title-case names, lower-case categories
  (reference: transform_dim_customers.py:15-16, transform_dim_payments.py:11);
- generated date dimension (S13, reference: transform_dim_dates.py:9-23)
  with pandas weekday origin;
- fact build = left-join fan-out + derived metrics: total_amount (F12) and
  fractional-day durations (F11, reference: transform_fact_orders.py:32-34).

Scale notes: every dim is broadcast-joined against the fact (dims are
bounded; facts are not). ``row_number`` over a global ORDER BY is a single
total-order sort — fine for dimension tables (bounded), never used on facts.
The fact build shuffles lineitem+orders once on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.functions.scalar import (
    dec_sum,
    dec_sum_str,
    duration_days,
    word_title,
)
from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
    surrogate_key,
)
from e_commerce_data_warehouse_recommendation_system_spark.registry import component, register
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
    calendar_frame,
    prepare,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import write_table

# DuckDB twin of functions.scalar.word_title (space-delimited title-case).
def _sql_title(col: str) -> str:
    return (
        f"array_to_string(list_transform(string_split(lower({col}), ' '), "
        f"w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')"
    )


def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,8))) AS DOUBLE)"


def _dsum_str(expr: str) -> str:
    # driver-visible exact sums cross as scale-pinned STRINGS: the double
    # cast diverges by 1 ulp between engines above 2^53, and a raw DECIMAL
    # output column is not driver-hashable (see functions/scalar.py)
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,8))) AS VARCHAR)"


# --------------------------------------------------------------------------
# Dimensions
# --------------------------------------------------------------------------


@component(
    "etl_dim_customer",
    cols=[
        ("customer_key", "num"),
        ("c_custkey", "num"),
        ("customer_name", "str"),
        ("mktsegment", "str"),
        ("nation", "str"),
        ("region", "str"),
        ("c_acctbal", "dbl"),
        ("is_current", "bool"),
    ],
    oracle=f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT) AS customer_key,
           c_custkey,
           {_sql_title('c_name')} AS customer_name,
           lower(c_mktsegment)    AS mktsegment,
           n_name                 AS nation,
           r_name                 AS region,
           c_acctbal,
           TRUE AS is_current
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_customers analog (reference: dags/transform_dim_customers.py:10-29):
    clean strings, denormalize geography, surrogate key, SCD-1 flag."""
    prepare(spark, sf_dir)
    c = spark.table("customer")
    n = spark.table("nation")
    r = spark.table("region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            word_title("c_name").alias("customer_name"),
            F.lower("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_acctbal",
            F.lit(True).alias("is_current"),
        )
    )
    # customer grows with scale factor -> two-phase key, never a
    # single-partition global sort (operators/relational.surrogate_key).
    return surrogate_key(base, "c_custkey", "customer_key").select(
        "customer_key",
        "c_custkey",
        "customer_name",
        "mktsegment",
        "nation",
        "region",
        "c_acctbal",
        "is_current",
    )


@component(
    "etl_dim_part",
    cols=[
        ("part_key", "num"),
        ("p_partkey", "num"),
        ("p_name", "str"),
        ("brand", "str"),
        ("part_type", "str"),
        ("part_size", "num"),
        ("p_retailprice", "dbl"),
    ],
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS INT) AS part_key,
           p_partkey,
           p_name,
           upper(p_brand) AS brand,
           coalesce(p_type, 'Unknown') AS part_type,
           coalesce(p_size, 0) AS part_size,
           p_retailprice
    FROM part
    """,
)
def dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_products analog (reference: dags/transform_dim_products.py:14-24):
    fillna defaults (P7) + surrogate key. The reference's category-translation
    left join (J1) is played by the customer dim's geography joins."""
    prepare(spark, sf_dir)
    p = spark.table("part")
    base = p.select(
        "p_partkey",
        "p_name",
        F.upper("p_brand").alias("brand"),
        F.coalesce("p_type", F.lit("Unknown")).alias("part_type"),
        F.coalesce("p_size", F.lit(0)).alias("part_size"),
        "p_retailprice",
    )
    return surrogate_key(base, "p_partkey", "part_key").select(
        "part_key", "p_partkey", "p_name", "brand", "part_type", "part_size", "p_retailprice"
    )


@component(
    "etl_dim_supplier",
    cols=[
        ("supplier_key", "num"),
        ("s_suppkey", "num"),
        ("supplier_name", "str"),
        ("nation", "str"),
        ("s_acctbal", "dbl"),
    ],
    oracle=f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS INT) AS supplier_key,
           s_suppkey,
           {_sql_title('s_name')} AS supplier_name,
           n_name AS nation,
           s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    """,
)
def dim_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_sellers analog (reference: dags/transform_dim_sellers.py:13-18)."""
    prepare(spark, sf_dir)
    s = spark.table("supplier")
    n = spark.table("nation")
    base = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey",
        word_title("s_name").alias("supplier_name"),
        F.col("n_name").alias("nation"),
        "s_acctbal",
    )
    return surrogate_key(base, "s_suppkey", "supplier_key").select(
        "supplier_key", "s_suppkey", "supplier_name", "nation", "s_acctbal"
    )


@component(
    "etl_dim_market",
    cols=[("market_key", "num"), ("mktsegment", "str")],
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY mktsegment) AS INT) AS market_key,
           mktsegment
    FROM (SELECT DISTINCT lower(c_mktsegment) AS mktsegment FROM customer)
    """,
)
def dim_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_payments analog (reference: dags/transform_dim_payments.py:11-18):
    lowercase the type, dedup the domain, assign sorted-order keys — the
    same lower->drop_duplicates->index+1 pipeline over the testdata's
    market-segment domain. Bounded domain -> global window is fine."""
    prepare(spark, sf_dir)
    from pyspark.sql.window import Window

    dom = (
        spark.table("customer")
        .select(F.lower("c_mktsegment").alias("mktsegment"))
        .distinct()
    )
    w = Window.orderBy("mktsegment")
    return dom.select(
        F.row_number().over(w).cast("int").alias("market_key"), "mktsegment"
    )


@component(
    "etl_dim_geo",
    cols=[
        ("geo_key", "num"),
        ("n_nationkey", "num"),
        ("nation_name", "str"),
        ("region_name", "str"),
    ],
    oracle=f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS INT) AS geo_key,
           n_nationkey,
           {_sql_title('n_name')} AS nation_name,
           r_name AS region_name
    FROM (
      SELECT n_nationkey, n_name, r_name,
             ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ) WHERE rn <= 3
    """,
)
def dim_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_geolocation analog (reference: dags/transform_dim_geolocation.py:13-21):
    clean strings, keep-FIRST dedup per geography bucket (D1 semantics under
    an explicit order — here the 3 lowest-keyed nations per region play the
    deduped zip prefixes), surrogate key."""
    prepare(spark, sf_dir)
    from pyspark.sql.window import Window

    n, r = spark.table("nation"), spark.table("region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    w_dedup = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    kept = (
        joined.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") <= 3)
        .select("n_nationkey", "n_name", "r_name")
    )
    w_key = Window.orderBy("n_nationkey")
    return kept.select(
        F.row_number().over(w_key).cast("int").alias("geo_key"),
        "n_nationkey",
        word_title("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


@component(
    "etl_dim_date",
    cols=[
        ("date_key", "date"),
        ("day", "num"),
        ("month", "num"),
        ("year", "num"),
        ("quarter", "num"),
        ("day_of_week", "num"),
        ("day_name", "str"),
        ("month_name", "str"),
        ("is_weekend", "bool"),
    ],
    oracle="""
    SELECT CAST(d AS DATE) AS date_key,
           dayofmonth(d)   AS day,
           month(d)        AS month,
           year(d)         AS year,
           quarter(d)      AS quarter,
           CAST(isodow(d) - 1 AS INT)  AS day_of_week,
           strftime(d, '%A') AS day_name,
           strftime(d, '%B') AS month_name,
           isodow(d) >= 6  AS is_weekend
    FROM (SELECT unnest(generate_series(DATE '2016-01-01', DATE '2025-12-31', INTERVAL 1 DAY)) AS d)
    """,
)
def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_dates analog (S13, reference: dags/transform_dim_dates.py:9-23).
    Generated, not scanned; pandas weekday origin (Mon=0) preserved."""
    prepare(spark, sf_dir)
    df = calendar_frame(spark)
    # Spark's (dayofweek+5)%7 yields int32 already; cast for parity clarity.
    return df.withColumn("day_of_week", F.col("day_of_week").cast("int"))


# --------------------------------------------------------------------------
# Fact
# --------------------------------------------------------------------------


@register(
    "etl_fact_sales",
    oracle="""
    SELECT o_orderkey AS order_id,
           l_linenumber AS line_number,
           o_custkey   AS customer_key,
           l_partkey   AS part_key,
           l_suppkey   AS supplier_key,
           CAST(o_orderdate AS DATE) AS order_date_key,
           lower(o_orderstatus) AS order_status,
           l_quantity  AS quantity,
           l_extendedprice AS price,
           l_discount  AS discount,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS total_amount,
           date_diff('second', o_orderdate, l_shipdate) / 86400.0 AS ship_delay_days
    FROM orders
    LEFT JOIN lineitem ON o_orderkey = l_orderkey
    """,
)
def fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_orders analog (reference: dags/transform_fact_orders.py:15-56).

    Same shape as the reference's fact build: left-join fan-out from the
    order grain to the line grain (J2 — orders with no lines survive with
    nulls, matching pandas ``merge(how='left')``), degenerate natural keys
    (reference: transform_fact_orders.py:37-39 uses ids as 'keys'; we keep
    that column semantics — proper surrogate-key joins live in the dims),
    derived total_amount (F12) and fractional-day ship delay (F11 — NOT
    datediff, which truncates; reference: transform_fact_orders.py:33-34).
    """
    prepare(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    return joined.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("o_custkey").alias("customer_key"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supplier_key"),
        F.to_date("o_orderdate").alias("order_date_key"),
        F.lower("o_orderstatus").alias("order_status"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "total_amount"
        ),
        duration_days("l_shipdate", "o_orderdate").alias("ship_delay_days"),
    )


@register(
    "etl_fact_double_fanout",
    oracle="""
    WITH items AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice AS price FROM lineitem
    ),
    payments AS (
      SELECT l_orderkey, l_linenumber AS pay_seq, l_extendedprice * 0.5 AS pay_amount
      FROM lineitem WHERE l_linenumber <= 2
    )
    SELECT o_orderkey AS order_id, l_linenumber AS line_number, price,
           pay_seq, pay_amount
    FROM orders
    LEFT JOIN items    ON o_orderkey = items.l_orderkey
    LEFT JOIN payments ON o_orderkey = payments.l_orderkey
    """,
)
def fact_double_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full form: the reference's fact build cross-expands each order by
    BOTH child tables — orders ⟕ items ⟕ payments on the same order_id is an
    intentional items x payments fan-out per order
    (reference: dags/transform_fact_orders.py:15-17). Payments are played by
    the first <=2 lines per order (the testdata star has one child table).
    Same-key consecutive joins: Catalyst reuses the orderkey exchange, so
    the double fan-out costs one shuffle partitioning, not two."""
    prepare(spark, sf_dir)
    li = spark.table("lineitem")
    o = spark.table("orders")
    items = li.select("l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("price"))
    payments = li.filter(F.col("l_linenumber") <= 2).select(
        F.col("l_orderkey").alias("p_orderkey"),
        F.col("l_linenumber").alias("pay_seq"),
        (F.col("l_extendedprice") * 0.5).alias("pay_amount"),
    )
    return (
        o.join(items, o.o_orderkey == items.l_orderkey, "left")
        .join(payments, o.o_orderkey == payments.p_orderkey, "left")
        .select(
            F.col("o_orderkey").alias("order_id"),
            "l_linenumber",
            "price",
            "pay_seq",
            "pay_amount",
        )
        .withColumnRenamed("l_linenumber", "line_number")
    )


@register(
    "etl_star_revenue_by_date",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date_key,
           year(o_orderdate)  AS year,
           month(o_orderdate) AS month,
           {_dsum_str('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(l_orderkey)  AS n_lines
    FROM orders
    LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3
    """,
)
def star_revenue_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'revenue by time' dashboard query over the built star — fact
    joined to the date dimension grain (reference README.md:117-121)."""
    prepare(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy(
            F.to_date("o_orderdate").alias("order_date_key"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(
            dec_sum_str(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("l_orderkey").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Pipeline driver (the DAG analog): build everything, materialize to parquet.
# --------------------------------------------------------------------------

DIM_BUILDERS = {
    "dim_customer": dim_customer,
    "dim_part": dim_part,
    "dim_supplier": dim_supplier,
    "dim_date": dim_date,
}


@register(
    "etl_scd2_customer_priority",
    oracle="""
    WITH feed AS (
      SELECT o_custkey, o_orderdate,
             MAX(o_orderpriority) AS attr
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    marked AS (
      SELECT o_custkey, o_orderdate, attr,
             CASE WHEN LAG(attr) OVER w IS NULL OR LAG(attr) OVER w <> attr
                  THEN 1 ELSE 0 END AS chg
      FROM feed
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    ),
    versions AS (
      SELECT o_custkey, o_orderdate, attr,
             SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ),
    collapsed AS (
      SELECT o_custkey AS customer_id, attr AS priority,
             CAST(version AS INT) AS version,
             MIN(o_orderdate) AS effective_from
      FROM versions GROUP BY o_custkey, attr, version
    )
    SELECT customer_id, version, priority,
           CAST(effective_from AS DATE) AS effective_from,
           CAST(LEAD(effective_from) OVER (PARTITION BY customer_id
                                           ORDER BY version) AS DATE) AS effective_to,
           LEAD(effective_from) OVER (PARTITION BY customer_id
                                      ORDER BY version) IS NULL AS is_current
    FROM collapsed
    """,
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: collapse a change feed into validity
    intervals (effective_from / effective_to / is_current). The reference
    stops at SCD-1's constant ``is_current`` flag
    (reference: dags/transform_dim_customers.py:21); this is the full
    slowly-changing form a warehouse needs: the change feed is each
    customer's per-day order priority (deduped to one attr per day via MAX
    so ties can't make version boundaries engine-dependent), versions open
    at each change (gap-islands: lag + running sum) and close at the next
    version's start.

    Scale: one shuffle on the customer key; every window is a linear
    per-key sweep — the same cost class as the sessionizer."""
    prepare(spark, sf_dir)
    from pyspark.sql.window import Window

    feed = (
        spark.table("orders")
        .groupBy(F.col("o_custkey"), F.col("o_orderdate"))
        .agg(F.max("o_orderpriority").alias("attr"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    chg = F.when(
        F.lag("attr").over(w).isNull() | (F.lag("attr").over(w) != F.col("attr")), 1
    ).otherwise(0)
    versions = feed.withColumn("chg", chg).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"),
    )
    collapsed = versions.groupBy(
        F.col("o_custkey").alias("customer_id"),
        F.col("attr").alias("priority"),
        "version",
    ).agg(F.min("o_orderdate").alias("effective_from"))
    w_v = Window.partitionBy("customer_id").orderBy("version")
    nxt = F.lead("effective_from").over(w_v)
    return collapsed.select(
        "customer_id",
        "version",
        "priority",
        F.col("effective_from").cast("date").alias("effective_from"),
        nxt.cast("date").alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@component(
    "etl_pipeline_counts",
    cols=[("table_name", "str"), ("n_rows", "num")],
    oracle="""
    SELECT 'dim_customer' AS table_name, COUNT(*) AS n_rows FROM customer
    UNION ALL SELECT 'dim_part', COUNT(*) FROM part
    UNION ALL SELECT 'dim_supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'dim_date', 3653
    UNION ALL SELECT 'fact_sales', COUNT(*)
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    """,
)
def etl_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole DAG end-to-end (reference: dags/e_commerce_dw_dag.py:38-94):
    build every dim + the fact, materialize to parquet (partitioned fact),
    read back, count — the reference's post-load smoke check
    (reference: README.md:54-57) as an oracle-checked query. Exercises
    write_table + partitionBy + re-read, not just the lazy plans."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ecomdw_etl_")
    try:
        counts = run_pipeline(spark, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(k, v) for k, v in counts.items()], schema="table_name string, n_rows bigint"
    )


def _fact_for_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fact_sales`` as loaded: plus its ``order_year`` partition column."""
    fact = fact_sales(spark, sf_dir).withColumn("order_year", F.year("order_date_key"))
    # sort within partitions by date so parquet row-group min/max stats make
    # day-level predicates skip row groups inside each year partition — the
    # second pruning tier after directory-level partition pruning
    return fact.sortWithinPartitions("order_date_key")


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Extract -> transform -> load, end to end (reference DAG
    e_commerce_dw_dag.py:38-94).

    Every dim and the fact is one task: build, write, read back and count
    (the reference's post-load smoke check, README.md:54-57). The tasks
    are independent, so they run at once on a driver thread pool,
    one thread per table, like Airflow's parallel dim tasks (H7): at
    warehouse sizes each table's jobs are mostly fixed per-job latency,
    and the scheduler fills the cores one table leaves idle with another
    table's tasks. Each task inherits the caller's job group and local
    properties (``inheritable_thread_target``), so its jobs can be traced
    and cancelled with the caller's.

    The fact is partitioned by order year: downstream time-sliced queries
    get partition pruning, the 100 TB must-have the reference lacks.
    Returns row counts per table, dims in ``DIM_BUILDERS`` order, then
    ``fact_sales``; a table that fails raises here."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # settle the view memo and the package shipping on this thread, before
    # the builders (which call prepare again) run concurrently
    prepare(spark, sf_dir)
    tables = [(name, builder, None) for name, builder in DIM_BUILDERS.items()]
    tables.append(("fact_sales", _fact_for_load, ["order_year"]))

    def load(builder, path: str, partition_by: list[str] | None) -> int:
        write_table(builder(spark, sf_dir), path, partition_by=partition_by)
        return spark.read.parquet(path).count()

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # one wrapper per task: each clones the caller's local properties,
        # so a job group one task sets never leaks into another
        futures = {
            name: pool.submit(
                inheritable_thread_target(spark)(load), builder, f"{out_dir}/{name}", part
            )
            for name, builder, part in tables
        }
        return {name: f.result() for name, f in futures.items()}


# --------------------------------------------------------------------------
# Point-in-time fact resolution against the SCD2 dimension
# --------------------------------------------------------------------------


@component(
    "j_pit_scd2",
    cols=[
        ("o_orderkey", "num"),
        ("customer_id", "num"),
        ("version", "num"),
        ("priority", "str"),
    ],
    oracle="""
    WITH feed AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderpriority) AS attr
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    marked AS (
      SELECT o_custkey, o_orderdate, attr,
             CASE WHEN LAG(attr) OVER w IS NULL OR LAG(attr) OVER w <> attr
                  THEN 1 ELSE 0 END AS chg
      FROM feed
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    ),
    versions AS (
      SELECT o_custkey, o_orderdate, attr,
             SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ),
    collapsed AS (
      SELECT o_custkey AS customer_id, attr AS priority,
             CAST(version AS INT) AS version,
             MIN(o_orderdate) AS effective_from
      FROM versions GROUP BY o_custkey, attr, version
    ),
    scd AS (
      SELECT customer_id, version, priority,
             CAST(effective_from AS DATE) AS effective_from,
             CAST(LEAD(effective_from) OVER (PARTITION BY customer_id
                                             ORDER BY version) AS DATE) AS effective_to
      FROM collapsed
    )
    SELECT o.o_orderkey, s.customer_id, s.version, s.priority
    FROM orders o JOIN scd s
      ON o.o_custkey = s.customer_id
     AND CAST(o.o_orderdate AS DATE) >= s.effective_from
     AND (s.effective_to IS NULL OR CAST(o.o_orderdate AS DATE) < s.effective_to)
    """,
)
def j_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) resolution: every order joined to the SCD2
    dimension version that was VALID ON ITS ORDER DATE — the lookup that
    makes a Type-2 dimension worth building (historical facts reported
    under historical attributes, not today's). The naive form is a
    BETWEEN-range join (fact x all versions, filter to the containing
    interval — exactly what the oracle runs); the engine instead reuses
    ``relational.asof_join``: versions and facts interleave on one
    customer-key shuffle and each fact picks up the latest
    ``effective_from <= order_date`` via the carried-struct sweep. Interval
    containment is implied — versions tile each customer's timeline, so
    "latest open" IS "containing" — and the cost stays one shuffle + a
    linear per-key pass, with no interval blow-up and no range-bin tuning
    however many versions a customer accumulates.

    Oracle-wise this doubles as an end-to-end SCD2 consistency proof:
    every order resolves to exactly ONE version (the BETWEEN join would
    duplicate or drop rows if intervals overlapped or gapped)."""
    prepare(spark, sf_dir)
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        asof_join,
    )

    scd = scd2_customer_priority(spark, sf_dir)
    orders = spark.table("orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    return asof_join(
        orders,
        scd.select("customer_id", "effective_from", "version", "priority"),
        key="customer_id",
        left_time="odate",
        right_time="effective_from",
        value_cols=["version", "priority"],
    ).select("o_orderkey", "customer_id", "version", "priority")


# --------------------------------------------------------------------------
# Late-arriving dimension handling (early-arriving facts -> quarantine)
# --------------------------------------------------------------------------

#: customers whose dim row "hasn't arrived yet" in wave 1 of the demo
_LATE_DIM_MOD = 50


@component(
    "etl_late_dim_quarantine",
    cols=[("phase", "str"), ("n_loaded", "num"), ("n_quarantined", "num")],
    oracle=f"""
    WITH late AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_LATE_DIM_MOD} = 0
    ),
    split AS (
      SELECT o_orderkey,
             o_custkey IN (SELECT c_custkey FROM late) AS is_late
      FROM orders
    )
    SELECT 'wave1' AS phase,
           CAST((SELECT COUNT(*) FROM split WHERE NOT is_late) AS BIGINT) AS n_loaded,
           CAST((SELECT COUNT(*) FROM split WHERE is_late) AS BIGINT) AS n_quarantined
    UNION ALL
    SELECT 'wave2_replay',
           CAST((SELECT COUNT(*) FROM split WHERE is_late) AS BIGINT),
           CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'final',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST(0 AS BIGINT)
    """,
)
def etl_late_dim_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-arriving facts / late-arriving dimension: fact rows whose
    dimension key has no dim row yet are QUARANTINED instead of loaded
    (loading them would either violate the FK or fabricate an inferred
    member), and replayed once the dim catches up — the referential-
    integrity workflow every Kimball pipeline needs on day two. The
    reference's DAG loads dims strictly before the fact
    (dags/e_commerce_dw_dag.py task ordering) and would simply fail on a
    late dim; this makes the lateness a first-class, lossless state.

    Demo waves: wave 1 sees a dim missing every {_LATE_DIM_MOD}th
    customer — those orders quarantine via an ANTI-join against the
    available dim keys (same one-shuffle shape as J5); wave 2 delivers
    the stragglers and replays ONLY the quarantine (cost bounded by the
    parked rows, not the fact table). The digest proves conservation:
    wave-1 loaded + wave-2 replayed = every order, nothing dropped,
    nothing double-loaded.

    At 100 TB the quarantine is a partitioned side table and each dim
    delivery triggers a replay join bounded by parked-row count — never
    a full-fact rescan."""
    prepare(spark, sf_dir)
    orders = spark.table("orders")
    cust = spark.table("customer")
    wave1_dim = cust.filter(F.col("c_custkey") % _LATE_DIM_MOD != 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    loadable = orders.join(wave1_dim, "o_custkey", "left_semi")
    quarantined = orders.join(wave1_dim, "o_custkey", "left_anti")
    n_loaded1 = loadable.count()
    n_quar1 = quarantined.count()
    # wave 2: the full dim has arrived; replay ONLY the quarantine
    full_dim = cust.select(F.col("c_custkey").alias("o_custkey"))
    replayed = quarantined.join(full_dim, "o_custkey", "left_semi")
    still_parked = quarantined.join(full_dim, "o_custkey", "left_anti").count()
    n_replayed = replayed.count()
    rows = [
        ("wave1", n_loaded1, n_quar1),
        ("wave2_replay", n_replayed, still_parked),
        ("final", n_loaded1 + n_replayed, still_parked),
    ]
    return spark.createDataFrame(
        rows, schema="phase string, n_loaded bigint, n_quarantined bigint"
    )


# --------------------------------------------------------------------------
# Idempotent partition-range backfill
# --------------------------------------------------------------------------

_BACKFILL_YEAR = 1995


@component(
    "etl_backfill_range",
    oracle=f"""
    WITH fact AS (
      -- LEFT join: the fact keeps orders with no lineitems (fact_sales
      -- semantics, same as etl_pipeline_counts' smoke count)
      SELECT year(o_orderdate) AS order_year
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT 'corrupted_rows_{_BACKFILL_YEAR}' AS phase,
           CAST((SELECT COUNT(*) FROM (
              SELECT l_linenumber FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              WHERE year(o_orderdate) = {_BACKFILL_YEAR} AND l_linenumber % 2 = 0
           )) AS BIGINT) AS n_value,
           TRUE AS ok
    UNION ALL
    SELECT 'restored_rows_{_BACKFILL_YEAR}',
           CAST((SELECT COUNT(*) FROM fact WHERE order_year = {_BACKFILL_YEAR}) AS BIGINT),
           TRUE
    UNION ALL
    SELECT 'total_after_backfill',
           CAST((SELECT COUNT(*) FROM fact) AS BIGINT),
           TRUE
    UNION ALL
    SELECT 'untouched_partitions_stable', CAST(0 AS BIGINT), TRUE
    UNION ALL
    SELECT 'only_target_rewritten', CAST(0 AS BIGINT), TRUE
    """,
    cols=[("phase", "str"), ("n_value", "num"), ("ok", "bool")],
)
def etl_backfill_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition-range BACKFILL — the daily-operations move the
    DAG analog needs when one day/year of the fact was loaded wrong: (1)
    the year-partitioned fact is built clean; (2) the {_BACKFILL_YEAR}
    partition is then overwritten with a corrupted half-load (even line
    numbers only — a deterministic, SQL-derivable wound); (3) the backfill
    recomputes ONLY that year from source and rewrites it under dynamic
    partitionOverwriteMode. Proven from the run, against full-recompute
    anchors: the wounded count, the restored count, the total — and two
    structural flags from the actual file listings: every OTHER year's
    file set (names + sizes) is byte-stable across the backfill, and the
    target year's file set actually changed (the rewrite really was
    partition-scoped, not a full-table rewrite).

    Scale: backfill cost is O(|target range|) source scan + one
    partition-scoped write — never a table rewrite; the source scan gets
    partition/rowgroup pruning on the date predicate. Same dynamic-
    overwrite machinery as the streaming daily upsert, applied to the
    batch repair path."""
    import os
    import shutil
    import tempfile

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_backfill_")
    try:
        out = f"{tmp}/fact_sales"
        fact = fact_sales(spark, sf_dir).withColumn(
            "order_year", F.year("order_date_key")
        )
        write_table(fact, out, partition_by=["order_year"])

        def listing(year: int) -> set[tuple[str, int]]:
            d = f"{out}/order_year={year}"
            if not os.path.isdir(d):
                return set()
            return {
                (f, os.path.getsize(f"{d}/{f}"))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        years = sorted(
            int(d.split("=")[1])
            for d in os.listdir(out)
            if d.startswith("order_year=")
        )
        before = {y: listing(y) for y in years}

        # the wound: half-load the target year (even line numbers only)
        target = fact.filter(F.col("order_year") == _BACKFILL_YEAR)
        wounded = target.filter(F.col("line_number") % 2 == 0)
        (
            wounded.repartition(F.col("order_year"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("order_year")
            .parquet(out)
        )
        corrupted_rows = (
            spark.read.parquet(out)
            .filter(F.col("order_year") == _BACKFILL_YEAR)
            .count()
        )

        # the backfill: recompute ONLY the target range from source
        (
            target.repartition(F.col("order_year"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("order_year")
            .parquet(out)
        )
        after = {y: listing(y) for y in years}
        restored_rows = (
            spark.read.parquet(out)
            .filter(F.col("order_year") == _BACKFILL_YEAR)
            .count()
        )
        total = spark.read.parquet(out).count()
        others_stable = all(
            before[y] == after[y] for y in years if y != _BACKFILL_YEAR
        )
        target_rewritten = before[_BACKFILL_YEAR] != after[_BACKFILL_YEAR]
        rows = [
            (f"corrupted_rows_{_BACKFILL_YEAR}", corrupted_rows, True),
            (f"restored_rows_{_BACKFILL_YEAR}", restored_rows, True),
            ("total_after_backfill", total, True),
            ("untouched_partitions_stable", 0, others_stable),
            ("only_target_rewritten", 0, target_rewritten),
        ]
        return spark.createDataFrame(
            rows, schema="phase string, n_value bigint, ok boolean"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Data Vault modeling (hubs / links / satellites) — the raw-vault layer
# --------------------------------------------------------------------------


@component(
    "etl_data_vault",
    cols=[
        ("structure", "str"),
        ("n_rows", "num"),
        ("min_hk", "str"),
        ("integrity_ok", "bool"),
    ],
    oracle="""
    SELECT 'hub_customer' AS structure,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(sha256(CAST(c_custkey AS VARCHAR))) AS min_hk,
           TRUE AS integrity_ok
    FROM customer
    UNION ALL
    SELECT 'hub_order', CAST(COUNT(*) AS BIGINT),
           MIN(sha256(CAST(o_orderkey AS VARCHAR))), TRUE
    FROM orders
    UNION ALL
    SELECT 'link_customer_order', CAST(COUNT(*) AS BIGINT),
           MIN(sha256(CAST(o_custkey AS VARCHAR) || '|' ||
                      CAST(o_orderkey AS VARCHAR))), TRUE
    FROM orders
    UNION ALL
    SELECT 'sat_customer', CAST(COUNT(*) AS BIGINT),
           MIN(sha256(CAST(c_custkey AS VARCHAR))), TRUE
    FROM customer
    """,
)
def etl_data_vault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault raw-vault layer — the OTHER warehouse modeling paradigm
    beside this package's Kimball star (plans/etl.py dims + fact): hubs
    hold business keys under deterministic hash keys, links hold
    relationships as hashes of the participating keys, satellites hold
    descriptive attributes with a HASHDIFF for change detection. The
    vault's claim to scale is exactly hash-key determinism: loads never
    need sequence coordination (compare w1's surrogate keys, which do),
    so hubs/links/sats load fully parallel and idempotently —
    re-loading a source yields byte-identical keys.

    The digest VALUE-checks the hash-key domain cross-engine (min hash
    key per structure — sha256 hex is identical in Spark and DuckDB on
    identical key strings, the md5 digest convention one algorithm up)
    and asserts referential integrity engine-side: every link hash must
    resolve into BOTH hubs (two anti-joins, both empty).

    Scale: every structure is a map-side projection of its source scan
    (sha2 in codegen); integrity anti-joins are keyed hub-sized joins;
    nothing here shuffles except the final counts."""
    prepare(spark, sf_dir)
    cust, orders = spark.table("customer"), spark.table("orders")
    hk_cust = F.sha2(F.col("c_custkey").cast("string"), 256)
    hk_cust_fk = F.sha2(F.col("o_custkey").cast("string"), 256)
    hk_order = F.sha2(F.col("o_orderkey").cast("string"), 256)
    hk_link = F.sha2(
        F.concat(
            F.col("o_custkey").cast("string"),
            F.lit("|"),
            F.col("o_orderkey").cast("string"),
        ),
        256,
    )
    hub_customer = cust.select(hk_cust.alias("hk"), F.col("c_custkey").alias("bk"))
    hub_order = orders.select(hk_order.alias("hk"), F.col("o_orderkey").alias("bk"))
    link = orders.select(
        hk_link.alias("hk"),
        hk_cust_fk.alias("hk_customer"),
        hk_order.alias("hk_order"),
    )
    sat_customer = cust.select(
        hk_cust.alias("hk"),
        "c_name",
        "c_acctbal",
        F.sha2(
            F.concat_ws("|", F.col("c_name"), F.col("c_acctbal").cast("string")), 256
        ).alias("hashdiff"),
    )
    dangling = (
        link.join(
            hub_customer.select(F.col("hk").alias("hk_customer")), "hk_customer", "left_anti"
        ).count()
        + link.join(
            hub_order.select(F.col("hk").alias("hk_order")), "hk_order", "left_anti"
        ).count()
    )
    ok = dangling == 0
    rows = []
    for name, df in [
        ("hub_customer", hub_customer),
        ("hub_order", hub_order),
        ("link_customer_order", link),
        ("sat_customer", sat_customer),
    ]:
        agg = df.agg(
            F.count(F.lit(1)).alias("n"), F.min("hk").alias("min_hk")
        ).collect()[0]
        rows.append((name, int(agg["n"]), agg["min_hk"], ok))
    return spark.createDataFrame(
        rows, schema="structure string, n_rows bigint, min_hk string, integrity_ok boolean"
    )


# --------------------------------------------------------------------------
# Accumulating-snapshot fact (order lifecycle milestones)
# --------------------------------------------------------------------------


@component(
    "etl_accumulating_snapshot",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(MIN(l.l_shipdate) AS DATE) AS first_ship_date,
           CAST(MAX(l.l_shipdate) AS DATE) AS last_ship_date,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(MIN(l.l_shipdate) AS DATE)) AS BIGINT)
             AS days_to_first_ship,
           CAST(datediff('day', CAST(MIN(l.l_shipdate) AS DATE),
                         CAST(MAX(l.l_shipdate) AS DATE)) AS BIGINT)
             AS ship_span_days
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
    cols=[
        ("o_orderkey", "num"),
        ("order_date", "date"),
        ("first_ship_date", "date"),
        ("last_ship_date", "date"),
        ("n_lines", "num"),
        ("days_to_first_ship", "num"),
        ("ship_span_days", "num"),
    ],
)
def etl_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact — the third Kimball fact style beside
    the transaction fact (etl_fact_sales) and the SCD2 dimension history:
    ONE row per order that accumulates lifecycle milestone dates (placed
    → first shipment → last shipment) and the lag spans between them, the
    shape fulfillment dashboards re-read instead of re-aggregating the
    line grain. Milestones are exact MIN/MAX dates; spans are exact
    integer day diffs — in production the row is UPDATED in place as
    milestones land (the MERGE machinery of wr_upsert), here the
    end-state is derived in one pass and value-checked. Orders with no
    lines yet KEEP their row with NULL milestones (LEFT join) — that
    not-yet-landed state is the defining property of the accumulating
    snapshot, and the NULLs cross both engines identically.

    Scale: one orderkey-join + one map-side-combined rollup on the same
    key — at 100 TB both sides co-partition on orderkey (the bucketed-
    join layout wr_bucketed_join pins), so the fact build is
    exchange-free after layout."""
    prepare(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("order_date")
    )
    li = spark.table("lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_date")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "order_date")
        .agg(
            F.min("ship_date").alias("first_ship_date"),
            F.max("ship_date").alias("last_ship_date"),
            F.count("l_orderkey").alias("n_lines"),
        )
        .select(
            "o_orderkey",
            "order_date",
            "first_ship_date",
            "last_ship_date",
            "n_lines",
            F.datediff("first_ship_date", "order_date").cast("long").alias("days_to_first_ship"),
            F.datediff("last_ship_date", "first_ship_date").cast("long").alias("ship_span_days"),
        )
    )
