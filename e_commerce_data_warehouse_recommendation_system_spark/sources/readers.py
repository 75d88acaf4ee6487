"""Scans and sources (SURVEY.md SS2.1).

The reference reads via paginated ``SELECT * ... LIMIT/OFFSET`` loops into
pandas (reference: dags/extract_data.py:33-81) and bulk-loads CSV with
``LOAD DATA INFILE`` (reference: load_dataset_into_mysql/load_data.sql:1-35).
Spark replaces both: file scans are split across executors automatically and
JDBC scans parallelize via ``numPartitions``/bounds, so the reference's
hand-rolled batching (its H1 optimization) is obsolete.

Schemas are EXPLICIT everywhere (SURVEY.md SS1.4): the reference lets
``pandas.DataFrame.to_sql`` infer warehouse DDL; we never infer in engine
paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_data_warehouse_recommendation_system_spark.session import tune

# --------------------------------------------------------------------------
# Canonical schemas for the testdata star (TESTDATA.md / FIXTURES.md SSA).
# Used for validation on parquet and as the explicit schema for CSV/JSON.
# --------------------------------------------------------------------------


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _struct(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _struct(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _struct(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _struct(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _struct(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _struct(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _struct(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _struct(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

#: Tables small enough to broadcast in any join, at any scale factor — the
#: dimension side of the star. At 100 TB the facts (lineitem/orders/events)
#: grow; these stay bounded (regions/nations are fixed-cardinality,
#: part/supplier/customer grow slowly) — broadcast unless proven otherwise.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table (S1/S4 analog, parquet-native).

    Parquet gives Catalyst filter pushdown + column pruning for free — the
    reference hand-codes both (its H2/H3, SURVEY.md SS4.1).
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize events.ts to session-TZ TimestampType whatever physical
    layout the parquet shipped with. The testdata has stored ts as
    TIMESTAMP(NANOS) (reads as a raw long under
    spark.sql.legacy.parquet.nanosAsLong) and, since the r4 regeneration, as
    Timestamp(isAdjustedToUTC=false, MICROS) (reads as TIMESTAMP_NTZ).
    Branching on the OBSERVED dtype makes the engine immune to either
    direction of drift:

    - ``bigint``        -> nanos-as-long: rebuild with exact ns -> us
      truncation, the same cast DuckDB applies for TIMESTAMP_NS;
    - ``timestamp_ntz`` -> cast to TIMESTAMP. The session TZ is pinned UTC
      (session.RUNTIME_CONF), so NTZ -> LTZ is value-preserving and
      downstream ``unix_micros``/windowing gets the type it expects;
    - ``timestamp``     -> already normalized, pass through.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the testdata tables as temp views for the SQL entry point
    (S4: the reference's ``pd.read_sql`` path -> ``spark.sql`` over views).

    Memoized per (session, sf_dir): re-registering all 9 views costs ~1 s
    of parquet footer reads, and the driver calls ``prepare`` once per
    query — ~90 queries would spend more time on registration than on
    work. Switching sf_dir (entry at sf0.001, oracle runs at sf0.01)
    invalidates the memo and re-registers.
    """
    key = (sf_dir.rstrip("/"), names)
    if getattr(spark, "_ecomdw_views", None) == key:
        return
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._ecomdw_views = key


def prepare(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Standard preamble for every registered query: pin runtime confs
    (UTC session TZ for oracle parity) and expose the tables as views."""
    tune(spark)
    register_views(spark, sf_dir)
    return spark


# --------------------------------------------------------------------------
# File formats beyond parquet (S1, S11)
# --------------------------------------------------------------------------


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV bulk load (S1). Mirrors ``LOAD DATA INFILE ... FIELDS TERMINATED
    BY ',' ENCLOSED BY '"' IGNORE 1 ROWS`` (reference: load_data.sql:1-35):
    header skipped, quoted fields, explicit schema (never inferSchema)."""
    return spark.read.csv(path, header=True, schema=schema, quote='"', escape='"')


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON lines scan with explicit schema."""
    return spark.read.schema(schema).json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    predicate: str | None = None,
    **options: str,
) -> DataFrame:
    """Parallel JDBC scan (S2) + incremental predicate (S3).

    Replaces the reference's 5000-row LIMIT/OFFSET pagination loop
    (reference: dags/extract_data.py:33-81) with Spark's partitioned scan:
    ``num_partitions`` bounds source connections the way the reference's
    3-slot Airflow pool did (reference: dags/e_commerce_dw_dag.py:44).
    ``predicate`` (e.g. ``DATE(updated_at) >= '2026-08-12'``) is pushed into
    the source query, the Spark form of the reference's incremental extract
    (reference: dags/extract_data.py:115-118).

    No JDBC source exists in this container, so this is exercised only by
    unit tests asserting option plumbing; the code path is the standard
    public DataSource V1 JDBC reader.
    """
    reader = spark.read.format("jdbc").option("url", url)
    # NOTE: predicate is trusted SQL interpolated into the pushdown subquery
    # (same trust model as the reference's f-string WHERE clauses).
    dbtable = table if predicate is None else f"(SELECT * FROM {table} WHERE {predicate}) src"
    reader = reader.option("dbtable", dbtable)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires explicit lower_bound and upper_bound "
                "(otherwise the JDBC source receives the literal string 'None')"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# --------------------------------------------------------------------------
# Generated-rows source: the date dimension (S13)
# --------------------------------------------------------------------------


def calendar_frame(
    spark: SparkSession, start: str = "2016-01-01", end: str = "2025-12-31"
) -> DataFrame:
    """Generated calendar (S13), replacing ``pd.date_range`` + derived cols
    (reference: dags/transform_dim_dates.py:9-23).

    Pandas weekday semantics preserved: ``day_of_week`` is Mon=0..Sun=6 and
    ``is_weekend`` means Saturday/Sunday (reference: transform_dim_dates.py:19-22),
    hence the shift from Spark's Sun=1..Sat=7 ``dayofweek``.

    Scale note: ``sequence`` generates on one executor for one row — a ~3.6k
    row dimension; always the broadcast side of any join.
    """
    days = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), interval 1 day)) AS date_key"
    )
    d = F.col("date_key")
    return days.select(
        d,
        F.dayofmonth(d).alias("day"),
        F.month(d).alias("month"),
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        ((F.dayofweek(d) + 5) % 7).alias("day_of_week"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.dayofweek(d).isin(1, 7).alias("is_weekend"),
    )


# --------------------------------------------------------------------------
# Catalog introspection (S14, S15)
# --------------------------------------------------------------------------


def list_tables(spark: SparkSession, database: str | None = None) -> DataFrame:
    """S14: the reference queries information_schema.tables
    (reference: postgres_reader.py:36-54); Spark exposes the same via the
    catalog. Returned as a DataFrame ordered by name for parity."""
    rows = [(t.name, t.tableType) for t in spark.catalog.listTables(database)]
    return spark.createDataFrame(
        rows or [], schema="table_name string, table_type string"
    ).orderBy("table_name")


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """S15: information_schema.columns analog
    (reference: postgres_reader.py:56-76)."""
    return spark.sql(f"DESCRIBE TABLE {name}")
