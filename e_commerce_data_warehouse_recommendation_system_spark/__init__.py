"""PySpark-native analytics engine with the query and data-processing
capabilities of ThanhTusData/E-commerce-Data-Warehouse-Recommendation-System.

The reference (at /root/reference, read-only) is a pandas-inside-Airflow
pipeline that delegates SQL to MySQL/PostgreSQL and trains a NumPy SGD
matrix-factorization recommender. This package re-expresses the same
semantics Spark-first:

- ``session``    — SparkSession factory (replaces Airflow LocalExecutor + 2 RDBMSes)
- ``sources``    — scans/sinks: parquet/CSV/JSON/JDBC, calendar generator, catalog
- ``functions``  — scalar layer incl. pandas-parity wrappers (title-case, weekday
                   origin, fractional-day durations)
- ``operators``  — relational ops (joins/aggs/dedup/windows/set-ops) plus the
                   large-scale data-pipeline extensions (MinHash/SimHash dedup,
                   ANN similarity, text analysis)
- ``plans``      — the warehouse ETL (staging -> dims -> fact) and the headline
                   analytical queries
- ``recommend``  — ALS recommender + MMR diversification + ranking eval (MLlib)
- ``streaming``  — Structured Streaming incremental ingest of ``events``

Every user-visible query is registered in ``registry`` so the driver contract
(``__spark_entry__.py``) and the benchmark's oracles (``perfbench/``) share one
inventory.
"""

from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark, tune

__all__ = ["get_spark", "tune"]
