"""Keep-first dedup and category-code parity."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def test_dedup_keep_first_matches_pandas(spark):
    # pandas drop_duplicates keeps the first row in order (D1,
    # reference: transform_dim_geolocation.py:18); the engine contract is
    # keep-first under an explicit order column.
    pdf = pd.DataFrame({"k": [1, 1, 2, 2, 3], "ord": [10, 20, 30, 40, 50], "v": list("abcde")})
    expected = pdf.sort_values("ord").drop_duplicates(subset=["k"])[["k", "v"]]
    df = spark.createDataFrame(pdf)
    w = Window.partitionBy("k").orderBy("ord")
    got = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "v")
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert got.equals(expected.reset_index(drop=True))


def test_category_codes_match_pandas(spark):
    # W2: pandas .astype('category').cat.codes numbers sorted categories
    # (reference: transform_fact_orders.py:48); dense_rank - 1 over the
    # value order must agree.
    values = ["credit", "boleto", "voucher", "boleto", "credit", "debit"]
    pdf = pd.DataFrame({"t": values})
    expected = pdf["t"].astype("category").cat.codes.tolist()
    df = spark.createDataFrame(pdf)
    rows = df.select(
        "t", (F.dense_rank().over(Window.orderBy("t")) - 1).alias("code")
    ).collect()
    # compare the value -> code mapping, not row order
    assert {r.t: r.code for r in rows} == dict(zip(values, expected))
