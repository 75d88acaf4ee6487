"""Pandas-parity unit tests for the scalar layer (SURVEY.md §5.2).

The reference's transforms are pandas; these pin each quirk wrapper to the
actual pandas behavior on small frames — the one place the DuckDB oracle
can't catch a silent semantics drift (both engines could be wrong together).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from e_commerce_data_warehouse_recommendation_system_spark.functions.scalar import (
    dec_avg,
    dec_sum,
    duration_days,
    pandas_dayofweek,
    pandas_title,
    word_title,
    zfill,
)


def _col(spark, values, fn, dtype="string"):
    df = spark.createDataFrame([(v,) for v in values], schema=f"x {dtype}")
    return [r[0] for r in df.select(fn("x").alias("out")).collect()]


def test_zfill_matches_pandas(spark):
    values = ["1", "12345", "123456789", "", "007"]
    expected = pd.Series(values).str.zfill(5).tolist()
    assert _col(spark, values, lambda c: zfill(c, 5)) == expected


def test_zfill_never_truncates(spark):
    # lpad('123456789', 5) would yield '12345'; zfill must not
    # (reference quirk: pandas str.zfill pads only).
    assert _col(spark, ["123456789"], lambda c: zfill(c, 5)) == ["123456789"]


def test_pandas_title_matches_pandas(spark):
    # ASCII inputs: pandas_title's run-boundary regex targets [A-Za-z]
    # (testdata names are ASCII; unicode title-casing is out of scope).
    values = ["sao-paulo", "NEW york", "o'brien street", "a1b c2d", "  x", ""]
    expected = pd.Series(values).str.title().tolist()
    assert _col(spark, values, pandas_title) == expected


def test_word_title_space_delimited(spark):
    assert _col(spark, ["hello world", "SAO-paulo x"], word_title) == [
        "Hello World",
        "Sao-paulo X",
    ]


def test_pandas_dayofweek_origin(spark):
    days = [dt.date(2026, 8, 10) + dt.timedelta(days=i) for i in range(7)]  # Mon..Sun
    expected = pd.Series(pd.to_datetime(days)).dt.dayofweek.tolist()
    got = _col(spark, days, pandas_dayofweek, dtype="date")
    assert got == expected == [0, 1, 2, 3, 4, 5, 6]


def test_duration_days_fractional(spark):
    t1 = dt.datetime(2026, 1, 1, 0, 0, 0)
    t2 = dt.datetime(2026, 1, 2, 12, 0, 0)  # 1.5 days
    df = spark.createDataFrame([(t1, t2)], schema="a timestamp, b timestamp")
    (got,) = df.select(duration_days("b", "a").alias("d")).collect()[0]
    expected = (pd.Timestamp(t2) - pd.Timestamp(t1)).total_seconds() / 86400
    assert got == expected == 1.5


def test_title_and_zfill_fuzz_parity(spark):
    # Seeded fuzz batch: arbitrary ASCII printables through the parity layer
    # vs real pandas, one DataFrame round-trip for all examples.
    import random
    import string

    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + " -'.,_/()&" + '"'
    values = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24))) for _ in range(300)
    ]
    got_title = _col(spark, values, pandas_title)
    exp_title = pd.Series(values).str.title().tolist()
    assert got_title == exp_title
    got_zfill = _col(spark, values, lambda c: zfill(c, 8))
    exp_zfill = pd.Series(values).str.zfill(8).tolist()
    # zfill quirk: pandas treats a leading sign specially ('-abc' -> '-0abc');
    # engine contract is non-negative inputs, so compare only those
    pairs = [(g, e) for g, e, v in zip(got_zfill, exp_zfill, values) if not v.startswith(("-", "+"))]
    assert all(g == e for g, e in pairs)


def test_dec_sum_order_independent(spark):
    # Many tiny doubles whose naive fp sum depends on order; decimal
    # accumulation must give the exact value regardless of partitioning.
    vals = [(0.1,)] * 1000 + [(1e9,), (-1e9,)]
    df = spark.createDataFrame(vals, schema="x double").repartition(7)
    (got,) = df.agg(dec_sum("x").alias("s")).collect()[0]
    assert got == 100.0
    (avg,) = df.agg(dec_avg("x").alias("a")).collect()[0]
    assert avg == 100.0 / 1002
