"""Property tests for the custom operators most at risk of semantic drift:
asof_join vs DuckDB's native ASOF JOIN, surrogate_key vs plain sorted
enumeration, and the context-window chunker vs directly computed window
geometry."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow

# (key, time) pairs on small integer domains so collisions/ties are common
left_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=0, max_size=15
)
right_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20), st.one_of(st.none(), st.integers(0, 9))),
    min_size=0,
    max_size=15,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left_rows, right_rows)
@pytest.mark.usefixtures("spark")
def test_asof_join_matches_duckdb_asof(spark, lrows, rrows):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        asof_join,
    )

    lrows = [(i, k, t) for i, (k, t) in enumerate(lrows)]
    # asof_join precondition: right side unique per (key, right_time)
    rmap = {(k, t): v for k, t, v in rrows}
    rrows = [(k, t, v) for (k, t), v in rmap.items()]

    left = spark.createDataFrame(lrows or [(0, 0, 0)], "lid int, k int, lt int")
    if not lrows:
        left = left.filter("lid < 0")
    right = spark.createDataFrame(rrows or [(0, 0, 0)], "k int, rt int, val int")
    if not rrows:
        right = right.filter("rt < 0")

    out = asof_join(left, right, key="k", left_time="lt", right_time="rt", value_cols=["val"])
    got = {(r.lid): r.val for r in out.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE l(lid INT, k INT, lt INT)")
    con.execute("CREATE TABLE r(k INT, rt INT, val INT)")
    for row in lrows:
        con.execute("INSERT INTO l VALUES (?, ?, ?)", row)
    for row in rrows:
        con.execute("INSERT INTO r VALUES (?, ?, ?)", row)
    want = dict(
        con.execute(
            "SELECT l.lid, r.val FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.lt >= r.rt"
        ).fetchall()
    )
    assert got == want


ids = st.lists(st.integers(-(10**6), 10**6), min_size=0, max_size=40, unique=True)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(ids)
@pytest.mark.usefixtures("spark")
def test_surrogate_key_is_row_number(spark, vals):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        surrogate_key,
    )

    df = spark.createDataFrame([(v,) for v in vals] or [(0,)], "id bigint")
    if not vals:
        df = df.filter("id < -2000000")
    out = surrogate_key(df, "id", "sk", buckets=4)
    got = sorted((r.id, r.sk) for r in out.collect())
    want = sorted((v, i + 1) for i, v in enumerate(sorted(vals)))
    assert got == want


token_counts = st.lists(st.integers(1, 700), min_size=1, max_size=8)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(token_counts)
@pytest.mark.usefixtures("spark")
def test_chunk_windows_geometry_matches_reference(spark, counts):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        CHUNK_SIZE,
        _CHUNK_STRIDE,
        chunk_token_windows,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(c))) for i, c in enumerate(counts)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.start_tok, r.chunk_len, r.first_tok, r.last_tok)
        for r in chunk_token_windows(docs).collect()
    }
    want = {}
    for i, c in enumerate(counts):
        for idx, s in enumerate(range(0, c, _CHUNK_STRIDE)):
            ln = min(CHUNK_SIZE, c - s)
            want[(i, idx)] = (s, ln, f"w{s}", f"w{s + ln - 1}")
    assert got == want
