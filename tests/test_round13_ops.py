"""Round-13 regression tests.

Round 13 closed the r12 verdict/advice items: the ALS backtest grew a
hyperparameter-sensitivity grid and an online serving-quality monitor.
These tests pin the new failure modes mechanically.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


@pytest.mark.slow  # 7 seeded ALS fits
def test_backtest_grid_contract(spark):
    """The hyperparameter grid's invariants at sf0.001: the shipped
    config's measured rate equals the leaderboard path's rate (one
    protocol, two readers), every config's hit count is bounded by its
    truth, and rates are sane micros. The grid exists to answer the
    sf0.1 lift question with evidence — measured per-config rates are
    recorded in COVERAGE.md round 13."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        BACKTEST_GRID,
        RANK,
        REG,
        TOP_K,
        _backtest_als_rates,
        _backtest_grid_rates,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    rows = _backtest_grid_rates(spark, SF0001)
    assert [(r["als_rank"], r["reg_milli"]) for r in rows] == [
        (rk, int(round(rg * 1000))) for rk, rg in BACKTEST_GRID
    ]
    shipped = rows[0]
    assert (shipped["als_rank"], shipped["reg_milli"]) == (
        RANK,
        int(round(REG * 1000)),
    )
    # same protocol, same seed, same config => same measured rate as the
    # leaderboard's reader
    assert shipped["rate_micro"] == _backtest_als_rates(spark, SF0001)["rate_micro"]
    for r in rows:
        assert 0 <= r["rate_micro"] <= 1_000_000
        assert r["n_hits"] <= min(r["n_users"] * TOP_K, r["n_truth"])
        assert r["n_users"] == shipped["n_users"]  # shared eval population


@pytest.mark.slow  # ALS fit behind the artifacts
def test_backtest_blend_floors(spark):
    """The RRF blend's measured rate at sf0.001 must clear both the
    recorded regression floor and the SAME-ENGINE popularity rate
    (measured 79861 vs ALS-plain 75000 vs popularity 64583 — 'blend,
    don't switch' holds at every SF against the plain rank-16 arm;
    full three-SF table in COVERAGE.md round 13)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _backtest_blend_rates,
        rec_backtest_blend,
        rec_backtest_popularity,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )
    from pyspark.sql import functions as F

    prepare(spark, SF0001)
    r = _backtest_blend_rates(spark, SF0001)
    pop = rec_backtest_popularity(spark, SF0001).agg(
        F.count(F.lit(1)).alias("u"), F.sum("n_hits").alias("h")
    ).first()
    pop_rate = 1000000 * int(pop.h) // (int(pop.u) * TOP_K)
    assert r["rate_micro"] >= 65000  # regression floor under measured 79861
    assert r["rate_micro"] > pop_rate
    # census contract: exactly k predictions, both flags true
    rows = rec_backtest_blend(spark, SF0001).collect()
    assert rows
    for row in rows:
        assert row.n_pred == TOP_K
        assert row.novelty_ok and row.hits_bounded_ok


@pytest.mark.slow  # ALS fit + full stream drain
def test_stream_serving_quality_terminal_equals_batch(spark):
    """The online monitor's terminal keyed state must equal the one-shot
    batch census row-for-row (the column the oracle pins TRUE), the hit
    counters must be bounded, and the monitored population must be the
    ALS census's eval users exactly."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        rec_backtest_als,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        components,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    fn = components()["stream_serving_quality"].fn
    rows = fn(spark, SF0001).collect()
    assert rows
    assert all(r.terminal_equals_batch_ok for r in rows)
    assert all(r.hits_bounded_ok for r in rows)
    census = {r.user_id: r.n_novel_items for r in rec_backtest_als(spark, SF0001).collect()}
    got = {r.user_id: r.n_novel_items for r in rows}
    assert got == census


@pytest.mark.slow  # ALS fit behind the artifacts
def test_blend_popularity_arm_broadcasts(spark):
    """The blend's per-user popularity candidates are a crossJoin of the
    eval users with the k-row shelf: the plan MUST compile to a
    broadcast nested-loop (k rows shipped to every user partition) —
    a plain CartesianProduct here would shuffle corpus-scale users
    against the shelf and not survive 100 TB."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _backtest_als_artifacts,
    )
    from pyspark.sql.window import Window

    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    art = _backtest_als_artifacts(spark, SF0001)
    eval_users = art["truth"].select("u").distinct()
    top = (
        art["pre"]
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("i"))
        .limit(TOP_K)
    )
    pop_shelf = top.withColumn(
        "p_rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("i")))
    ).select("i", "p_rnk")
    pop_user = eval_users.crossJoin(F.broadcast(pop_shelf))
    plan = pop_user._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
