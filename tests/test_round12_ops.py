"""Round-12 tests: the ALS temporal backtest (the learned fourth row of
the backtest leaderboard) and its measured lift-vs-popularity floors.

The census component's counts are oracle-checked cross-engine
(scripts/check_correctness.py); these tests pin what SQL cannot — the
model-valued hit-rates. Measured micro precision@k (1e6 * hits /
(users * k)) at sf0.001 / 0.01 / 0.1:

    popularity  64583 /  7823 / 729
    ALS plain   75000 /  7939 / 690   (lift 1.161 / 1.015 / 0.947)
    ALS + MMR   72916 /  8076 / 765   (lift 1.129 / 1.032 / 1.049)

ALS at the SHIPPED config (rank 16) beats popularity at the two smaller
SFs and loses by ~6% at sf0.1. Round 12 explained the sf0.1 loss as
"TPC-H baskets are near-random"; the round-13 hyperparameter grid
(rec_backtest_als_grid, tests/test_round13_ops.py, COVERAGE.md round
13) REFUTED that: rank 150 wins at every SF (reg 0.1: lift
1.19/1.05/1.25; reg 0.01 at sf0.1: lift 1.30) — the rank-16 model was
capacity-starved as the catalog grew, not facing an unlearnable
dataset. The shipped config stays rank 16 as the cost/quality default
(≈10x fewer factor parameters); the grid is the recorded evidence for
the trade. MMR diversification does NOT cost temporal hit-rate (it
slightly helps at 0.01/0.1). The floors below leave wide margin but
catch a broken serve path (a random shelf measures ~5% of popularity).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
    BACKTEST_ALS_LIFT_FLOOR_PCT,
    TOP_K,
    _backtest_als_artifacts,
    _backtest_als_rates,
    rec_backtest_als,
    rec_backtest_leaderboard,
    rec_backtest_popularity,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def _pop_rate_micro(spark) -> tuple[int, int, int]:
    pop = rec_backtest_popularity(spark, SF0001).agg(
        F.count(F.lit(1)).alias("u"), F.sum("n_hits").alias("h")
    ).first()
    return int(pop.u), int(pop.h), 1000000 * int(pop.h) // (int(pop.u) * TOP_K)


def test_backtest_als_census_contract(spark):
    """Census invariants at sf0.001: every eval user trained pre-cutoff,
    exactly k predictions each (the pool-width guarantee), and both
    genuine flags hold — novelty (no predicted item seen pre-cutoff) and
    hit boundedness."""
    prepare(spark, SF0001)
    rows = rec_backtest_als(spark, SF0001).collect()
    assert rows
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))
    for r in rows:
        assert r.n_pred == TOP_K
        assert r.n_novel_items >= 1
        assert r.novelty_ok
        assert r.hits_bounded_ok


def test_backtest_als_leakage_guard(spark):
    """The backtest model must be trained on strictly pre-cutoff pairs:
    its item dictionary cannot contain an item that first appears
    post-cutoff (if one exists in the fixture), and the truth set is
    disjoint from the training pairs by construction — re-derived here
    from the artifacts, not assumed."""
    prepare(spark, SF0001)
    art = _backtest_als_artifacts(spark, SF0001)
    # truth ∩ pre must be empty (novelty of the eval protocol itself)
    overlap = art["truth"].join(art["pre"], ["u", "i"], "left_semi").count()
    assert overlap == 0
    # every trained item id exists in the pre slice
    pre_items = art["pre"].select(F.col("i")).distinct()
    orphan_items = art["items"].join(pre_items, "i", "left_anti").count()
    assert orphan_items == 0


def test_backtest_als_lift_floors(spark):
    """The measured-rate floors behind the leaderboard's contract flags:
    plain-ALS and MMR-diversified micro hit-rates vs popularity's
    SQL-exact rate on the same novel-truth protocol. Pins BOTH the
    contract floor (>= {floor}% of popularity) and the measured sf0.001
    values with regression margin (measured 75000 / 72916 vs popularity
    64583)."""
    prepare(spark, SF0001)
    rates = _backtest_als_rates(spark, SF0001)
    _, _, pop_rate = _pop_rate_micro(spark)
    assert rates["rate_micro"] * 100 >= pop_rate * BACKTEST_ALS_LIFT_FLOOR_PCT
    assert rates["mmr_rate_micro"] * 100 >= pop_rate * BACKTEST_ALS_LIFT_FLOOR_PCT
    # measured-value regression floors (seeded fit, deterministic fixture):
    # generous margin under the measured 75000/72916
    assert rates["rate_micro"] >= 55000
    assert rates["mmr_rate_micro"] >= 55000
    # and the lift itself: ALS beats popularity at this SF (recorded)
    assert rates["rate_micro"] > pop_rate


def test_backtest_coldstart_population_disjoint(spark):
    """The cold-start census covers EXACTLY the users the warm backtests
    cannot: disjoint from every pre-cutoff user, and together with the
    popularity backtest's novel-eval users it covers all users with
    post-cutoff activity whose items qualify for their protocol. Bounds:
    hits <= min(k, n_post_items)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _backtest_pre_post,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        components,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare as _prep,
    )

    _prep(spark, SF0001)
    rows = components()["rec_backtest_coldstart"].fn(spark, SF0001).collect()
    pre, post = _backtest_pre_post(spark)
    pre_users = {r.u for r in pre.select("u").distinct().collect()}
    post_users = {r.u for r in post.select("u").distinct().collect()}
    cold_expected = post_users - pre_users
    assert {r.user_id for r in rows} == cold_expected
    for r in rows:
        assert 0 <= r.n_hits <= min(TOP_K, r.n_post_items)
        assert r.p_at_k_micro == 1000000 * r.n_hits // TOP_K


def test_backtest_leaderboard_totals_consistent(spark):
    """The leaderboard's SQL-exact baseline totals must equal the
    aggregates of the census components it summarizes, and the ALS flags
    must be true (the lift floors hold at sf0.001)."""
    prepare(spark, SF0001)
    row = rec_backtest_leaderboard(spark, SF0001).first()
    pop_u, pop_h, _ = _pop_rate_micro(spark)
    assert row.pop_users == pop_u
    assert row.pop_hits == pop_h
    # warm restriction (r12 ADVICE): the floor's popularity denominator is
    # the ALS-eval population EXACTLY — novel-truth users present pre-cutoff
    assert row.pop_warm_users == row.als_users
    assert row.pop_warm_hits <= row.pop_hits
    assert row.pop_warm_users <= row.pop_users
    assert row.als_users <= row.pop_users  # cold users drop from ALS's side
    assert row.als_truth <= row.pop_truth
    assert row.als_rate_floor_met
    assert row.als_mmr_rate_floor_met
    assert row.mkv_pred <= row.mkv_users * TOP_K
