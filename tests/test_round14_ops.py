"""Round-14 regression tests.

Round 14 closed the r13 ADVICE items: versioned foreachBatch replay
guards now gate on the _SUCCESS marker (a bare directory is a crash
leftover, not a commit), and the backtest pool-width invariant is
verified fit-free at every shipped SF so its deliberate hard-raise can
only fire on novel data.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF0001

SF_ALL = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


# --------------------------------------------------------------------------
# foreachBatch replay guards: _SUCCESS is the commit marker (r13 ADVICE, medium)
# --------------------------------------------------------------------------


def test_fold_committed_gates_on_success_marker(tmp_path):
    """A version directory WITHOUT _SUCCESS is a crash leftover: the guard
    must report not-committed AND remove it so the re-fold's errorifexists
    write can succeed. With _SUCCESS it is committed and left intact."""
    from e_commerce_data_warehouse_recommendation_system_spark.streaming.queries import (
        _fold_committed,
    )

    partial = tmp_path / "v3"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"partial")
    assert _fold_committed(str(partial)) is False
    assert not partial.exists()  # leftovers removed for the re-fold

    committed = tmp_path / "v4"
    committed.mkdir()
    (committed / "part-00000.parquet").write_bytes(b"data")
    (committed / "_SUCCESS").write_bytes(b"")
    assert _fold_committed(str(committed)) is True
    assert committed.exists()

    assert _fold_committed(str(tmp_path / "v5")) is False  # absent = not committed


def test_latest_committed_version_skips_partials(tmp_path):
    """Base-state selection must skip partial (no _SUCCESS) versions: a
    fold that based itself on a crash leftover would propagate the
    corruption into every later batch."""
    from e_commerce_data_warehouse_recommendation_system_spark.streaming.queries import (
        _latest_committed_version,
    )

    for v, ok in ((0, True), (1, True), (2, False)):
        d = tmp_path / f"v{v}"
        d.mkdir()
        if ok:
            (d / "_SUCCESS").write_bytes(b"")
    # v2 exists but is partial: the base for batch 3 is v1, not v2
    assert _latest_committed_version(str(tmp_path), 3) == str(tmp_path / "v1")
    # only versions BELOW the batch id qualify
    assert _latest_committed_version(str(tmp_path), 1) == str(tmp_path / "v0")
    assert _latest_committed_version(str(tmp_path), 0) is None


# --------------------------------------------------------------------------
# backtest pool-width invariant holds fit-free at every shipped SF (r13 ADVICE)
# --------------------------------------------------------------------------


def test_backtest_pool_fits_all_shipped_sfs(spark):
    """_pool_sizing raises (deliberately: a silent clamp voids the census
    oracle's n_pred == TOP_K invariant) when MMR_POOL + max_seen exceeds
    the catalog. This fit-free check proves the invariant at every shipped
    SF, so the raise can only fire on novel data (r13 ADVICE)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        backtest_pool_fits,
    )

    for sf_dir in SF_ALL:
        k_pool, n_items = backtest_pool_fits(spark, sf_dir)
        assert 0 < k_pool <= n_items, (sf_dir, k_pool, n_items)


# --------------------------------------------------------------------------
# rank-150 sixth row + blend sensitivity grid (r13 verdict #4/#5)
# --------------------------------------------------------------------------


@pytest.mark.slow  # two ALS fits behind the artifacts
def test_backtest_rank150_contract_and_floor(spark):
    """The rank-150 row's invariants at sf0.001: census shape (exactly k
    novel predictions, both flags), and the measured rate clears a
    regression floor one step under the measurement (67361 at sf0.001 —
    the capacity win only appears as the catalog grows: 9171-vs-7939 at
    sf0.01, 950-vs-690 at sf0.1; three-SF table in COVERAGE.md
    round 14)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _backtest_rank150_artifacts,
        rec_backtest_rank150,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    r = _backtest_rank150_artifacts(spark, SF0001)
    assert r["rate_micro"] >= 60000  # floor under measured 67361
    rows = rec_backtest_rank150(spark, SF0001).collect()
    assert rows
    for row in rows:
        assert row.n_pred == TOP_K
        assert row.novelty_ok and row.hits_bounded_ok


@pytest.mark.slow  # both pools behind the artifacts
def test_backtest_blend_grid_contract(spark):
    """The blend grid's invariants at sf0.001: the shipped (rank-16,
    RRF_C=60) cell's measured rate equals the shipped blend path's rate
    (one protocol, two readers), every cell bounded and sane. The grid
    exists to answer the sf0.1 blend gap with evidence — measured
    per-cell rates are recorded in COVERAGE.md round 14 (headline: at
    sf0.1 RRF_C barely moves the rank-16 blend, 704-711 across
    {10,60,240}; the rank-150 arm lifts the blend to 854, above
    popularity's 731 but below plain rank-150's 950 — fusing a strong
    arm with a weak prior dilutes it)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        BLEND_GRID,
        RANK,
        RRF_C,
        TOP_K,
        _backtest_blend_grid_rates,
        _backtest_blend_rates,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    rows = _backtest_blend_grid_rates(spark, SF0001)
    assert [(r["als_rank"], r["rrf_c"]) for r in rows] == list(BLEND_GRID)
    shipped = next(
        r for r in rows if (r["als_rank"], r["rrf_c"]) == (RANK, RRF_C)
    )
    assert (
        shipped["rate_micro"]
        == _backtest_blend_rates(spark, SF0001)["rate_micro"]
    )
    for r in rows:
        assert 0 <= r["rate_micro"] <= 1_000_000
        assert r["n_hits"] <= min(r["n_users"] * TOP_K, r["n_truth"])
        assert r["n_users"] == shipped["n_users"]  # shared eval population
