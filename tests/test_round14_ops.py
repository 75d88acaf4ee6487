"""Round-14 regression tests.

Round 14 closed the r13 ADVICE items: versioned foreachBatch replay
guards now gate on the _SUCCESS marker (a bare directory is a crash
leftover, not a commit), the staged=True contract inspects the plan ROOT
(substring matching passed plans built on top of any cached subtree),
the ANN index memo keys on applicationId (id() recycling could serve a
dead session's frames), and the backtest pool-width invariant is
verified fit-free at every shipped SF so its deliberate hard-raise can
only fire on novel data.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

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
# staged=True inspects the plan ROOT (r13 ADVICE, low)
# --------------------------------------------------------------------------


def test_staged_assert_rejects_plan_over_cached_subtree(spark):
    """The old substring check passed if InMemoryRelation appeared ANYWHERE
    in the plan — an aggregate built ON TOP OF a cached frame satisfied the
    contract yet re-executed its outer lineage twice. The root-node check
    must reject it."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        two_phase_tape_offsets,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    cached = spark.table("documents").select("doc_id", "lang", "text").cache()
    cached.count()  # materialize: InMemoryRelation IS in the subtree
    try:
        on_top = cached.groupBy("doc_id", "lang").agg(
            F.sum(F.length("text")).alias("n_tokens")
        )
        plan = on_top._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan  # the false-negative precondition
        with pytest.raises(AssertionError, match="MATERIALIZED"):
            two_phase_tape_offsets(on_top, "lang", "n_tokens", staged=True)
    finally:
        cached.unpersist()


# --------------------------------------------------------------------------
# ANN memo keyed on applicationId with dead-session eviction (r13 ADVICE)
# --------------------------------------------------------------------------


def test_session_key_evicts_dead_sessions(spark):
    """id(sparkContext) can be recycled by CPython after GC — the memo must
    key on applicationId and evict entries from other application ids, so a
    new session can never be served a dead session's checkpointed frames."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators import (
        similarity as sim,
    )

    app = spark.sparkContext.applicationId
    sim._ANN_INDEX_CACHE[("sess", "dead-app-123", "ivf", "/x")] = "stale"
    sim._ANN_INDEX_CACHE[("pq", "/x", 4, 16)] = "codebooks"  # session-independent
    key = sim._session_key(spark, "ivf", "/x")
    assert key == ("sess", app, "ivf", "/x")
    assert ("sess", "dead-app-123", "ivf", "/x") not in sim._ANN_INDEX_CACHE
    assert ("pq", "/x", 4, 16) in sim._ANN_INDEX_CACHE  # codebooks survive
    del sim._ANN_INDEX_CACHE[("pq", "/x", 4, 16)]


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


# --------------------------------------------------------------------------
# IVF lifecycle: add -> rebalance -> serve holds the recall floor (r13 #6)
# --------------------------------------------------------------------------


@pytest.mark.slow  # exact brute-force top-k at three SFs
def test_ivf_lifecycle_recall_floor_all_sfs(spark):
    """The end-to-end chain (incremental add -> hot-cell rebalance of the
    GROWN index -> serve) must hold the production recall floor at every
    shipped SF — the pairwise tests (add alone, rebalance of the one-shot
    index alone) cannot see a chain regression. Measured recall@5 after
    maintenance: 0.84 / 0.96 / 0.90 at sf0.001/0.01/0.1 (the sf0.1
    number the r13 verdict asked for), vs 0.96 / 0.96 / 0.88 before."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        IVF_RECALL_FLOOR,
        _lifecycle_artifacts,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    floor = int(IVF_RECALL_FLOOR * 1_000_000)
    for sf_dir in SF_ALL:
        prepare(spark, sf_dir)
        art = _lifecycle_artifacts(spark, sf_dir)
        assert art["recall_micro_after"] >= floor, (
            sf_dir,
            art["recall_micro_after"],
        )


# --------------------------------------------------------------------------
# streaming ANN ingestion (round 14): terminal == one-shot, replay no-op
# --------------------------------------------------------------------------


@pytest.mark.slow  # full stream drain + KMeans fixture
def test_stream_ivf_ingest_contract(spark):
    """The streaming ingest's five contract rows must all hold at
    sf0.001: every vector lands (n_vectors == corpus), 3 micro-batches,
    terminal assignment identical to the one-shot, census additive, and
    the at-least-once replay guard no-ops on a committed batch — the
    runtime proof of the r14 _SUCCESS-gated fold."""
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        components,
    )

    rows = {
        r.label: r.value_num
        for r in components()["stream_ivf_ingest"].fn(spark, SF0001).collect()
    }
    n_emb = spark.read.parquet(os.path.join(SF0001, "embeddings.parquet")).count()
    assert rows["n_vectors"] == n_emb
    assert rows["n_batches"] == 3
    assert rows["terminal_equals_oneshot_ok"] == 1
    assert rows["census_additive_ok"] == 1
    assert rows["replay_noop_ok"] == 1


# --------------------------------------------------------------------------
# rebalance core: chained maintenance passes (the r14 review's latent path)
# --------------------------------------------------------------------------


@pytest.mark.slow  # two KMeans-backed maintenance passes
def test_rebalance_chain_preserves_probe_fraction_and_ids(spark):
    """Rebalancing an ALREADY-REBALANCED index (the chained maintenance a
    long-lived deployment runs) must keep conservation and keep scaling
    probes from the INPUT's probe count — the r14 review found the core
    hardcoded IVF_PROBES, which would silently SHRINK the probed-mass
    fraction on the second pass."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        IVF_PROBES,
        _ivf_index,
        _rebalance_assignments,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
        prepare,
    )

    prepare(spark, SF0001)
    idx = _ivf_index(spark, SF0001)
    r1 = _rebalance_assignments(spark, idx["assigned"], idx["centroids"])
    n_cells_1 = r1["n_cells_after"]
    # pass 2 consumes pass 1's output AND its probe count
    r2 = _rebalance_assignments(
        spark, r1["rebalanced"], r1["centroids"], probes=r1["probes"]
    )
    # conservation survives the chain
    ids0 = idx["assigned"].select("vec_id")
    ids2 = r2["rebalanced"].select("vec_id")
    assert ids0.exceptAll(ids2).count() == 0
    assert ids2.exceptAll(ids0).count() == 0
    # probed-mass fraction never decreases through the chain
    frac0 = IVF_PROBES / idx["centroids"].count()
    frac1 = r1["probes"] / n_cells_1
    frac2 = r2["probes"] / r2["n_cells_after"]
    assert frac1 >= frac0 - 1e-9
    assert frac2 >= frac1 - 1e-9
    # fresh cell ids from pass 2 sit above every pass-1 id
    if r2["hot"]:
        max1 = max(
            int(r["cell"]) for r in r1["centroids"].select("cell").collect()
        )
        new2 = [
            int(r["cell"])
            for r in r2["centroids"].select("cell").collect()
            if int(r["cell"]) > max1
        ]
        assert len(new2) == 2 * len(r2["hot"])
