"""Recommender invariants (SURVEY.md §5.2 ML metric tests).

ALS factor values are algorithm-internal; these tests pin the *contracts*:
MMR output ⊆ candidate pool with the top-relevance item picked first
(reference: mf_knn_recommender.py:514-516 invariant), metric ranges, and
model roundtrip determinism. One shared training run at sf0.001.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def recs(spark):
    from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

    prepare(spark, SF0001)
    return {
        "topk": rq._topk_recs(spark, SF0001).collect(),
        "mmr": rq.mmr_rerank(spark, SF0001).collect(),
        "pool": rq._topk_recs(spark, SF0001, k=rq.MMR_POOL).collect(),
        "metrics": rq.rec_eval_metrics(spark, SF0001).collect()[0],
        "k": rq.TOP_K,
    }


def test_topk_exactly_k_per_user(recs):
    from collections import Counter

    per_user = Counter(r.user_id for r in recs["topk"])
    assert set(per_user.values()) == {recs["k"]}


def test_topk_ranks_are_1_to_k(recs):
    by_user: dict = {}
    for r in recs["topk"]:
        by_user.setdefault(r.user_id, []).append((r.rnk, r.score))
    for user, pairs in by_user.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, recs["k"] + 1))
        scores = [p[1] for p in pairs]
        assert scores == sorted(scores, reverse=True)


def test_mmr_subset_of_pool(recs):
    pool = {(r.user_id, r.item_id) for r in recs["pool"]}
    assert all((r.user_id, r.item_id) in pool for r in recs["mmr"])


def test_mmr_first_pick_is_top_relevance(recs):
    # reference invariant (mf_knn_recommender.py:514-516): with no items
    # selected yet, MMR score reduces to λ·relevance, so the first pick is
    # the max-relevance candidate.
    best_rel: dict = {}
    for r in recs["pool"]:
        cur = best_rel.get(r.user_id)
        if cur is None or r.score > cur[1]:
            best_rel[r.user_id] = (r.item_id, r.score)
    firsts = {r.user_id: r.item_id for r in recs["mmr"] if r.mmr_rank == 1}
    mismatches = sum(1 for u, item in firsts.items() if best_rel[u][0] != item)
    assert mismatches == 0


def test_mmr_k_items_per_user(recs):
    from collections import Counter

    per_user = Counter(r.user_id for r in recs["mmr"])
    assert set(per_user.values()) == {recs["k"]}


def test_metrics_in_range(recs):
    m = recs["metrics"]
    assert 0.0 <= m.p_at_k <= 1.0
    assert 0.0 <= m.r_at_k <= 1.0
    assert 0.0 <= m.f1 <= 1.0
    assert m.n_eval_users > 0


def test_cli_serving_entry_point(spark, recs):
    """scripts/recommend_user.py — the use_model.py-analog CLI: a trained
    user serves k rows (rc 0); an unknown user without --fold-in is
    refused with rc 1; with --fold-in the no-history unknown lands on the
    popularity shelf (rc 0). Rides the session-memoized model the `recs`
    fixture already trained."""
    import importlib.util
    from pathlib import Path

    cli_path = Path(__file__).resolve().parent.parent / "scripts" / "recommend_user.py"
    spec = importlib.util.spec_from_file_location("recommend_user", str(cli_path))
    ru = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ru)
    uid = str(recs["topk"][0].user_id)
    assert ru.main(["--user", uid, "--top-k", "3", "--sf-dir", SF0001]) == 0
    assert ru.main(["--user", "999999", "--sf-dir", SF0001]) == 1
    assert ru.main(["--user", "999999", "--fold-in", "--sf-dir", SF0001]) == 0


def test_mmr_exact_pick_sequence_on_constructed_geometry(spark):
    """Round-11 differential: the greedy λ·rel − (1−λ)·max-sim ITERATION
    itself (reference: mf_knn_recommender.py:510-539), pinned on geometry
    whose cosines are hand-exact — until now only invariants (subset,
    first-pick, k-per-user) were checked, which a wrong max-sim update
    would still satisfy.

    User 1, λ=0.7 (margins ≥ 0.002, far above float32 noise):
      item 1: rel 1.0, (1,0);  item 2: rel 0.9, (2,0) — SAME direction as
      item 1 (cos 1 after the in-fn normalization, which this also tests);
      item 3: rel 0.5, (0,1);  item 4: rel 0.8, (1,1) (cos √2/2 to both axes)
      pick 1: max rel → 1
      pick 2: 2: .63−.3·1 = .33 | 3: .35−0 = .35 | 4: .56−.3·.7071 = .3479 → 3
      pick 3: 2: .33 | 4: .3479 (max-sim unchanged: cos(4,3)=cos(4,1)) → 4
      pick 4: → 2              ⇒ sequence [1, 3, 4, 2] — NOT relevance order.

    User 2 pins the tie-break: items 10 (rel .9, (0,1)) and 11 (rel .9,
    (1,0)) tie on relevance → lower item_id first; then 11 (.63 vs item
    12's .595−.3·.7071 = .3829), then 12 ⇒ [10, 11, 12]."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        mmr_diversify_frame,
    )

    cand = spark.createDataFrame(
        [
            (1, 1, 1.0, [1.0, 0.0]),
            (1, 2, 0.9, [2.0, 0.0]),
            (1, 3, 0.5, [0.0, 1.0]),
            (1, 4, 0.8, [1.0, 1.0]),
            (2, 11, 0.9, [1.0, 0.0]),
            (2, 10, 0.9, [0.0, 1.0]),
            (2, 12, 0.85, [1.0, 1.0]),
        ],
        "user_id long, item_id long, relevance double, features array<double>",
    )
    out = mmr_diversify_frame(cand).collect()
    picks: dict = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.mmr_rank)):
        picks.setdefault(r.user_id, []).append(r.item_id)
    assert picks == {1: [1, 3, 4, 2], 2: [10, 11, 12]}


def _mmr_picks_reference(mat, rel, lam, k):
    """The greedy loop as first written: the max cosine to the picks is
    recomputed from the full sim sub-matrix at every step."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sim = unit @ unit.T
    selected: list[int] = []
    remaining = list(range(len(rel)))
    while remaining and len(selected) < k:
        if selected:
            max_sim = sim[np.ix_(remaining, selected)].max(axis=1)
        else:
            max_sim = np.zeros(len(remaining))
        best = remaining[int(np.argmax(lam * rel[remaining] - (1 - lam) * max_sim))]
        selected.append(best)
        remaining.remove(best)
    return selected


def test_mmr_body_equals_reference_loop():
    """``_mmr_picks`` keeps a running max instead of re-reducing the sim
    sub-matrix; max is exact, so the picks must be identical to the
    reference loop's, in float32 and float64, with negative cosines,
    tied relevances, zero and NaN rows, and pools shorter than k."""
    import numpy as np

    from e_commerce_data_warehouse_recommendation_system_spark.recommend import (
        queries as rq,
    )

    rng = np.random.default_rng(11)
    for t in range(3000):
        n, d = int(rng.integers(1, 31)), int(rng.integers(1, 17))
        dtype = np.float32 if t % 2 else np.float64
        if t % 3 == 0:  # small integers: exact ties and zero rows
            mat = rng.integers(-2, 3, size=(n, d)).astype(dtype)
            rel = (rng.integers(0, 4, size=n) / 4).astype(dtype)
        else:
            mat = rng.standard_normal((n, d)).astype(dtype)
            rel = rng.standard_normal(n).astype(dtype)
        rel = np.sort(rel)[::-1].copy()
        if t % 11 == 0:
            mat[rng.integers(0, n)] = np.nan
        want = _mmr_picks_reference(mat.copy(), rel, rq.MMR_LAMBDA, rq.TOP_K)
        assert rq._mmr_picks(mat.copy(), rel) == want, f"case {t}"


def test_als_eval_metric_floors_sf001(spark):
    """Round-11 floor pin (VERDICT r10 item 4): SURVEY M3's parity claim is
    metric-level, but range checks alone let a silent model-quality
    regression (bad indexing join, wrong implicit weights) ship. The seeded
    sf0.01 metrics are deterministic for a given ALS block count (with
    10 blocks, bit-identical across local[4]/local[8] and shuffle=4/8/32
    — recorded in COVERAGE.md round 11):
      p@10 = 0.002342704149933067, r@10 = 0.0033635699047345645,
      f1 = 0.0027618193935028614, n_eval_users = 1494.
    Those are MLlib's default 10 ALS blocks per side. The fit now takes
    one block per core, and on local[4] (4 blocks) it records
      p@10 = 0.0025435073627844713, r@10 = 0.0039746361031501596,
      f1 = 0.003101961853274985, n_eval_users = 1494.
    Floors at 80% of the 10-block values; the user count and split are md5-
    deterministic, so those pin exactly. (Absolute values are small by
    construction — the synthetic interactions are near-random — which is
    exactly why a floor, not a target, is the right contract.)"""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend import (
        queries as rq,
    )

    m = rq.rec_eval_metrics(spark, "/root/testdata/sf0.01").collect()[0]
    assert m.n_eval_users == 1494
    assert m.p_at_k >= 0.8 * 0.002342704149933067
    assert m.r_at_k >= 0.8 * 0.0033635699047345645
    assert m.f1 >= 0.8 * 0.0027618193935028614
