"""ALS fold-in: solving user factors against the trained item factors
must reproduce the trained user factors, and must serve a user unseen in
training. Serving parity of the top-k kernel against MLlib lives in
tests/test_serve_user_parity.py.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def test_fold_in_reproduces_trained_factors(spark):
    """Fold-in from a user's full train history against the final item
    factors must land on the TRAINED user factor (the last ALS half-step
    solves exactly this system — cosine ~1 up to float32 storage)."""
    import numpy as np

    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        _artifacts,
        rec_fold_in_user_factors,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

    prepare(spark, SF0001)
    art = _artifacts(spark, SF0001)
    trained = {r.id: np.array(r.features) for r in art["model"].userFactors.collect()}
    folded = {
        r.user_idx: np.array(r.features)
        for r in rec_fold_in_user_factors(spark, SF0001).collect()
    }
    assert set(folded) == set(trained)
    worst = 1.0
    for u, f in folded.items():
        t = trained[u]
        cos = float(f @ t / (np.linalg.norm(f) * np.linalg.norm(t) + 1e-12))
        worst = min(worst, cos)
    assert worst > 0.9999, f"fold-in diverged from trained factors: min cosine {worst}"


def test_fold_in_serves_unseen_user(spark):
    """A user id absent from training gets a finite factor from a handful of
    interactions — the cold-start path the reference refuses."""
    import numpy as np

    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        _artifacts,
        rec_fold_in_user_factors,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

    prepare(spark, SF0001)
    art = _artifacts(spark, SF0001)
    some_items = [r.item_idx for r in art["items"].limit(5).collect()]
    new_user_idx = 10_000_000  # far outside the trained index space
    inter = art["train"].sparkSession.createDataFrame(
        [(new_user_idx, i) for i in some_items], "user_idx int, item_idx int"
    )
    out = rec_fold_in_user_factors(spark, SF0001, interactions_df=inter).collect()
    assert len(out) == 1 and out[0].user_idx == new_user_idx
    vec = np.array(out[0].features)
    assert np.all(np.isfinite(vec)) and np.linalg.norm(vec) > 0
