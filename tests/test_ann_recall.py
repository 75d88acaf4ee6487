"""ANN quality floors: approximate paths must actually find neighbors.

"Runs without error" is not a useful bar for an ANN operator — these pin
recall@5 against the exact brute-force top-k at SERVING-QUALITY floors
(round-6 configs measured across sf0.001/0.01/0.1: LSH 12x3-bit tables
0.84-1.00, multi-probe IVF 8-of-16 cells 0.88-0.96; floors one full step
below the worst measurement). A regression that silently degrades
bucketing or probing (e.g. back to one over-fine table, which measured
0.04, or r5's 3-probe IVF at 0.54) fails here. The same floors gate the
driver-visible sim_ann_digest row (operators/similarity.py
LSH_RECALL_FLOOR / IVF_RECALL_FLOOR — imported, so they cannot drift from
what this test asserts)."""

from __future__ import annotations

import pytest

from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
    IVF_RECALL_FLOOR,
    LSH_RECALL_FLOOR,
)
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def exact_pairs(spark):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        sim_cosine_topk,
    )

    return {(r.query_id, r.neighbor_id) for r in sim_cosine_topk(spark, SF0001).collect()}


def _recall(spark, fn, exact):
    approx = {(r.query_id, r.neighbor_id) for r in fn(spark, SF0001).collect()}
    return len(exact & approx) / len(exact)


def test_lsh_recall_floor(spark, exact_pairs):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        sim_ann_lsh_topk,
    )

    assert LSH_RECALL_FLOOR >= 0.6  # serving-quality bar, not "ran at all"
    assert _recall(spark, sim_ann_lsh_topk, exact_pairs) >= LSH_RECALL_FLOOR


def test_ivf_recall_floor(spark, exact_pairs):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        sim_ann_ivf_topk,
    )

    assert IVF_RECALL_FLOOR >= 0.8
    assert _recall(spark, sim_ann_ivf_topk, exact_pairs) >= IVF_RECALL_FLOOR


def test_ivf_rebalanced_recall_floor(spark, exact_pairs):
    """Index maintenance must not cost serving quality: the hot-cell-split
    index (probe count scaled with the grown cell count) holds the same
    recall floor as the production index — measured 1.00 after vs 0.88
    before at sf0.001 (finer cells + preserved probe mass sharpened the
    shortlist)."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.similarity import (
        _ivf_query,
        _rebalanced_index,
    )

    reb = _rebalanced_index(spark, SF0001)
    assert reb["hot"], "fixture must exercise the split path"
    after = {
        (r.query_id, r.neighbor_id)
        for r in _ivf_query(
            reb["rebalanced"], reb["centroids"], probes=reb["probes"]
        ).collect()
    }
    assert len(exact_pairs & after) / len(exact_pairs) >= IVF_RECALL_FLOOR
