"""Round-10 invariant tests: the BPE tokenizer's encode/decode round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark import registry
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def _comp(name):
    return registry.components()[name].fn


def test_bpe_roundtrip_holds(spark):
    """decode(encode(x)) = x for every document — the property that makes
    the tokenizer usable for training data. The oracle comparison pins the
    md5s cross-engine; this pins that the verdict is actually TRUE."""
    df = _comp("text_bpe_roundtrip")(spark, SF0001).cache()
    n_docs = (
        spark.table("documents").filter(F.trim("text") != "").count()
    )
    rows = df.collect()
    assert len(rows) == n_docs
    for r in rows:
        assert r["roundtrip_ok"], r
        assert r["original_md5"] == r["reconstructed_md5"]
        assert r["n_bpe_tokens"] >= r["n_words"] > 0
