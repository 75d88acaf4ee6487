"""Round-10 regression and invariant tests.

Pins the short-document guard in the span-shingling family (ADVICE r9:
two-arg ``sequence(1, 0)`` DESCENDS on Spark 4.1.2, so docs under
SPAN_SHINGLE_K tokens used to hard-crash ``slice(t, 0, k)`` with
INVALID_PARAMETER_VALUE.START — the shipped fixtures' 10-token minimum
masked it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.operators.dedup import (
    SPAN_SHINGLE_K,
)
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def _comp(name):
    return registry.components()[name].fn


@pytest.fixture(scope="module")
def short_doc_dir(spark, tmp_path_factory):
    """A fixture dir whose documents table contains docs BELOW the shingle
    width k (1..k-1 tokens), alongside two >= k-token docs sharing a span —
    the corpus shape that crashed the pre-fix shingle expression."""
    base = tmp_path_factory.mktemp("shortdocs")
    out = str(base / "fixture")
    os.makedirs(out)
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        os.symlink(f"{SF0001}/{t}.parquet", f"{out}/{t}.parquet")
    ref = spark.read.parquet(f"{SF0001}/documents.parquet")
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        # one doc per length 1..k-1: every short length that used to crash
        *[(1000 + n, " ".join(f"w{n}t{i}" for i in range(n)))
          for n in range(1, SPAN_SHINGLE_K)],
        (2000, ""),  # zero tokens (and the % 100 == 0 eval stand-in)
        (2001, shared + " one two"),
        (2002, shared + " three four"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in texts], ref.schema
    )
    docs.coalesce(1).write.parquet(f"{out}/documents.parquet")
    return out


def test_span_family_survives_short_docs(spark, short_doc_dir):
    """All three span-shingle consumers must run (not throw) on a corpus
    with sub-k-token docs, emit NO windows for them, and still find the
    genuine shared span between the two long docs."""
    spans = _comp("dedup_shared_spans")(spark, short_doc_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in spans}
    assert set(pairs) == {(2001, 2002)}
    # 10 shared tokens -> 10-k+1 consecutive k-windows -> span = 10
    assert pairs[(2001, 2002)]["max_span_tokens"] == 10

    exc = _comp("dedup_span_excision")(spark, short_doc_dir)
    by_id = {r["doc_id"]: r for r in exc.collect()}
    # only the later duplicate is affected; short docs never appear
    assert set(by_id) == {2002}
    assert by_id[2002]["n_tokens_dropped"] == 10
    assert by_id[2002]["n_tokens_after"] == 2

    dec = _comp("text_span_decontamination")(spark, short_doc_dir)
    assert dec.count() > 0  # ran to completion on the short-doc corpus


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


def test_short_doc_emits_no_windows(spark):
    """Unit pin of the guarded expression itself: the filter must turn the
    descending sequence(1, 0) artifact into an empty window list."""
    k = SPAN_SHINGLE_K
    df = spark.createDataFrame(
        [(n, [f"t{i}" for i in range(n)]) for n in (0, 1, k - 1, k, k + 3)],
        "n int, t array<string>",
    )
    got = {
        r["n"]: r["w"]
        for r in df.select(
            "n",
            F.expr(
                f"transform(filter(sequence(1, greatest(size(t) - {k - 1}, 1)),"
                f"                 i -> i <= size(t) - {k - 1}),"
                f" i -> struct(i AS pos, array_join(slice(t, i, {k}), ' ') AS shingle))"
            ).alias("w"),
        ).collect()
    }
    assert got[0] == [] and got[1] == [] and got[k - 1] == []
    assert len(got[k]) == 1 and got[k][0]["pos"] == 1
    assert len(got[k + 3]) == 4
