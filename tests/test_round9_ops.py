"""Invariant tests for the round-9 operators.

The BPE operators have full-result DuckDB oracles (checked via
scripts/check_correctness.py --components); these pin what the oracle
can't: the BPE merge fold is compared against an independent PYTHON
reference implementation of greedy non-overlapping merge application on
constructed words (so both engines being consistently wrong still fails
here).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.operators.text import BPE_MERGES
from tests.conftest import SF0001


def _comp(name):
    return registry.components()[name].fn


def _bpe_reference(word: str) -> list[str]:
    """Independent reference: canonical greedy BPE application — for each
    rule in rank order, repeatedly merge the LEFTMOST adjacent (a, b)
    occurrence until none remain (equivalent to one left-to-right
    non-overlapping pass), then move to the next rule."""
    seq = list(word)
    for a, b in BPE_MERGES:
        out: list[str] = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def test_bpe_fold_matches_python_reference(spark):
    """The per-word Spark fold must reproduce the reference tokenization on
    words covering every tricky case: chained second-order merges (the ->
    th+e), overlap greediness (ththe), rule-order interaction (instant:
    in/an/st all apply), and no-merge words."""
    words = [
        "the",       # chained: t+h, then th+e
        "ththe",     # greedy overlap: [th, the]
        "then",      # th+e wins before e+r could see the e
        "instant",   # in, (s t), an+t? — multiple disjoint merges
        "and",       # a+n then an+d
        "error",     # e+r, r+e? — r consumed by er first
        "zzz",       # no rule applies
        "a",         # single char
        "thethethe", # repeated second-order merges
        "north",     # o+n? n is consumed? order matters
        "stone",     # s+t, o+n, e left
        "rest",      # r+e, s+t
    ]
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        _BPE_SEP,
        text_bpe_encode,  # noqa: F401 — ensures module import side effects
    )

    df = spark.createDataFrame([(w,) for w in words], "w string")

    # rebuild the same fold the operator uses (the operator's fold is an
    # inner expression; reproduce it here from the same public constants)
    def merge_rule(a: str, b: str):
        def step(acc, x):
            return (
                F.when(acc == "", x)
                .when(
                    ((acc == a) | acc.endswith(_BPE_SEP + a)) & (x == b),
                    F.concat(acc, F.lit(b)),
                )
                .otherwise(F.concat(acc, F.lit(_BPE_SEP), x))
            )

        return step

    enc = F.array_join(F.split("w", ""), _BPE_SEP)
    for a, b in BPE_MERGES:
        enc = F.aggregate(F.split(enc, _BPE_SEP), F.lit(""), merge_rule(a, b))
    got = {
        r["w"]: r["toks"]
        for r in df.select("w", F.split(enc, _BPE_SEP).alias("toks")).collect()
    }
    for w in words:
        assert got[w] == _bpe_reference(w), (w, got[w], _bpe_reference(w))


def test_bpe_encode_doc_invariants(spark):
    """Per-doc outputs: token counts bounded by chars (merges only shrink)
    and at least one token per word; checksum positive; every doc with a
    non-empty text present exactly once."""
    df = _comp("text_bpe_encode")(spark, SF0001).cache()
    rows = df.collect()
    n_docs = spark.table("documents").filter(F.trim("text") != "").count()
    assert len(rows) == n_docs
    assert df.select("doc_id").distinct().count() == len(rows)
    for r in rows:
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        assert r["ids_checksum"] >= r["n_bpe_tokens"]  # ids are >= 1
