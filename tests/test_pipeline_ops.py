"""Invariant tests for the round-4 pipeline operators: vocabulary build,
OOV-rate scoring and market-basket co-purchase lift. Cross-engine value
equality is covered by the DuckDB oracles (scripts/check_correctness.py);
these pin the semantic contracts that an oracle rewrite could silently
relax."""

from __future__ import annotations

from tests.conftest import SF0001


def test_vocab_topk_ranking_contract(spark):
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        VOCAB_TOP_K,
        text_vocab_topk,
    )

    rows = text_vocab_topk(spark, SF0001).orderBy("rnk").collect()
    assert 0 < len(rows) <= VOCAB_TOP_K
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert 1 <= r.df <= r.cnt


def test_oov_rate_bounds_and_totals(spark):
    from pyspark.sql import functions as F

    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_oov_rate,
        text_token_count,
    )

    oov = text_oov_rate(spark, SF0001)
    bad = oov.filter(
        (F.col("n_oov") < 0)
        | (F.col("n_oov") > F.col("n_tokens"))
        | (F.col("oov_rate") < 0)
        | (F.col("oov_rate") > 1)
    ).count()
    assert bad == 0
    # every document is scored, and token totals agree with the counter op
    tc = text_token_count(spark, SF0001)
    assert oov.count() == tc.count()
    assert (
        oov.agg(F.sum("n_tokens")).first()[0]
        == tc.agg(F.sum("n_ws_tokens")).first()[0]
    )


def test_copurchase_pairs_contract(spark):
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        COPURCHASE_TOP_K,
        rec_copurchase_pairs,
    )

    rows = rec_copurchase_pairs(spark, SF0001).orderBy("rnk").collect()
    assert 0 < len(rows) <= COPURCHASE_TOP_K
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.part_a < r.part_b  # unordered pair, canonical orientation
        assert 1 <= r.pair_count <= min(r.cnt_a, r.cnt_b)
        assert r.lift > 0


def test_domain_cap_two_phase_equals_windowed(spark):
    """The salted two-phase mega-domain cap must be row-identical to the
    single-window form on ANY input (the top-K of a domain is contained in
    the union of its per-salt top-Ks), and the routed operator must equal
    both regardless of which side of the threshold each domain lands on."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        _domain_cap_two_phase,
        _domain_cap_windowed,
        prepare,
        text_domain_cap,
    )

    prepare(spark, SF0001)
    docs = spark.table("documents")
    windowed = {tuple(r) for r in _domain_cap_windowed(docs).collect()}
    two_phase = {tuple(r) for r in _domain_cap_two_phase(docs).collect()}
    assert windowed == two_phase
    # route EVERY domain through the mega path (threshold 0) and through the
    # windowed path (huge threshold): all three must agree
    all_mega = {tuple(r) for r in text_domain_cap(spark, SF0001, mega_threshold=0).collect()}
    all_small = {
        tuple(r) for r in text_domain_cap(spark, SF0001, mega_threshold=1 << 40).collect()
    }
    assert all_mega == windowed
    assert all_small == windowed


def test_chunk_windows_invariants(spark):
    """Chunking contract on exact synthetic token counts, checked against a
    pure-Python reference: chunk count = ceil(n/stride), full coverage of
    every token, CHUNK_OVERLAP tokens of continuity at every full-window
    boundary, and exact first/last token slicing."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
        chunk_token_windows,
    )

    stride = CHUNK_SIZE - CHUNK_OVERLAP
    lengths = [1, stride - 1, stride, stride + 1, CHUNK_SIZE - 1, CHUNK_SIZE,
               CHUNK_SIZE + 1, 2 * stride, 100, 3 * CHUNK_SIZE + 7]
    docs = spark.createDataFrame(
        [(n, " ".join(f"t{n}_{i}" for i in range(n))) for n in lengths],
        "doc_id long, text string",
    )
    rows = chunk_token_windows(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for n in lengths:
        chunks = sorted(by_doc[n], key=lambda r: r.chunk_idx)
        assert len(chunks) == -(-n // stride)  # ceil
        covered = set()
        for r in chunks:
            assert r.start_tok == r.chunk_idx * stride
            assert r.chunk_len == min(CHUNK_SIZE, n - r.start_tok) >= 1
            assert r.first_tok == f"t{n}_{r.start_tok}"
            assert r.last_tok == f"t{n}_{r.start_tok + r.chunk_len - 1}"
            covered.update(range(r.start_tok, r.start_tok + r.chunk_len))
        assert covered == set(range(n)), f"doc of {n} tokens not fully covered"
        for a, b in zip(chunks, chunks[1:]):
            if a.chunk_len == CHUNK_SIZE:  # full window -> exact overlap
                assert a.start_tok + a.chunk_len - b.start_tok == CHUNK_OVERLAP


def test_group_holdout_split_is_leakage_safe(spark):
    """The split must be a pure function of the group key: every source
    lands in exactly ONE split, and restricting the corpus to any subset
    (growth in reverse) never moves a group's assignment — the property
    that makes incremental corpus builds leakage-safe."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_group_holdout_split,
    )

    from pyspark.sql import functions as F

    full = text_group_holdout_split(spark, SF0001)
    per_group = full.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.filter(F.col("n_splits") != 1).count() == 0

    # subset stability: recompute on half the docs; assignments match
    sub = (
        text_group_holdout_split(spark, SF0001)
        .filter(F.col("doc_id") % 2 == 0)
        .select("source", "split")
        .distinct()
    )
    fullmap = full.select("source", "split").distinct()
    assert sub.join(fullmap, ["source", "split"], "left_anti").count() == 0

    # all three splits actually occur on this corpus (the 10/3/3 carve)
    assert {r.split for r in fullmap.select("split").distinct().collect()} == {
        "train",
        "val",
        "test",
    }
