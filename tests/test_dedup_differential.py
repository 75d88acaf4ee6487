"""Adversarial differential test for the near-dup mining family.

Constructed corpus with HAND-COMPUTABLE overlap: docs built from disjoint
token vocabularies so their distinct 3-gram shingle sets are exactly
countable — one pair at jaccard 18/22 (above the 0.7 threshold), one at
9/31 (below), and one exact duplicate (jaccard 1). Each miner is compared
row-exactly against its DuckDB oracle on this corpus AND against the
hand-derived truth: the exact n-gram miner must report exactly the
above-threshold pairs with exact rational jaccards; MinHash+LSH must find
the exact duplicate (all 4 bands provably collide at J=1 — the planted
0.818 pair is only probabilistically a candidate, so it is asserted only
in the exact miner); exact dedup must collapse exactly the one dup group.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import TABLES

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


def _toks(tag: str, n: int) -> list[str]:
    return [f"{tag}{i:02d}" for i in range(n)]


@pytest.fixture(scope="module")
def dedup_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dedup_diff")
    out = str(base / "fixture")
    os.makedirs(out)
    for t in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{out}/{t}.parquet")
    T = _toks("t", 22)  # t00..t21
    U = _toks("u", 2)
    V = _toks("v", 11)
    texts = {
        # A: 22 tokens -> 20 distinct shingles
        10: " ".join(T),
        # B: first 20 of A + 2 new -> shares shingles 1..18: J = 18/22
        11: " ".join(T[:20] + U),
        # C: first 11 of A + 11 new -> shares shingles 1..9: J = 9/31 < 0.7
        12: " ".join(T[:11] + V),
        # D: exact copy of A (larger id -> A keeps)
        13: " ".join(T),
        # unrelated filler on disjoint vocabularies
        20: " ".join(_toks("w", 15)),
        21: " ".join(_toks("x", 15)),
        22: " ".join(_toks("y", 15)),
        23: " ".join(_toks("z", 15)),
    }
    rows = [(i, s, "en", "diff", len(s)) for i, s in sorted(texts.items())]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{out}/documents.parquet")
    return out


def _duck(dedup_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{dedup_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _differential(spark, dedup_dir, name):
    comp = registry.components().get(name)
    if comp is None:
        fn, oracle = registry.queries()[name], registry.oracles()[name]
    else:
        fn, oracle = comp.fn, comp.oracle
    got = sorted(tuple(r) for r in fn(spark, dedup_dir).collect())
    want = sorted(tuple(r) for r in _duck(dedup_dir).execute(oracle).fetchall())
    assert got == want, (name, got, want)
    return got


def test_exact_jaccard_pairs_exact_values(spark, dedup_dir):
    got = _differential(spark, dedup_dir, "dedup_ngram_jaccard")
    pairs = {(a, b): j for a, b, j in got}
    assert set(pairs) == {(10, 11), (10, 13), (11, 13)}
    assert pairs[(10, 13)] == 1.0
    assert pairs[(10, 11)] == pairs[(11, 13)] == 18 / 22


def test_exact_dedup_collapses_the_dup_group(spark, dedup_dir):
    got = _differential(spark, dedup_dir, "dedup_exact")
    by_keeper = {r[1]: r[2] for r in got}  # keeper_doc_id -> n_copies
    assert by_keeper[10] == 2  # A keeps; D collapsed into it
    assert 13 not in by_keeper
    assert all(n == 1 for k, n in by_keeper.items() if k != 10)


def test_minhash_lsh_finds_the_exact_duplicate(spark, dedup_dir):
    got = _differential(spark, dedup_dir, "dedup_minhash_lsh")
    pairs = {(r[0], r[1]): r[-1] for r in got}
    assert (10, 13) in pairs and pairs[(10, 13)] == 1.0
    # nothing below the threshold ever surfaces
    assert (10, 12) not in pairs and (12, 13) not in pairs


def test_simhash_pairs_match_oracle(spark, dedup_dir):
    _differential(spark, dedup_dir, "dedup_simhash_pairs")


def test_lsh_quality_reconciles_on_constructed_corpus(spark, dedup_dir):
    """dedup_lsh_quality on the constructed corpus: exact truth is the 3
    hand-derived pairs; the LSH side may legitimately miss the planted
    0.818 pairs (banding is probabilistic per md5 seed — deterministic for
    a given corpus), and the quality row must reconcile exactly with what
    dedup_minhash_lsh itself reports: precision 1.0 (verified candidates
    only), recall = found/3 in integer micro-units."""
    got = _differential(spark, dedup_dir, "dedup_lsh_quality")
    (n_exact, n_lsh, n_missed, prec, rec) = got[0]
    assert n_exact == 3
    lsh_pairs = registry.queries()["dedup_minhash_lsh"]
    n_direct = lsh_pairs(spark, dedup_dir).count()
    assert n_lsh == n_direct
    assert n_missed == 3 - n_lsh
    assert prec == 1000000
    assert rec == 1000000 * n_lsh // 3


# --------------------------------------------------------------------------
# ER golden record: transitive entity + survivorship on a constructed catalog
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def er_dir(spark, tmp_path_factory):
    """Constructed part catalog with a HAND-DERIVED entity structure:
    a 3-variant chain joined only through transitivity ("aaaa bolt" ~2~
    "aabb bolt" ~2~ "bbbb bolt", but ends at distance 4 — no direct
    edge), a support-count survivorship winner, a lexicographic
    tie-break pair, and an isolated singleton."""
    base = tmp_path_factory.mktemp("er_diff")
    out = str(base / "fixture")
    os.makedirs(out)
    for t in (
        "region nation customer supplier orders lineitem events documents"
    ).split():
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{out}/{t}.parquet")
    names = (
        ["aaaa bolt"]  # chain end (1 row)
        + ["aabb bolt"]  # chain middle (1 row)
        + ["bbbb bolt"] * 3  # chain end, highest support -> canonical
        + ["cc gear"] * 2  # tie pair: equal support,
        + ["cd gear"] * 2  # lexicographic tie-break -> "cc gear"
        + ["zz widget"]  # isolated singleton
    )
    rows = [
        (i + 1, n, f"B{i % 3}", "type", 1, 9.99) for i, n in enumerate(names)
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(f"{out}/part.parquet")
    return out


def test_er_golden_record_transitive_and_survivorship(spark, er_dir):
    got = _differential(spark, er_dir, "er_golden_record")
    by_root = {r[0]: r for r in got}
    # the chain resolved into ONE entity despite the ends being 4 edits
    # apart; root is the lexicographic min, canonical the support winner
    assert by_root["aaaa bolt"] == ("aaaa bolt", "bbbb bolt", 3, 5)
    # equal support -> lexicographic tie-break picks "cc gear"
    assert by_root["cc gear"] == ("cc gear", "cc gear", 2, 4)
    # the singleton survives as its own golden record
    assert by_root["zz widget"] == ("zz widget", "zz widget", 1, 1)
    assert len(got) == 3
