"""The refresh's driver pass: MMR, eval and memory, checked against
independent implementations.

Stages 5-8 of ``rec_pipeline_e2e`` run on the driver over the fitted
factors. Here the driver MMR is checked against the distributed
``mmr_diversify_frame`` over the same pool, the driver P@k/R@k against
DuckDB SQL over the served top-k and the md5 held-out split, and (at
sf0.1) the driver arrays against a byte bound per user, item, held-out
pair and collected interaction.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare
from tests.conftest import SF0001

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_correctness import duck_connect  # noqa: E402

# full-gate lane: trains a model (see pytest.ini)
pytestmark = pytest.mark.slow

SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def art(spark):
    prepare(spark, SF0001)
    return rq._artifacts(spark, SF0001)


def test_driver_mmr_picks_equal_distributed_mmr(spark, art):
    """For every trained user, the driver pass picks the same items in
    the same order as ``mmr_diversify_frame`` (mapInArrow over Spark
    partitions) over the same 30-item pool."""
    item_factors = art["model"].itemFactors.select(
        F.col("id").alias("item_idx"), "features"
    )
    cand = (
        rq._topk_recs(spark, SF0001, k=rq.MMR_POOL)
        .join(F.broadcast(art["items"]), "item_id")
        .join(item_factors, "item_idx")
        .select("user_id", "item_id", F.col("score").alias("relevance"), "features")
    )

    def picks(rows):
        out: dict = {}
        for r in sorted(rows, key=lambda r: (r.user_id, r.mmr_rank)):
            out.setdefault(r.user_id, []).append((r.item_id, r.relevance))
        return out

    driver = picks(rq.mmr_rerank(spark, SF0001).collect())
    spark_side = picks(rq.mmr_diversify_frame(cand).collect())
    assert sorted(driver) == sorted(rq._serving_state(art)["user_row"])
    assert driver == spark_side
    assert {len(v) for v in driver.values()} == {rq.TOP_K}


def test_eval_metrics_match_duckdb(spark, art):
    """``n_eval_users`` equals DuckDB's count exactly; P@k and R@k agree
    to 1e-12 (the two engines sum the per-user terms in different
    orders)."""
    recs = rq._topk_recs(spark, SF0001).toArrow()
    m = rq.rec_eval_metrics(spark, SF0001).collect()[0]
    con = duck_connect(SF0001)
    try:
        con.register("recs", recs)
        want = con.execute(
            f"""
            WITH inter AS ({rq._SQL_INTERACTIONS}),
            test AS (
              SELECT user_id, item_id FROM inter
              WHERE substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2')
            ),
            per_user AS (
              SELECT t.user_id, COUNT(*) AS n_actual, COUNT(r.item_id) AS n_hits
              FROM test t
              LEFT JOIN recs r ON r.user_id = t.user_id AND r.item_id = t.item_id
              WHERE t.user_id IN (SELECT user_id FROM recs)
              GROUP BY t.user_id
            )
            SELECT COUNT(*), AVG(n_hits / {rq.TOP_K}.0), AVG(n_hits / n_actual)
            FROM per_user
            """
        ).fetchone()
    finally:
        con.close()
    n_eval, p, r = want
    assert m.k == rq.TOP_K
    assert m.n_eval_users == n_eval and n_eval > 0
    assert abs(m.p_at_k - p) <= 1e-12
    assert abs(m.r_at_k - r) <= 1e-12
    assert m.f1 == pytest.approx(2 * p * r / (p + r), abs=1e-12)


#: driver bytes per trained user: U (rank float32) + its id, the k=10 and
#: k=30 top-k arrays (int64 position + float32 score per slot) and the
#: MMR table's k rows (user, item, rank int64 + relevance float32)
BYTES_PER_USER = rq.RANK * 4 + 8 + (rq.TOP_K + rq.MMR_POOL) * 12 + rq.TOP_K * 28
#: per trained item: V (rank float32) + its id
BYTES_PER_ITEM = rq.RANK * 4 + 8
#: per held-out pair: two int64 ids
BYTES_PER_HELD_OUT = 16
#: per dictionary entry (every distinct user and item): its int64 id
BYTES_PER_DICT_ID = 8
#: per collected interaction, held while the refresh encodes them: the
#: two int64 ids and the split flag as collected (plus a validity bit per
#: column) and the two int32 codes
BYTES_PER_INTERACTION = 25


def test_refresh_driver_arrays_bounded_at_sf01(spark, monkeypatch):
    """At sf0.1 the refresh's driver arrays stay inside the byte budget
    above (15 000 users, 20 000 items, 599 351 interactions, 112 572 of
    them held out). What the model keeps stays under 20 MB. The collected
    interactions, which the encoder sees once, are counted beside it, and
    the two together stay under 40 MB."""
    key = (spark.sparkContext.applicationId, SF01)
    collected: dict = {}
    encode = rq._dictionary

    def counting_encode(table, name):
        ids, codes = encode(table, name)
        collected[id(table)] = table.nbytes  # each collect once
        collected[(id(table), name)] = codes.nbytes
        return ids, codes

    monkeypatch.setattr(rq, "_dictionary", counting_encode)
    try:
        rows = {r.metric: r.value_num for r in rq.rec_pipeline_e2e(spark, SF01).collect()}
        art = rq._CACHE[key]
        st = art["serving"]
        arrays = [st["U"], st["V"], st["user_ids"], st["item_ids"], *art["held_out"]]
        arrays += [art["user_dict"], art["item_dict"]]
        arrays += [*art[f"topk_k{rq.TOP_K}"], *art[f"topk_k{rq.MMR_POOL}"]]
        kept = sum(a.nbytes for a in arrays) + art["mmr"].nbytes
        n_users, n_items, n_held_out = len(st["U"]), len(st["V"]), len(art["held_out"][0])
        n_dict = len(art["user_dict"]) + len(art["item_dict"])
    finally:
        rq._CACHE.pop(key, None)
        prepare(spark, SF0001)
    assert n_held_out == rows["n_test"] == 112_572
    assert rows["n_interactions"] == 599_351
    assert (n_users, n_items) == (rows["n_user_factors"], rows["n_item_factors"])
    assert n_dict == rows["n_users"] + rows["n_items"]
    bound = (
        n_users * BYTES_PER_USER
        + n_items * BYTES_PER_ITEM
        + n_held_out * BYTES_PER_HELD_OUT
        + n_dict * BYTES_PER_DICT_ID
    )
    assert kept <= bound, f"{kept} driver bytes kept > {bound}"
    assert kept < 20_000_000
    total = kept + sum(collected.values())
    bound += int(rows["n_interactions"]) * BYTES_PER_INTERACTION
    assert total <= bound, f"{total} driver bytes > {bound}"
    assert total < 40_000_000
