"""``serve_user``: parity with MLlib, equality with batch serving, and
the zero-job contract.

``serve_user`` scores one user with ``_topk_kernel`` over the model's
driver-resident factors. For every trained user at sf0.001 its rows must
be MLlib's ``recommendForUserSubset`` rows decoded through
``_decode_recs``: the same item set, bit-equal float32 scores, and the
same order wherever scores strictly decrease. Where two picks tie
exactly, the kernel orders them by item_id ascending, while MLlib's
queue order is arbitrary, so tied positions are compared as sets.

Bit-equality assumes MLlib scores with the pure-Java dev.ludovic.netlib
BLAS, a sequential float32 multiply-add that the kernel replays; that is
the BLAS MLlib uses wherever the native JNIBLAS does not load. A native
BLAS may accumulate in another order, and this test would then fail on
the scores, naming the BLAS it found.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare
from tests.conftest import SF0001

# full-gate lane: trains a model (see pytest.ini)
pytestmark = pytest.mark.slow

SERVE_SCHEMA = "struct<user_id:bigint,item_id:bigint,rnk:int,score:float>"


@pytest.fixture(scope="module")
def art(spark):
    prepare(spark, SF0001)
    a = rq._artifacts(spark, SF0001)
    rq._topk_recs(spark, SF0001)  # batch serving, as the refresh runs it
    return a


def _blas(spark) -> str:
    try:
        return spark._jvm.dev.ludovic.netlib.blas.BLAS.getInstance().getClass().getName()
    except Py4JError as exc:  # diagnostic only
        return f"unknown ({exc})"


def test_serve_user_matches_mllib_for_every_trained_user(spark, art):
    k = rq.TOP_K
    model = art["model"]
    trained = art["users"].join(
        model.userFactors.select(F.col("id").alias("user_idx")), "user_idx"
    )
    mllib: dict = {}
    for r in rq._decode_recs(model.recommendForUserSubset(trained, k), art).collect():
        mllib.setdefault(r.user_id, []).append((r.rnk, r.item_id, r.score))
    users = sorted(rq._serving_state(art)["user_row"])
    assert users and sorted(mllib) == users

    blas = _blas(spark)
    for user in users:
        rows = rq.serve_user(spark, SF0001, user).collect()
        got = sorted((r.rnk, r.item_id, r.score) for r in rows)
        want = sorted(mllib[user])
        assert [g[0] for g in got] == list(range(1, k + 1))
        assert {g[1] for g in got} == {w[1] for w in want}, f"user {user}: item sets differ"
        # scores are float32 on both sides: compare them exactly, per item
        assert {g[1]: g[2] for g in got} == {w[1]: w[2] for w in want}, (
            f"user {user}: scores not bit-equal (BLAS: {blas})"
        )
        scores = [g[2] for g in got]
        for (_, g_item, score), (_, w_item, _) in zip(got, want):
            if scores.count(score) == 1:
                assert g_item == w_item, f"user {user}: order differs at a non-tied score"
        # exact ties are ordered item_id ascending
        for a, b in zip(got, got[1:]):
            assert a[2] > b[2] or (a[2] == b[2] and a[1] < b[1])


def test_serve_user_equals_batch_serving_rows(spark, art):
    batch: dict = {}
    for r in rq._topk_recs(spark, SF0001).collect():
        batch.setdefault(r.user_id, []).append(tuple(r))
    for user in sorted(batch)[:25]:
        got = sorted(tuple(r) for r in rq.serve_user(spark, SF0001, user).collect())
        assert got == sorted(batch[user])


def test_serve_user_submits_no_spark_job(spark, art):
    user = min(rq._serving_state(art)["user_row"])
    sc = spark.sparkContext
    group = "test-serve-user-zero-jobs"
    sc.setJobGroup(group, group)
    try:
        served = rq.serve_user(spark, SF0001, user)
        rows = served.collect()
        unknown = rq.serve_user(spark, SF0001, -1)  # customer keys are positive
        unknown_rows = unknown.collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], f"serve_user submitted Spark jobs {jobs}"
    assert len(rows) == rq.TOP_K and {r.user_id for r in rows} == {user}
    assert unknown_rows == []
    assert served.schema.simpleString() == SERVE_SCHEMA
    assert unknown.schema == served.schema


def test_warm_serve_user_skips_prepare(spark, art, monkeypatch):
    """With the model memoized, ``serve_user`` answers from ``_CACHE``
    and never calls ``prepare`` (its conf sets and view checks cost about
    a dozen py4j round trips per request)."""
    user = min(rq._serving_state(art)["user_row"])
    want = rq.serve_user(spark, SF0001, user).collect()

    def no_prepare(*_):
        raise AssertionError("warm serve_user called prepare")

    monkeypatch.setattr(rq, "prepare", no_prepare)
    assert rq.serve_user(spark, SF0001, user).collect() == want
