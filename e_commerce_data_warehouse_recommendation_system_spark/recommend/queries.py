"""Recommender subsystem (SURVEY.md §2.10, M1–M12 + S16).

The reference's headline feature is a hand-rolled SGD matrix-factorization
recommender over implicit order interactions (reference:
mf_knn_recommender.py:98-173 training, :244-322 serving, :365-475 eval,
:477-547 MMR diversification), driven by use_model.py:24-54. Spark-first
mapping:

- label encoding (M1)   -> dense_rank dictionaries (LabelEncoder sorts its
  classes, reference: mf_knn_recommender.py:73-80 — dense_rank over the
  natural key order reproduces exactly that numbering);
- interactions (M2)     -> long-format distinct (user_idx, item_idx, 1.0) —
  never a materialized matrix (the CSR matrix at
  reference: mf_knn_recommender.py:82-96 becomes ALS's internal blocks);
- factorization (M3)    -> ``pyspark.ml.recommendation.ALS`` with
  ``implicitPrefs=True, seed=42`` (reference seeds SGD with 42 at
  mf_knn_recommender.py:108). Different optimizer (ALS normal equations vs
  SGD), so parity is metric-level, never factor-level — SURVEY §7 phase 3;
- serving (M4/M5)       -> one float32 top-k kernel (``_topk_kernel``) that
  replays MLlib's scoring: batch serving runs it per Arrow batch over the
  user factors (the cluster replaces the reference's ThreadPoolExecutor,
  reference: mf_knn_recommender.py:298-312); single-user serving runs it
  on the driver-resident factors with no Spark job (reference:
  use_model.py:46-50). ``recommendForUserSubset`` stays as the reference
  the kernel is checked against;
- MMR (M6/M12)          -> grouped ``applyInPandas`` greedy re-ranker —
  sequential per user, embarrassingly parallel across users
  (reference: mf_knn_recommender.py:477-547);
- eval (M7/M8)          -> P@k / R@k / F1 and catalog coverage as DataFrame
  joins (reference: mf_knn_recommender.py:365-475);
- PCA (M9)              -> ``pyspark.ml.feature.PCA`` on item factors
  (reference: mf_knn_recommender.py:324-363);
- sampling (M10)        -> md5-hash deterministic split (the distributed
  analog of the reference's seeded ``np.random.choice``,
  reference: mf_knn_recommender.py:406-408, 457-458 — a hash split is
  reproducible on any cluster topology, a global shuffle is not);
- persistence (S16)     -> ``ALSModel.save/load``
  (reference: mf_knn_recommender.py:200-215 joblib bundle).

Interactions come from the testdata star: user = o_custkey, item = l_partkey
via orders ⋈ lineitem (the fact_orders customer×product pairs the reference
trains on, reference: mf_knn_recommender.py:40-70).

Scale posture: encoding dictionaries are bounded (distinct users/items);
the ALS shuffle is on block ids (MLlib-internal); top-k serving emits
k rows/user; eval joins shuffle on user_idx only. Besides final scalar
metrics (which ARE the result rows), the only driver collect is the serving
state: the trained factor tables, bounded by the dictionaries
(``_serving_state``).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
    surrogate_key,
)
from e_commerce_data_warehouse_recommendation_system_spark.registry import (
    component,
    register,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

#: The shipped factor rank. The quality/cost trade is two RECORDED numbers
#: per round (r13 verdict #4, measured round 14, both at sf0.1): quality —
#: rank-150 (reg 0.01) backtest rate 950 vs rank-16's 690 and warm
#: popularity's 731 (but rank-16 WINS at sf0.001, 75000 vs 67361: capacity
#: pays only as the catalog grows); cost — the rec_als_serve_eval_*
#: bench pair measured rank 16 at 5.41/7.12 s vs rank 150 at
#: 5.91/6.03 s across two idle sweeps: the deltas are INSIDE harness
#: noise, i.e. at this SF serving is dominated by the pool tail, not
#: the factor product — the old "serving cost scales with rank" claim
#: is now bounded by measurement at ~noise. 16 stays the default: best at the small
#: SFs, ~10x smaller factor tables (the asset every serving/broadcast
#: path ships), and the rank-150 row (rec_backtest_rank150) serves the
#: large-catalog case as a first-class recorded alternative.
RANK = 16
MAX_ITER = 8
REG = 0.1
#: implicit-feedback confidence weight (c = 1 + ALPHA * r). MLlib's default;
#: shared with the fold-in normal equations (rec_fold_in_user_factors) so
#: tuning it cannot silently desynchronize training and fold-in serving.
ALPHA = 1.0
SEED = 42  # reference: mf_knn_recommender.py:108
TOP_K = 10
MMR_LAMBDA = 0.7  # reference default, mf_knn_recommender.py:477
MMR_POOL = 3 * TOP_K  # candidate-pool widening (O5, reference: mf_knn_recommender.py:503)

#: md5 first hex digit in 0-2 => ~3/16 = 18.75% of pairs held out for eval.
_TEST_DIGITS = ("0", "1", "2")

_SQL_INTERACTIONS = """
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def interactions(spark: SparkSession) -> DataFrame:
    """M2: distinct implicit (user, item) pairs — the long-format
    interaction 'matrix' (reference: mf_knn_recommender.py:82-96)."""
    o, li = spark.table("orders"), spark.table("lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )


def _encode(
    df: DataFrame, id_col: str, idx_col: str, bounds: "list | None" = None
) -> DataFrame:
    """M1: LabelEncoder analog — 0-based dense codes in sorted-key order
    (sklearn LabelEncoder numbers sorted classes,
    reference: mf_knn_recommender.py:73-80).

    Built on the two-phase surrogate key (operators.relational.surrogate_key,
    oracle-proven ≡ global ROW_NUMBER by w1b): the distinct-id dictionary is
    ranked per quantile bucket + broadcast offsets — never a single-partition
    global sort, so the encoding scales with the id space (at 100× the user
    dictionary is exactly what grows). The dense_rank SQL oracle is
    unchanged (rec_label_encode digests prove equivalence).

    ``bounds``: optional precomputed bucket boundaries (see
    :func:`_encode_bounds_pair`) — skips surrogate_key's own eager
    approxQuantile job; provably result-identical (any monotone bucketing
    reconstructs the same global rank)."""
    distinct_ids = df.select(id_col).distinct()
    keyed = surrogate_key(distinct_ids, id_col, "_sk", bounds=bounds)
    return keyed.select(F.col(id_col), (F.col("_sk") - 1).cast("int").alias(idx_col))


def _encode_bounds_pair(
    df: DataFrame, user_c: str, item_c: str, **counts: F.Column
) -> tuple[list, list, dict]:
    """ONE aggregation job computing bucket boundaries for BOTH encoding
    dictionaries (r15 opt, guide §1.2 / VERDICT r14 item 4): the two
    ``_encode`` calls each ran an eager approxQuantile over a distinct()
    of the interaction frame — two actions, each with its own
    distinct-shuffle, for boundary lists whose PLACEMENT only affects
    bucket balance, never the surrogate-key result. A single
    ``percentile_approx`` pass over both raw columns (no distinct —
    multiplicity skews placement only) replaces both. Sketches merge
    map-side, so on its own this is one shuffle-free scan of the (cached)
    interaction frame.

    ``counts``: named aggregate columns evaluated in the same pass, so a
    caller gets the frame's counts without a job of their own. Returns
    ``(user_bounds, item_bounds, {name: value})``. :func:`_artifacts`
    passes the refresh's exact counts this way: interactions
    (``count(*)``), distinct users and items (``count_distinct``, which
    adds the pass's only shuffle) and held-out pairs."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    qs = [i / n for i in range(1, n)]
    aggs = [c.alias(name) for name, c in counts.items()]
    if qs:
        qarr = F.array(*[F.lit(q) for q in qs])
        aggs += [
            F.percentile_approx(user_c, qarr, F.lit(10000)).alias("_ub"),
            F.percentile_approx(item_c, qarr, F.lit(10000)).alias("_ib"),
        ]
    if not aggs:
        return [], [], {}
    row = df.agg(*aggs).first().asDict()
    return list(row.pop("_ub", None) or []), list(row.pop("_ib", None) or []), row


def _split_bucket(user_c: str, item_c: str) -> F.Column:
    """M10: deterministic hash split — md5 of "user:item"."""
    return F.substring(F.md5(F.concat_ws(":", user_c, item_c)), 1, 1)


# --------------------------------------------------------------------------
# Model cache: every rec_* query shares one trained model per (session,
# sf_dir) — the driver runs queries sequentially on one session; retraining
# per query would multiply a fixed cost into every row of the scoreboard.
# Keyed by applicationId so a restarted session (e.g. across test fixtures)
# never hands out DataFrames bound to a dead SparkContext.
# --------------------------------------------------------------------------

_CACHE: dict[tuple[str, str], dict] = {}


def _artifacts(spark: SparkSession, sf_dir: str) -> dict:
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    # evict entries from dead sessions: only the current application's
    # artifacts can ever be reused, and each entry pins cached frames +
    # memoized serving outputs — keeping them would grow driver memory with
    # every session restart
    for stale in [k for k in _CACHE if k[0] != cache_key[0]]:
        del _CACHE[stale]
    from pyspark.ml.recommendation import ALS

    # cache: the interaction join feeds the bounds-and-counts pass, the two
    # dictionary builds and the encoded train/test materialization — without
    # it orders ⋈ lineitem re-executes per consumer
    inter = interactions(spark).cache()
    # one pass for both dictionaries' bounds (r15 opt; see
    # _encode_bounds_pair) that also takes the refresh's exact counts
    ub, ib, counts = _encode_bounds_pair(
        inter,
        "user_id",
        "item_id",
        n_interactions=F.count(F.lit(1)),
        n_users=F.count_distinct("user_id"),
        n_items=F.count_distinct("item_id"),
        n_test=F.count(
            F.when(_split_bucket("user_id", "item_id").isin(*_TEST_DIGITS), 1)
        ),
    )
    users = _encode(inter, "user_id", "user_idx", bounds=ub)
    items = _encode(inter, "item_id", "item_idx", bounds=ib)
    encoded = (
        inter.join(users, "user_id")
        .join(items, "item_id")
        .withColumn("rating", F.lit(1.0))
        .withColumn("bucket", _split_bucket("user_id", "item_id"))
    )
    train = encoded.filter(~F.col("bucket").isin(*_TEST_DIGITS)).cache()
    test = encoded.filter(F.col("bucket").isin(*_TEST_DIGITS)).cache()
    als = ALS(
        rank=RANK,
        maxIter=MAX_ITER,
        regParam=REG,
        alpha=ALPHA,
        implicitPrefs=True,
        seed=SEED,
        userCol="user_idx",
        itemCol="item_idx",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(train)
    art = {
        "model": model,
        "train": train,
        "test": test,
        "users": users,
        "items": items,
        "counts": counts,
    }
    _CACHE[cache_key] = art
    return art


def _decode_recs(recs: DataFrame, art: dict) -> DataFrame:
    """Decode of an MLlib recommendations frame (user_idx +
    recommendations array of (item_idx, rating) structs) back to natural
    ids with 1-based ranks — the inverse_transform step
    (reference: mf_knn_recommender.py:276). One posexplode + two broadcast
    dictionary joins. Only the MLlib reference path decodes through here
    (:func:`rec_user_topk`, and the ``serve_user`` parity test that checks
    :func:`_topk_kernel` against it); the kernel paths decode by array
    lookup in :func:`_serving_state`."""
    exploded = recs.select(
        "user_idx", F.posexplode("recommendations").alias("rnk0", "rec")
    ).select(
        "user_idx",
        (F.col("rnk0") + 1).cast("int").alias("rnk"),
        F.col("rec.item_idx").alias("item_idx"),
        F.col("rec.rating").alias("score"),
    )
    return (
        exploded.join(F.broadcast(art["users"]), "user_idx")
        .join(F.broadcast(art["items"]), "item_idx")
        .select("user_id", "item_id", "rnk", "score")
    )


#: schema of every serving frame: batch (:func:`_topk_from_factors`) and
#: single-user (:func:`serve_user`)
_SERVE_SCHEMA = "user_id bigint, item_id bigint, rnk int, score float"


def _topk_kernel(U, V, k: int):
    """The one top-k scoring kernel. Batch serving
    (:func:`_topk_from_factors`, per Arrow batch), single-user serving
    (:func:`serve_user`, one row) and fold-in scoring
    (scripts/recommend_user.py) all rank through it.

    ``U`` is an (m, rank) float32 user-factor block and ``V`` the
    (n, rank) float32 item factors ordered by item_idx. Returns
    ``(pos, score)``, both (m, min(k, n)): ``pos`` indexes rows of ``V``
    and ``score`` is float32. Each row is ordered by score descending,
    ties by position ascending — that is by item_idx, and so by item_id,
    because ``_encode`` numbers ids by a sorted dense rank.

    Scores replay MLlib's arithmetic: the pure-Java dev.ludovic.netlib
    BLAS computes each score as a SEQUENTIAL float32 multiply-add over
    the rank (plain Java, no FMA). Here each rank step is one float32
    product plus one float32 add, in the same r = 0..rank-1 order, so
    the scores are bit-equal to ``recommendForUserSubset``'s whenever
    that BLAS is the one MLlib loads (a native JNIBLAS accumulates
    differently). tests/test_serve_user_parity.py checks this for every
    trained user. Rows are independent, so a user's result does not
    depend on which block it is scored in. Cost: one (m, n) float32
    score buffer; callers chunk m."""
    import numpy as np

    m, n = U.shape[0], V.shape[0]
    k = max(0, min(int(k), n))
    S = np.zeros((m, n), dtype=np.float32)
    tmp = np.empty_like(S)
    for r in range(V.shape[1]):
        np.multiply(U[:, r][:, None], V[None, :, r], out=tmp)
        S += tmp
    if k < n:
        pos = np.argpartition(-S, k - 1, axis=1)[:, :k]
    else:
        pos = np.broadcast_to(np.arange(n), (m, n)).copy()
    score = np.take_along_axis(S, pos, axis=1)
    # deterministic order: position asc first, then a STABLE sort by
    # score desc — ties end up item_idx-ascending
    o1 = np.argsort(pos, axis=1, kind="stable")
    pos = np.take_along_axis(pos, o1, axis=1)
    score = np.take_along_axis(score, o1, axis=1)
    o2 = np.argsort(-score, axis=1, kind="stable")
    return np.take_along_axis(pos, o2, axis=1), np.take_along_axis(score, o2, axis=1)


def _serving_state(art: dict) -> dict:
    """Driver-resident serving state of one trained model, memoized in the
    artifact dict: built by the refresh's first batch-serving call, then
    reused by every request until the model is refit.

    - ``item_ids`` int64 (n_items,) and ``V`` float32 (n_items, rank): the
      item side, ordered by item_idx;
    - ``user_row`` (user_id -> row) and ``U`` float32 (n_users, rank): the
      user side;
    - ``user_id_by_idx``: int64 user_idx -> user_id lookup, the batch
      path's user decode.

    One collect: both factor frames, each joined to its encoding
    dictionary, as one tagged union. The collect is bounded by the
    dictionaries — (n_users + n_items) x rank float32 plus the id vectors,
    about 2.3 MB at sf0.1 for rank 16."""
    if "serving" in art:
        return art["serving"]
    import numpy as np

    model = art["model"]

    def side(factors, dictionary, idx_col, id_col, is_user):
        return factors.join(
            F.broadcast(dictionary), F.col("id") == F.col(idx_col)
        ).select(
            F.lit(is_user).alias("is_user"),
            F.col("id").alias("idx"),
            F.col(id_col).alias("nat_id"),
            "features",
        )

    # dictionary-bounded driver collect (see docstring)
    rows = (
        side(model.userFactors, art["users"], "user_idx", "user_id", True)
        .unionByName(side(model.itemFactors, art["items"], "item_idx", "item_id", False))
        .collect()
    )
    rank = model.rank

    def arrays(is_user):
        sel = sorted((r for r in rows if r.is_user == is_user), key=lambda r: r.idx)
        idx = np.array([r.idx for r in sel], dtype=np.int64)
        ids = np.array([r.nat_id for r in sel], dtype=np.int64)
        mat = np.array([r.features for r in sel], dtype=np.float32).reshape(len(sel), rank)
        return idx, ids, mat

    u_idx, u_ids, U = arrays(True)
    _, item_ids, V = arrays(False)
    user_id_by_idx = np.full(int(u_idx.max()) + 1 if len(u_idx) else 0, -1, dtype=np.int64)
    user_id_by_idx[u_idx] = u_ids
    art["serving"] = {
        "item_ids": item_ids,
        "V": V,
        "U": U,
        "user_row": {int(u): i for i, u in enumerate(u_ids)},
        "user_id_by_idx": user_id_by_idx,
    }
    return art["serving"]


def _serving_broadcast(art: dict):
    """The one broadcast of the serving state's item side plus the user
    decode vector, memoized per model: every batch-serving call reuses it
    rather than shipping (and leaking) a new catalog-sized copy."""
    if "serving_bc" not in art:
        st = _serving_state(art)
        sc = art["model"].itemFactors.sparkSession.sparkContext
        art["serving_bc"] = sc.broadcast((st["item_ids"], st["V"], st["user_id_by_idx"]))
    return art["serving_bc"]


def _topk_from_factors(art: dict, k: int) -> DataFrame:
    """Batch top-k serving for every trained user, straight from the
    factor frames: ``(user_id, item_id, rnk, score)`` in natural ids, the
    rows ``recommendForAllUsers(k)`` plus a decode would give (order
    among exactly tied scores aside, see :func:`_topk_kernel`; every
    consumer is invariant to that order: the contract flags read min/max
    rnk, eval hits are set joins, MMR re-ranks by (score, item) itself).

    The user-factor frame is spread over every core and each Arrow batch
    runs :func:`_topk_kernel` against the item side of the memoized
    serving broadcast (:func:`_serving_broadcast`), decoding both ids by
    array lookup in the same pass — no cross-join, no per-candidate
    queue, no shuffle beyond the round-robin repartition, and no decode
    join. The item side is collected and broadcast once per model; the
    k=10 and k=30 frames of a refresh share it.

    Scale: the user side partitions freely (one batch per worker in
    memory, scored in chunks so the score buffer stays ~16 MB); the item
    side is the bounded catalog, shipped once per executor."""
    bc = _serving_broadcast(art)
    uf = art["model"].userFactors.select("id", "features")
    spark = uf.sparkSession

    def score_partition(batches):
        import numpy as np
        import pyarrow as pa

        item_ids, V, user_id_by_idx = bc.value  # once per task
        n, rank = V.shape
        k_eff = max(0, min(int(k), n))
        # per-chunk score buffer ~16 MB however large the user side grows
        rows_per_chunk = max(1, (4 << 20) // max(n, 1))
        rnk = np.arange(1, k_eff + 1, dtype=np.int32)
        for rb in batches:
            m_rows = rb.num_rows
            if m_rows == 0:
                continue
            uid = user_id_by_idx[rb.column("id").to_numpy(zero_copy_only=False)]
            feats = rb.column("features")
            offsets = feats.offsets.to_numpy(zero_copy_only=False)
            widths = np.diff(offsets)
            if (
                (widths == rank).all()
                and not feats.values.null_count
                and not feats.null_count
            ):
                flat = feats.values.to_numpy(zero_copy_only=False)
                U = flat[offsets[0] : offsets[-1]].reshape(m_rows, rank)
            else:  # defensive: factor frames are uniform by construction
                U = np.stack(feats.to_pandas().to_numpy()).astype(np.float32)
            for lo in range(0, m_rows, rows_per_chunk):
                hi = min(lo + rows_per_chunk, m_rows)
                pos, score = _topk_kernel(U[lo:hi], V, k_eff)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(uid[lo:hi], k_eff), type=pa.int64()),
                        pa.array(item_ids[pos].ravel(), type=pa.int64()),
                        pa.array(np.tile(rnk, hi - lo), type=pa.int32()),
                        pa.array(score.ravel(), type=pa.float32()),
                    ],
                    names=["user_id", "item_id", "rnk", "score"],
                )

    # spread ALS's ~numUserBlocks output partitions across the cluster —
    # scale-adaptive: never fewer than the session's parallelism, never
    # repartitioning a big frame DOWN (tiny rows, round-robin is cheap)
    return uf.repartition(spark.sparkContext.defaultParallelism).mapInArrow(
        score_partition, schema=_SERVE_SCHEMA
    )


def _serve_all(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """M4/M5 serving plan, built fresh (no memoization): batch top-k for
    every trained user in natural ids (:func:`_topk_from_factors`)."""
    return _topk_from_factors(_artifacts(spark, sf_dir), k)


def _topk_recs(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Memoized wrapper around :func:`_serve_all`, per (session, sf_dir, k):
    batch serving feeds the serving digest, the eval stack, coverage, AND
    the MMR pool — without the cache each consumer re-runs the scoring."""
    art = _artifacts(spark, sf_dir)
    memo_key = f"recs_k{k}"
    if memo_key in art:
        return art[memo_key]
    out = _serve_all(spark, sf_dir, k).cache()
    art[memo_key] = out
    return out


# --------------------------------------------------------------------------
# Registered queries
# --------------------------------------------------------------------------


@component(
    "rec_label_encode",
    cols=[("entity", "str"), ("original_id", "num"), ("idx", "num")],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    u AS (SELECT DISTINCT user_id FROM inter),
    i AS (SELECT DISTINCT item_id FROM inter)
    SELECT 'user' AS entity, user_id AS original_id,
           CAST(DENSE_RANK() OVER (ORDER BY user_id) - 1 AS INT) AS idx
    FROM u
    UNION ALL
    SELECT 'item' AS entity, item_id AS original_id,
           CAST(DENSE_RANK() OVER (ORDER BY item_id) - 1 AS INT) AS idx
    FROM i
    """,
)
def rec_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: both encoding dictionaries, stacked (entity, original_id, idx)."""
    prepare(spark, sf_dir)
    # cache: each _encode runs an eager approxQuantile plus rank/offset jobs
    # over this join — uncached, the orders ⋈ lineitem distinct re-executes
    # per consumer (same reasoning as _artifacts)
    inter = interactions(spark).cache()
    # one quantile pass for both dictionaries (r15 opt; see _encode_bounds_pair)
    ub, ib, _ = _encode_bounds_pair(inter, "user_id", "item_id")
    u = _encode(inter, "user_id", "idx", bounds=ub).select(
        F.lit("user").alias("entity"), F.col("user_id").alias("original_id"), "idx"
    )
    i = _encode(inter, "item_id", "idx", bounds=ib).select(
        F.lit("item").alias("entity"), F.col("item_id").alias("original_id"), "idx"
    )
    return u.unionByName(i)


@component(
    "rec_interactions",
    oracle=f"SELECT user_id, item_id, CAST(1.0 AS DOUBLE) AS rating FROM ({_SQL_INTERACTIONS})",
    cols=[("user_id", "num"), ("item_id", "num"), ("rating", "dbl")],
)
def rec_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: the implicit interaction set, rating=1.0."""
    prepare(spark, sf_dir)
    return interactions(spark).withColumn("rating", F.lit(1.0))


@component(
    "rec_train_test_split",
    cols=[("split", "str"), ("n_pairs", "num"), ("n_users", "num"), ("n_items", "num")],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS})
    SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
                IN ('0','1','2') THEN 'test' ELSE 'train' END AS split,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT item_id) AS n_items
    FROM inter GROUP BY 1
    """,
)
def rec_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: deterministic hash holdout — reproducible on any cluster
    topology, unlike a seeded global shuffle (the honest distributed form of
    ``np.random.seed(42); np.random.choice``)."""
    prepare(spark, sf_dir)
    inter = interactions(spark).withColumn(
        "split",
        F.when(_split_bucket("user_id", "item_id").isin(*_TEST_DIGITS), "test").otherwise(
            "train"
        ),
    )
    return inter.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("item_id").alias("n_items"),
    )


def rec_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 exact form: top-k for a specific user subset via
    ``recommendForUserSubset`` (the reference's single-user serving path,
    reference: mf_knn_recommender.py:244-290, where batch serving loops a
    thread pool over this). Subset = every 50th user id — deterministic.
    Driver-visible through rec_als_topk's subset digest columns."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    subset = art["users"].filter(F.col("user_id") % 50 == 0)
    return _decode_recs(art["model"].recommendForUserSubset(subset, TOP_K), art)


@register(
    "rec_als_topk",
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    train AS (
      SELECT * FROM inter
      WHERE substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
            NOT IN ('0','1','2')
    )
    SELECT CAST({TOP_K} AS INT) AS k,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT user_id) * {TOP_K} AS n_rec_rows,
           TRUE AS per_user_k_ok,
           TRUE AS items_in_catalog,
           COUNT(DISTINCT CASE WHEN user_id % 50 = 0 THEN user_id END) AS n_subset_users,
           TRUE AS subset_k_ok
    FROM train
    """,
)
def rec_als_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M4+M5: train implicit ALS, batch-serve top-10 for every user
    (``_topk_recs``), serve the deterministic user subset
    (``recommendForUserSubset``, every 50th id), decode ids — then emit the
    serving contract as an oracle row: exactly k recs per trained user,
    ranks 1..k, every recommended item inside the catalog dictionary, and
    the subset path covering exactly the trained subset users. Scores are
    algorithm-specific (never hashed); every flag is computed from the real
    recommendations, so a serving bug flips this row red. This digest
    verifies; perfbench's ``recommend`` workload measures the refresh."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    recs = _topk_recs(spark, sf_dir)  # memoized + cached in the artifact store
    per_user = recs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rnk").alias("max_rnk"), F.min("rnk").alias("min_rnk")
    )
    shape = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_rec_rows"),
        ((F.min("n") == TOP_K) & (F.max("n") == TOP_K)
         & (F.max("max_rnk") == TOP_K) & (F.min("min_rnk") == 1)).alias("per_user_k_ok"),
    )
    orphans = recs.join(art["items"], "item_id", "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("items_in_catalog")
    )
    subset = rec_user_topk(spark, sf_dir)
    subset_shape = subset.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).agg(
        F.count(F.lit(1)).alias("n_subset_users"),
        ((F.min("n") == TOP_K) & (F.max("n") == TOP_K)).alias("subset_k_ok"),
    )
    return (
        shape.crossJoin(orphans)
        .crossJoin(subset_shape)
        .select(
            F.lit(TOP_K).cast("int").alias("k"),
            "n_users",
            "n_rec_rows",
            "per_user_k_ok",
            "items_in_catalog",
            "n_subset_users",
            "subset_k_ok",
        )
    )


def rec_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: P@k / R@k / F1 over held-out interactions
    (reference: mf_knn_recommender.py:365-448): per-user hits via an inner
    join of recs x truth, then global means. Only users with both training
    presence and test truth are scored (the reference's common-user
    intersection, :395 — J4 semi-join)."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    recs = _topk_recs(spark, sf_dir)
    truth = art["test"].select("user_id", "item_id")
    truth_sizes = truth.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_actual"))
    hits = (
        recs.join(truth, ["user_id", "item_id"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_user = (
        truth_sizes.join(recs.select("user_id").distinct(), "user_id", "left_semi")
        .join(hits, "user_id", "left")
        .na.fill({"n_hits": 0})
        .select(
            "user_id",
            (F.col("n_hits") / F.lit(TOP_K)).alias("precision"),
            (F.col("n_hits") / F.col("n_actual")).alias("recall"),
        )
    )
    agg = per_user.agg(
        F.avg("precision").alias("p_at_k"),
        F.avg("recall").alias("r_at_k"),
        F.count(F.lit(1)).alias("n_eval_users"),
    )
    f1 = F.when(
        (F.col("p_at_k") + F.col("r_at_k")) > 0,
        2 * F.col("p_at_k") * F.col("r_at_k") / (F.col("p_at_k") + F.col("r_at_k")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.lit(TOP_K).alias("k"), "p_at_k", "r_at_k", f1.alias("f1"), "n_eval_users"
    )


def rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: catalog coverage — distinct recommended items / catalog size
    (reference: mf_knn_recommender.py:450-475). A8's coverage-ratio shape."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    recs = _topk_recs(spark, sf_dir)
    n_rec_items = recs.select("item_id").distinct().count()
    n_catalog = art["counts"]["n_items"]
    return spark.createDataFrame(
        [(n_rec_items, n_catalog, float(n_rec_items) / float(n_catalog))],
        schema="n_recommended_items bigint, n_catalog_items bigint, coverage double",
    )


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6+M12: MMR diversification via grouped applyInPandas
    (reference: mf_knn_recommender.py:477-547): per user, widen to a 3k
    candidate pool (O5), then greedily pick argmax of
    ``λ·relevance − (1−λ)·max_cosine_to_selected`` (M12's pairwise cosine
    lives inside the per-group pandas function — 30x30 per user, tiny).

    Sequential per user, parallel across users: exactly the shape
    applyInPandas distributes. The pandas fn is a local closure, so
    cloudpickle ships it by value (no executor import of this package needed).
    """
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    pool = _topk_recs(spark, sf_dir, k=MMR_POOL)
    item_factors = art["model"].itemFactors.select(
        F.col("id").alias("item_idx"), F.col("features")
    )
    cand = (
        pool.join(F.broadcast(art["items"]), "item_id")
        .join(item_factors, "item_idx")
        .select("user_id", "item_id", F.col("score").alias("relevance"), "features")
    )
    return mmr_diversify_frame(cand)


def mmr_diversify_frame(
    cand: DataFrame, lam: float = MMR_LAMBDA, k: int = TOP_K
) -> DataFrame:
    """The greedy MMR core over any (user_id, item_id, relevance, features)
    candidate frame — split from :func:`mmr_rerank` so the pick SEQUENCE is
    testable on constructed geometry (tests/test_recommend.py pins the
    exact ordered pick list on hand-derivable cosines, the round-11
    differential; the ALS-backed query keeps its invariant contract)."""

    def mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["relevance", "item_id"], ascending=[False, True]).reset_index(
            drop=True
        )
        mat = np.vstack(pdf["features"].to_numpy())
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sim = unit @ unit.T
        rel = pdf["relevance"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        while remaining and len(selected) < k:
            if selected:
                max_sim = sim[np.ix_(remaining, selected)].max(axis=1)
            else:
                max_sim = np.zeros(len(remaining))
            mmr_score = lam * rel[remaining] - (1 - lam) * max_sim
            best = remaining[int(np.argmax(mmr_score))]
            selected.append(best)
            remaining.remove(best)
        out = pdf.iloc[selected][["user_id", "item_id", "relevance"]].copy()
        out["mmr_rank"] = pd.RangeIndex(1, len(selected) + 1)
        return out

    # One Python invocation PER PARTITION, not per user (guide §4.5):
    # applyInPandas paid ~15k per-group calls (Arrow batch + pandas frame +
    # schema coercion each) for ~30-row groups — measured 12.3 s of
    # rec_pipeline_e2e's 22 s at sf0.1, pure grouped-UDF overhead. And the
    # first per-partition form still burned ~4 s in per-group PANDAS
    # machinery (sort_values / vstack of object cells / DataFrame build
    # per user), so the hot path is mapInArrow: the feature matrix is
    # a ZERO-COPY reshape of the Arrow list buffer, and the per-user
    # greedy runs the IDENTICAL numpy body over array views (same float32
    # dtype path, same argmax tie behavior, bit-identical pick sequences —
    # the round-11 differential still pins them). The explicit repartition
    # reproduces applyInPandas's own hashpartitioning(user_id) exchange —
    # no extra shuffle, groups never straddle partitions.
    #
    # r15 opt (guide §5 spill safety / VERDICT r14 item 3 + "What's wrong"
    # #1): the r14 form did list(batches) + combine_chunks() — the WHOLE
    # partition pinned in one Python worker (fine at sf0.1, a fat
    # partition at 100 TB is an OOM) — and assumed combine_chunks yields
    # one chunk (a >2 GiB list payload chunks; chunk(0) would then crash).
    # The partition-wide Python lexsort is now a Spark-side
    # sortWithinPartitions (same total order: user asc, relevance desc,
    # item asc — NaN-free relevance by construction, so the engines'
    # NaN-ordering difference cannot fire), which makes user groups
    # CONTIGUOUS in arrival order, so the worker streams batch-by-batch
    # holding only one Arrow batch plus the trailing partial group
    # (bounded by the per-user pool width). Multi-chunk/ragged/null
    # feature chunks fall back to the per-user pandas body, per chunk.
    def mmr_arrow(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        def emit(tbl):
            # tbl: one or more COMPLETE user groups, rows already in
            # (user asc, relevance desc, item asc) order
            tbl = tbl.combine_chunks()
            n_rows = tbl.num_rows
            if n_rows == 0:
                return None
            feats_col = tbl.column("features")
            uniform = feats_col.num_chunks == 1
            if uniform:
                feats = feats_col.chunk(0)
                # offsets are RELATIVE to the chunk's values buffer and
                # need not start at 0 after slicing — slice the flat
                # buffer by the actual offset span before reshaping
                offsets = feats.offsets.to_numpy(zero_copy_only=False)
                widths = np.diff(offsets)
                uniform = bool(
                    len(widths) > 0 and (widths == widths[0]).all() and widths[0] > 0
                )
                uniform = uniform and not feats.values.null_count and not feats.null_count
            if not uniform:
                # ragged/null/multi-chunk features: exact pandas group path
                pdf = tbl.to_pandas()
                outs = [mmr(g) for _, g in pdf.groupby("user_id", sort=False)]
                out = pd.concat(outs, ignore_index=True)
                return pa.RecordBatch.from_arrays(
                    [
                        pa.array(out["user_id"], type=pa.int64()),
                        pa.array(out["item_id"], type=pa.int64()),
                        pa.array(out["relevance"], type=pa.float32()),
                        pa.array(out["mmr_rank"], type=pa.int64()),
                    ],
                    names=["user_id", "item_id", "relevance", "mmr_rank"],
                )
            d = int(widths[0])
            uid = tbl.column("user_id").to_numpy(zero_copy_only=False)
            iid = tbl.column("item_id").to_numpy(zero_copy_only=False)
            rel = tbl.column("relevance").to_numpy(zero_copy_only=False)
            flat = feats.values.to_numpy(zero_copy_only=False)
            mat = flat[offsets[0] : offsets[-1]].reshape(n_rows, d)
            starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
            bounds = np.r_[starts, n_rows]
            out_u, out_i, out_r, out_k = [], [], [], []
            for g in range(len(starts)):
                lo, hi = bounds[g], bounds[g + 1]
                gmat, grel = mat[lo:hi], rel[lo:hi]
                norms = np.linalg.norm(gmat, axis=1)
                norms[norms == 0] = 1.0
                unit = gmat / norms[:, None]
                sim = unit @ unit.T
                n = hi - lo
                selected: list[int] = []
                remaining = list(range(n))
                while remaining and len(selected) < k:
                    if selected:
                        max_sim = sim[np.ix_(remaining, selected)].max(axis=1)
                    else:
                        max_sim = np.zeros(len(remaining))
                    mmr_score = lam * grel[remaining] - (1 - lam) * max_sim
                    best = remaining[int(np.argmax(mmr_score))]
                    selected.append(best)
                    remaining.remove(best)
                sel = np.asarray(selected, dtype=np.int64) + lo
                out_u.append(uid[sel])
                out_i.append(iid[sel])
                out_r.append(rel[sel])
                out_k.append(np.arange(1, len(selected) + 1, dtype=np.int64))
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_u), type=pa.int64()),
                    pa.array(np.concatenate(out_i), type=pa.int64()),
                    pa.array(np.concatenate(out_r), type=pa.float32()),
                    pa.array(np.concatenate(out_k), type=pa.int64()),
                ],
                names=["user_id", "item_id", "relevance", "mmr_rank"],
            )

        pending = None  # trailing (possibly incomplete) user group
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl])
                pending = None
            if tbl.num_rows == 0:
                continue
            uid = tbl.column("user_id").to_numpy(zero_copy_only=False)
            # rows of the last uid may continue into the next batch: hold
            # them back (uid is ascending — the Spark-side sort)
            cut = int(np.searchsorted(uid, uid[-1], side="left"))
            pending = tbl.slice(cut)
            if cut == 0:
                continue
            out = emit(tbl.slice(0, cut))
            if out is not None:
                yield out
        if pending is not None and pending.num_rows:
            out = emit(pending)
            if out is not None:
                yield out

    return (
        cand.repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", F.desc("relevance"), "item_id")
        .mapInArrow(
            mmr_arrow,
            schema="user_id bigint, item_id bigint, relevance float, mmr_rank bigint",
        )
    )


@register(
    "rec_mmr_diversify",
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    train AS (
      SELECT * FROM inter
      WHERE substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
            NOT IN ('0','1','2')
    )
    SELECT COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT user_id) * {TOP_K} AS n_rows,
           TRUE AS k_rows_per_user,
           TRUE AS subset_of_pool,
           TRUE AS first_pick_top_relevance
    FROM train
    """,
)
def rec_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6's driver row: run the full MMR re-rank (``mmr_rerank``,
    applyInPandas greedy over a 3k candidate pool) and emit its contract —
    k picks per user, every pick drawn from the pool, and the first pick
    equal to the pool's max-relevance candidate (with no items selected the
    MMR score reduces to λ·relevance, reference: mf_knn_recommender.py:514-516).
    Flags are computed from the real re-ranked rows; pick counts are
    SQL-expressible (k × trained users)."""
    prepare(spark, sf_dir)
    out = mmr_rerank(spark, sf_dir).cache()
    pool = _topk_recs(spark, sf_dir, k=MMR_POOL)  # memoized + cached
    per_user = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("mmr_rank").alias("min_rank"),
        F.max("mmr_rank").alias("max_rank"),
    )
    shape = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_rows"),
        ((F.min("n") == TOP_K) & (F.max("n") == TOP_K)
         & (F.min("min_rank") == 1) & (F.max("max_rank") == TOP_K)).alias("k_rows_per_user"),
    )
    off_pool = out.join(
        pool.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    ).agg((F.count(F.lit(1)) == 0).alias("subset_of_pool"))
    w_best = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    best = (
        pool.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("item_id").alias("best_item"))
    )
    firsts = out.filter(F.col("mmr_rank") == 1).select("user_id", "item_id")
    first_ok = (
        firsts.join(best, "user_id")
        .agg(
            (F.count(F.lit(1)) == F.sum((F.col("item_id") == F.col("best_item")).cast("long")))
            .alias("first_pick_top_relevance")
        )
    )
    return (
        shape.crossJoin(off_pool)
        .crossJoin(first_ok)
        .select(
            "n_users", "n_rows", "k_rows_per_user", "subset_of_pool", "first_pick_top_relevance"
        )
    )


def rec_sq_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: squared-error sum — the reference's per-epoch training loss
    (reference: mf_knn_recommender.py:154 ``np.sum(errors ** 2)``). ALS
    iterations are JVM-internal, so the engine exposes the same statistic as
    a post-fit evaluation over the held-out split: err = rating − score,
    aggregated distributed (sum/avg of err², never collected)."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    preds = art["model"].transform(art["test"])
    err = F.col("rating") - F.col("prediction")
    return preds.agg(
        F.sum(err * err).alias("sum_sq_error"),
        F.avg(err * err).alias("mean_sq_error"),
        F.count(F.lit(1)).alias("n_scored"),
    )


def rec_pca_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: 2-D PCA projection of item factors
    (reference: mf_knn_recommender.py:324-363; plotting stays out of engine
    scope). Row count = trained item-catalog size."""
    prepare(spark, sf_dir)
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    art = _artifacts(spark, sf_dir)
    factors = art["model"].itemFactors.select(
        F.col("id").alias("item_idx"), array_to_vector("features").alias("fv")
    )
    pca = PCA(k=2, inputCol="fv", outputCol="pc")
    projected = pca.fit(factors).transform(factors)
    arr = vector_to_array("pc")
    return (
        projected.select(
            "item_idx", arr[0].alias("pc1"), arr[1].alias("pc2")
        )
        .join(F.broadcast(art["items"]), "item_idx")
        .select("item_id", "pc1", "pc2")
    )


def _factor_serve_parity(spark: SparkSession, sf_dir: str) -> tuple[int, int, bool]:
    """Factor-export serving parity, distributed: compare
    ``rec_factor_serve_topk`` (dot products over exported factor tables)
    against MLlib's ``recommendForUserSubset`` on the same subset. The
    contract (tests/test_rec_serving_parity.py, now also driver-visible):
    identical (user, rank) key sets, identical served ITEM SET per user
    (anti-joins both ways — order-free, so float32-vs-float64 accumulation
    ties can't flip it), and per-rank score agreement within 1e-4.
    Returns (n_subset_users, n_rows, matches)."""
    mllib = rec_user_topk(spark, sf_dir).cache()
    manual = rec_factor_serve_topk(spark, sf_dir).cache()
    extra = manual.join(
        mllib.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    ).count()
    missing = mllib.join(
        manual.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    ).count()
    n_rows = mllib.count()
    n_users = mllib.select("user_id").distinct().count()
    sc = (
        mllib.select("user_id", "rnk", F.col("score").alias("s_mllib"))
        .join(
            manual.select("user_id", "rnk", F.col("score").alias("s_manual")),
            ["user_id", "rnk"],
        )
        .agg(
            F.count(F.lit(1)).alias("n_joined"),
            F.max(F.abs(F.col("s_mllib") - F.col("s_manual"))).alias("max_diff"),
        )
        .collect()[0]
    )
    matches = (
        extra == 0
        and missing == 0
        and manual.count() == n_rows
        and sc.n_joined == n_rows
        and float(sc.max_diff or 0.0) < 1e-4
    )
    return n_users, n_rows, matches


#: synthetic fold-in user index, far outside any trained index space
_FOLD_IN_UNSEEN_IDX = 1 << 24


def _fold_in_parity(spark: SparkSession, sf_dir: str) -> tuple[int, bool, bool]:
    """Fold-in contract, distributed: solve user factors for every trained
    user's history PLUS one synthetic unseen user (5 catalog items) in ONE
    fold-in pass, then check (a) every trained user's solved factor lands on
    the TRAINED factor at cosine > 0.9999 — the final ALS half-step solves
    exactly this system — and (b) the unseen user (the case the reference
    refuses, mf_knn_recommender.py:234-242) gets one finite nonzero factor.
    Cosines are computed JVM-side (zip_with/aggregate in float64); only
    bounded scalars reach the driver. Returns (n_folded, cosine_ok,
    unseen_ok)."""
    art = _artifacts(spark, sf_dir)
    some_items = [r.item_idx for r in art["items"].orderBy("item_idx").limit(5).collect()]
    unseen = spark.createDataFrame(
        [(_FOLD_IN_UNSEEN_IDX, i) for i in some_items], "user_idx int, item_idx int"
    )
    inter = art["train"].select("user_idx", "item_idx").unionByName(unseen)
    folded = rec_fold_in_user_factors(spark, sf_dir, interactions_df=inter).cache()
    n_folded = folded.count()
    trained = art["model"].userFactors.select(
        F.col("id").alias("user_idx"), F.col("features").alias("tfeat")
    )
    n_trained = trained.count()

    def _norm(col: str) -> F.Column:
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    dot = F.aggregate(
        F.zip_with(
            F.col("features"), F.col("tfeat"), lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (_norm("features") * _norm("tfeat") + F.lit(1e-12))
    st = (
        folded.join(trained, "user_idx")
        .select(cos.alias("cos"))
        .agg(
            F.count(F.lit(1)).alias("n_joined"),
            F.min("cos").alias("min_cos"),
            F.sum((F.isnan("cos") | F.col("cos").isNull()).cast("long")).alias("bad"),
        )
        .collect()[0]
    )
    cosine_ok = (
        st.n_joined == n_trained
        and n_folded == n_trained + 1
        and (st.bad or 0) == 0
        and float(st.min_cos) > 0.9999
    )
    un = (
        folded.filter(F.col("user_idx") == _FOLD_IN_UNSEEN_IDX)
        .select(_norm("features").alias("nrm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.isnan("nrm") | F.col("nrm").isNull() | (F.col("nrm") <= 0)).cast("long")
            ).alias("bad"),
        )
        .collect()[0]
    )
    unseen_ok = un.n == 1 and (un.bad or 0) == 0
    return n_folded, cosine_ok, unseen_ok


@register(
    "rec_eval_suite",
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    split AS (
      SELECT *,
             substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS is_test
      FROM inter
    ),
    train AS (SELECT user_id, item_id FROM split WHERE NOT is_test),
    test AS (SELECT user_id, item_id FROM split WHERE is_test),
    tu AS (SELECT DISTINCT user_id FROM train),
    ti AS (SELECT DISTINCT item_id FROM train)
    SELECT 'eval' AS op, 'n_eval_users' AS metric,
           CAST((SELECT COUNT(DISTINCT user_id) FROM test
                 WHERE user_id IN (SELECT user_id FROM tu)) AS DOUBLE) AS value_num
    UNION ALL SELECT 'eval', 'metrics_in_01', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'coverage', 'n_catalog_items',
           CAST((SELECT COUNT(DISTINCT item_id) FROM inter) AS DOUBLE)
    UNION ALL SELECT 'coverage', 'ratio_in_01', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'sq_error', 'n_scored',
           CAST((SELECT COUNT(*) FROM test
                 WHERE user_id IN (SELECT user_id FROM tu)
                   AND item_id IN (SELECT item_id FROM ti)) AS DOUBLE)
    UNION ALL SELECT 'sq_error', 'nonneg', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'pca', 'n_items', CAST((SELECT COUNT(*) FROM ti) AS DOUBLE)
    UNION ALL SELECT 'pca', 'coords_finite', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'factor_serve', 'n_subset_users',
           CAST((SELECT COUNT(*) FROM tu WHERE user_id % 50 = 0) AS DOUBLE)
    UNION ALL SELECT 'factor_serve', 'n_rows',
           CAST((SELECT COUNT(*) FROM tu WHERE user_id % 50 = 0) * {TOP_K} AS DOUBLE)
    UNION ALL SELECT 'factor_serve', 'matches_mllib', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'fold_in', 'n_folded',
           CAST((SELECT COUNT(*) FROM tu) + 1 AS DOUBLE)
    UNION ALL SELECT 'fold_in', 'cosine_floor_ok', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'fold_in', 'unseen_user_served', CAST(1.0 AS DOUBLE)
    """,
)
def rec_eval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7/M8/A9/M9 + the serving-parity contracts in one driver row: run the
    full evaluation stack — P@k/R@k/F1 (``rec_eval_metrics``), catalog
    coverage (``rec_coverage``), held-out squared error (``rec_sq_error``),
    the 2-D PCA projection (``rec_pca_items``) — plus the two production
    serving paths: factor-export serving parity vs ``recommendForUserSubset``
    (``_factor_serve_parity``) and the fold-in trained-vs-solved cosine
    floor + unseen-user contract (``_fold_in_parity``). Each sub-op emits
    an oracle-checkable digest: counts that are SQL-derivable from the
    deterministic hash split (eval users = test ∩ train users via coldStart
    drop; scored pairs = test pairs whose user AND item have factors; PCA
    rows = train items; subset users = every-50th trained user; folded
    users = trained users + 1 synthetic unseen) plus range/validity/parity
    flags computed from the genuine values — a regression in either serving
    path flips this driver row red. The raw metric values stay
    algorithm-specific by construction (ALS vs the reference's SGD —
    parity is metric-level, SURVEY §7 phase 3)."""
    prepare(spark, sf_dir)
    m = rec_eval_metrics(spark, sf_dir).collect()[0]
    metrics_ok = (
        0.0 <= m.p_at_k <= 1.0 and 0.0 <= m.r_at_k <= 1.0 and 0.0 <= m.f1 <= 1.0
    )
    cov = rec_coverage(spark, sf_dir).collect()[0]
    cov_ok = 0.0 < cov.coverage <= 1.0 and cov.n_recommended_items <= cov.n_catalog_items
    sq = rec_sq_error(spark, sf_dir).collect()[0]
    sq_ok = (
        (sq.n_scored == 0 and sq.sum_sq_error is None)
        or (sq.sum_sq_error >= 0.0 and sq.mean_sq_error >= 0.0)
    )
    pca = rec_pca_items(spark, sf_dir)
    pca_stats = pca.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col("pc1").isNull() | F.col("pc2").isNull()
                | F.isnan("pc1") | F.isnan("pc2")
            ).cast("long")
        ).alias("bad"),
    ).collect()[0]
    fs_users, fs_rows, fs_match = _factor_serve_parity(spark, sf_dir)
    fi_n, fi_cos_ok, fi_unseen_ok = _fold_in_parity(spark, sf_dir)
    rows = [
        ("eval", "n_eval_users", float(m.n_eval_users)),
        ("eval", "metrics_in_01", 1.0 if metrics_ok else 0.0),
        ("coverage", "n_catalog_items", float(cov.n_catalog_items)),
        ("coverage", "ratio_in_01", 1.0 if cov_ok else 0.0),
        ("sq_error", "n_scored", float(sq.n_scored)),
        ("sq_error", "nonneg", 1.0 if sq_ok else 0.0),
        ("pca", "n_items", float(pca_stats.n)),
        ("pca", "coords_finite", 1.0 if (pca_stats.bad or 0) == 0 else 0.0),
        ("factor_serve", "n_subset_users", float(fs_users)),
        ("factor_serve", "n_rows", float(fs_rows)),
        ("factor_serve", "matches_mllib", 1.0 if fs_match else 0.0),
        ("fold_in", "n_folded", float(fi_n)),
        ("fold_in", "cosine_floor_ok", 1.0 if fi_cos_ok else 0.0),
        ("fold_in", "unseen_user_served", 1.0 if fi_unseen_ok else 0.0),
    ]
    return spark.createDataFrame(
        rows, schema="op string, metric string, value_num double"
    )


@register(
    "rec_model_roundtrip",
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    train AS (
      SELECT * FROM inter
      WHERE substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
            NOT IN ('0','1','2')
    )
    SELECT CAST({RANK} AS INT) AS rank,
           COUNT(DISTINCT user_id) AS n_user_factors,
           COUNT(DISTINCT item_id) AS n_item_factors
    FROM train
    """,
)
def rec_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: persist + reload the trained model
    (reference: mf_knn_recommender.py:200-215 joblib.dump/load). The loaded
    model's factor-table cardinalities equal the train split's distinct
    users/items — which IS SQL-expressible, so persistence gets a
    hash-matched oracle row, not just rows-only."""
    prepare(spark, sf_dir)
    from pyspark.ml.recommendation import ALSModel

    art = _artifacts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_als_")
    path = f"{tmp}/als_model"
    try:
        art["model"].write().overwrite().save(path)
        loaded = ALSModel.load(path)
        n_users = loaded.userFactors.count()
        n_items = loaded.itemFactors.count()
        rank = loaded.rank
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(rank, n_users, n_items)],
        schema="rank int, n_user_factors bigint, n_item_factors bigint",
    )


# --------------------------------------------------------------------------
# Market-basket co-purchase affinity ("customers also bought")
# --------------------------------------------------------------------------

COPURCHASE_TOP_K = 20


def rec_factor_serve_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Serving from EXPORTED factors: top-k via explicit dot products over
    the factor tables, bypassing the ALSModel object entirely — the
    feature-store pattern (factors land in a serving store; rankers score
    with plain linear algebra, no MLlib at inference time). Must reproduce
    ``recommendForUserSubset`` exactly (same factors, same argmax):
    asserted in tests/test_rec_serving_parity.py.

    Plan shape: item factors are catalog-sized -> broadcast; each subset
    user scores all items map-side (``zip_with``/``aggregate`` — JVM
    higher-order fns, no Python), then the per-user top-k window. At 100 TB
    the user side partitions freely; the item side stays the bounded
    catalog — the same asymmetry recommendForAllUsers' blocked cross
    product exploits.

    Accumulation-precision caveat (part of the parity contract): this path
    accumulates the dot product in float64 and casts the result to float32,
    while MLlib's ``recommendForUserSubset`` accumulates in float32
    (BLAS sdot). Scores can differ by ~1 ulp of float32, so near-tie
    candidates may RANK differently at larger scale factors; the contract
    therefore compares served item SETS per user plus score agreement
    (1e-4), and only pins order where scores strictly descend — see
    tests/test_rec_serving_parity.py and the factor_serve rows of
    ``rec_eval_suite``."""
    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    uf = art["model"].userFactors.select(
        F.col("id").alias("user_idx"), F.col("features").alias("ufeat")
    )
    itf = art["model"].itemFactors.select(
        F.col("id").alias("item_idx"), F.col("features").alias("ifeat")
    )
    subset = art["users"].filter(F.col("user_id") % 50 == 0)
    users = subset.join(uf, "user_idx")
    dot = F.aggregate(
        F.zip_with(F.col("ufeat"), F.col("ifeat"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = users.join(F.broadcast(itf)).select(
        "user_idx", "user_id", "item_idx", dot.cast("float").alias("score")
    )
    w = Window.partitionBy("user_idx").orderBy(F.desc("score"), F.asc("item_idx"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .join(F.broadcast(art["items"]), "item_idx")
        .select("user_id", "item_id", "rnk", "score")
    )


def _gram_matrix(factors: DataFrame, rank: int) -> "list[list[float]]":
    """Distributed Gram matrix Y^T Y over a factor table: per-Arrow-batch
    partial outer-product sums via mapInPandas (map-side, no shuffle), then
    the driver folds the bounded partials (one rank x rank array per batch
    — KBs however large the catalog grows). Accumulates in float64: the
    factors are stored float32 and a single-precision outer-product sum
    would erode parity as batches grow."""
    import numpy as np
    from pyspark.sql import types as T

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            y = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            g = (y.T @ y).ravel().tolist()
            yield pd.DataFrame({"g": [g]})

    schema = T.StructType([T.StructField("g", T.ArrayType(T.DoubleType()))])
    parts = factors.select("features").mapInPandas(partials, schema).collect()
    total = np.zeros(rank * rank)
    for row in parts:
        total += np.array(row.g)
    return total.reshape(rank, rank).tolist()


def rec_fold_in_user_factors(
    spark: SparkSession, sf_dir: str, interactions_df: DataFrame | None = None
) -> DataFrame:
    """FOLD-IN: compute user factors for (new or existing) users from their
    interaction history and the trained ITEM factors alone — no retrain.
    This is the capability the reference lacks outright: a user absent from
    training gets a refusal string (mf_knn_recommender.py:234-242); with
    fold-in they get first-class recommendations the moment their first
    interactions land.

    Math: implicit-ALS normal equations for one user, r=1 observations,
    confidence c = 1 + alpha:
        (Y^T Y + alpha * Y_O^T Y_O + lambda * |O| * I) u = (1+alpha) * Y_O^T 1
    with MLlib's ALS-WR scaling (lambda * n_obs) — verified to reproduce the
    TRAINED user factors to cosine 1.0000 (the final ALS half-step solves
    users against the final item factors; tests/test_rec_serving_parity.py
    pins this).

    Plan shape: Y^T Y is a distributed map-side Gram pass (bounded
    partials); observed rows join the broadcast catalog-sized factor table;
    ONE shuffle on user_id; each user's rank x rank solve runs inside an
    Arrow-batched applyInPandas, parallel across users, state bounded by
    rank^2 per user."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    model = art["model"]
    itf = model.itemFactors.select(
        F.col("id").alias("item_idx"), F.col("features").alias("ifeat")
    )
    # memoized per (session, sf_dir): the Gram pass scans the catalog-sized
    # factor table, and repeated fold-in callers (the streaming re-fold loop
    # runs one fold per micro-batch) would otherwise pay it per call even
    # though the ITEM factors are frozen between fits
    if "gram_yty" not in art:
        art["gram_yty"] = _gram_matrix(model.itemFactors, model.rank)
    yty = art["gram_yty"]
    rank, alpha, lam = model.rank, ALPHA, REG
    if interactions_df is None:
        interactions_df = art["train"].select("user_idx", "item_idx")
    # Training used DISTINCT pairs with r=1 (c = 1 + alpha); duplicate
    # (user, item) rows in a caller-supplied feed would each add alpha to
    # that item's confidence, silently inflating it relative to the trained
    # model — dedup so fold-in always solves the same system training did.
    obs = (
        interactions_df.select("user_idx", "item_idx")
        .dropDuplicates(["user_idx", "item_idx"])
        .join(F.broadcast(itf), "item_idx")
        .select("user_idx", "item_idx", "ifeat")
    )

    def solve_one(uid, pdf):
        yo = np.stack(pdf["ifeat"].to_numpy())
        n = yo.shape[0]
        a = np.array(yty) + alpha * (yo.T @ yo) + lam * n * np.eye(rank)
        b = (1 + alpha) * yo.sum(axis=0)
        u = np.linalg.solve(a, b)
        return pd.DataFrame(
            {"user_idx": [int(uid)], "features": [u.astype("float32").tolist()]}
        )

    # r14 opt (guide §4.5, the MMR treatment): per-user applyInPandas paid
    # one Python/Arrow round-trip per user (~15k groups of ~30 rows at
    # sf0.1 — measured, the grouped-UDF overhead WAS the whole fold-in
    # slot). One mapInPandas invocation per partition loops the identical
    # per-user rank x rank solve; the explicit repartition reproduces the
    # grouping exchange, so no extra shuffle and groups never straddle
    # partitions.
    #
    # r15 opt (guide §5 spill safety / r14 ADVICE): the r14 form
    # pd.concat'ed the WHOLE partition before grouping (a fat partition at
    # 100 TB held in one Python worker) and depended on nondeterministic
    # Arrow batch arrival order for each user's yo.T@yo accumulation
    # (folded factors drifted at float level run-to-run). The Spark-side
    # sortWithinPartitions (user_idx, item_idx) fixes both: user groups
    # arrive CONTIGUOUS and in a STABLE row order, so the worker streams
    # batch-by-batch holding only one pandas batch plus the trailing
    # partial group, and the fold-in is bit-reproducible run-to-run.
    # Consumers still read folded factors through tolerance-gated parity
    # flags (the accumulation ORDER differs from the r14 arbitrary order
    # at ~1e-16 relative — inside every gate, re-verified driver-mode).
    def solve_partition(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            uidx = pdf["user_idx"]
            # rows of the last user may continue into the next batch: hold
            # them back (user_idx ascending — the Spark-side sort)
            cut = int(uidx.searchsorted(uidx.iat[-1], side="left"))
            carry = pdf.iloc[cut:]
            if cut == 0:
                continue
            head = pdf.iloc[:cut]
            yield pd.concat(
                [solve_one(uid, g) for uid, g in head.groupby("user_idx", sort=False)],
                ignore_index=True,
            )
        if carry is not None and len(carry):
            yield pd.concat(
                [solve_one(uid, g) for uid, g in carry.groupby("user_idx", sort=False)],
                ignore_index=True,
            )

    schema = T.StructType(
        [
            T.StructField("user_idx", T.IntegerType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )
    return (
        obs.repartition(F.col("user_idx"))
        .sortWithinPartitions("user_idx", "item_idx")
        .mapInPandas(solve_partition, schema)
    )


#: size of the popularity shelf served to cold-start users
POPULAR_FALLBACK_K = 100


@component(
    "rec_popular_fallback",
    cols=[("item_id", "num"), ("n_users", "num"), ("rnk", "num")],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    pop AS (SELECT item_id, COUNT(*) AS n_users FROM inter GROUP BY item_id),
    ranked AS (
      SELECT item_id, n_users,
             ROW_NUMBER() OVER (ORDER BY n_users DESC, item_id) AS rnk
      FROM pop
    )
    SELECT item_id, CAST(n_users AS BIGINT) AS n_users, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {POPULAR_FALLBACK_K}
    """,
)
def rec_popular_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start popularity shelf: top-K items by distinct-user reach.
    The reference REFUSES users absent from training
    (mf_knn_recommender.py:234-242 returns a warning string); a serving
    system needs a fallback list instead — the standard most-popular shelf,
    deterministic (ties broken by item_id) and refreshed with the model.

    Scale posture: distinct (user, item) pairs shuffle once on item_id for
    the reach count; the global top-K is sort+limit
    (TakeOrderedAndProject — per-partition heaps, no global sort); the rank
    window runs on the K-row result only (bounded domain)."""
    prepare(spark, sf_dir)
    pop = (
        interactions(spark)
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    top = pop.orderBy(F.desc("n_users"), F.asc("item_id")).limit(POPULAR_FALLBACK_K)
    w = Window.orderBy(F.desc("n_users"), F.asc("item_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


@component(
    "rec_copurchase_pairs",
    cols=[
        ("part_a", "num"),
        ("part_b", "num"),
        ("pair_count", "num"),
        ("cnt_a", "num"),
        ("cnt_b", "num"),
        ("lift", "dbl"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS pair_count
      FROM baskets a JOIN baskets b
        ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2
    ),
    part_counts AS (
      SELECT part, COUNT(*) AS cnt FROM baskets GROUP BY part
    ),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
    scored AS (
      SELECT p.part_a, p.part_b, p.pair_count, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
             CAST(p.pair_count * n.n_orders AS DOUBLE) / (ca.cnt * cb.cnt) AS lift,
             ROW_NUMBER() OVER (ORDER BY p.pair_count DESC, p.part_a, p.part_b) AS rnk
      FROM pairs p
      JOIN part_counts ca ON p.part_a = ca.part
      JOIN part_counts cb ON p.part_b = cb.part
      CROSS JOIN n
    )
    SELECT part_a, part_b, CAST(pair_count AS BIGINT) AS pair_count,
           CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
           lift, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= {COPURCHASE_TOP_K}
    """,
)
def rec_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase affinity — the classic "customers also
    bought" signal the reference's recommender family implies but never
    materializes (reference: mf_knn_recommender.py scores user-item pairs;
    this is the item-item co-occurrence twin). For each unordered part pair
    bought in the same order: joint count, marginals, and lift =
    P(a,b) / (P(a)·P(b)) as an exact rational of integer counts (one IEEE
    division, engine-identical). Top-K by the all-integer ordering
    (pair_count DESC, part_a, part_b).

    Scale posture: baskets are distinct (orderkey, part) — one shuffle; the
    pair generation is a SELF-JOIN PER ORDER, bounded by items-per-order
    (≤7 in TPC-H-shaped data, bounded in any real basket feed), so the
    blow-up factor is O(k²) per basket, not O(n²) global. Pair counts and
    marginals each shuffle once on their keys; the part-count join is
    catalog-sized. Top-K is sort+limit (TakeOrderedAndProject); the rank
    window runs on K rows only."""
    prepare(spark, sf_dir)
    li = spark.table("lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    part_counts = baskets.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    n_orders = baskets.agg(F.countDistinct("okey").alias("n_orders"))
    scored = (
        pairs.join(
            part_counts.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a")),
            "part_a",
        )
        .join(
            part_counts.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .withColumn(
            "lift",
            (F.col("pair_count") * F.col("n_orders")).cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")),
        )
    )
    top = scored.orderBy(F.desc("pair_count"), F.asc("part_a"), F.asc("part_b")).limit(
        COPURCHASE_TOP_K
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("part_a"), F.asc("part_b"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "part_a", "part_b", "pair_count", "cnt_a", "cnt_b", "lift", "rnk"
    )


# --------------------------------------------------------------------------
# Directional association rules (Apriori level-1: support/confidence/lift)
# --------------------------------------------------------------------------

#: minimum joint-support count for a rule to be emitted
ASSOC_MIN_SUPPORT = 3
#: rules kept, ordered by (confidence_micro DESC, antecedent, consequent)
ASSOC_TOP_K = 20


@component(
    "rec_assoc_rules",
    cols=[
        ("antecedent", "num"),
        ("consequent", "num"),
        ("support", "num"),
        ("cnt_ante", "num"),
        ("confidence_micro", "num"),
        ("lift", "dbl"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b, CAST(COUNT(*) AS BIGINT) AS sup
      FROM baskets a JOIN baskets b
        ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2
      HAVING COUNT(*) >= {ASSOC_MIN_SUPPORT}
    ),
    directional AS (
      SELECT part_a AS antecedent, part_b AS consequent, sup FROM pairs
      UNION ALL
      SELECT part_b AS antecedent, part_a AS consequent, sup FROM pairs
    ),
    part_counts AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt FROM baskets GROUP BY part
    ),
    n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM baskets),
    scored AS (
      SELECT d.antecedent, d.consequent, d.sup AS support, ca.cnt AS cnt_ante,
             CAST(FLOOR(CAST(d.sup AS DOUBLE) * 1000000.0
                        / CAST(ca.cnt AS DOUBLE)) AS BIGINT) AS confidence_micro,
             CAST(d.sup * n.n_orders AS DOUBLE) / (ca.cnt * cc.cnt) AS lift
      FROM directional d
      JOIN part_counts ca ON d.antecedent = ca.part
      JOIN part_counts cc ON d.consequent = cc.part
      CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY confidence_micro DESC, antecedent, consequent
      ) AS rnk
      FROM scored
    )
    SELECT antecedent, consequent, support, cnt_ante, confidence_micro, lift,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {ASSOC_TOP_K}
    """,
)
def rec_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules A→B — the Apriori level-1 output
    (reference scope: the recommender family's "frequently bought
    together" shelf; rec_copurchase_pairs materializes the symmetric
    affinity, this adds the DIRECTED rule with its confidence
    P(B|A) = sup(A,B)/cnt(A), which is what a PDP cross-sell slot
    actually ranks by). Min-support pruning (sup ≥ {ASSOC_MIN_SUPPORT})
    happens on the exact joint count BEFORE the direction fan-out, so the
    candidate set is Apriori-bounded; confidence crosses as the
    FLOOR-micro divide (deterministic ordering key); lift stays the exact
    rational of integer counts with ONE IEEE division, engine-identical.
    Top-{ASSOC_TOP_K} by (confidence_micro DESC, antecedent, consequent)
    — an all-integer total order.

    Scale: identical posture to rec_copurchase_pairs (per-order self-join
    bounded by basket size, one shuffle per rollup); the direction
    union doubles surviving pairs only AFTER min-support pruning; the
    marginal joins shuffle on part (catalog-sized side broadcasts under
    AQE); top-k is sort+limit."""
    prepare(spark, sf_dir)
    li = spark.table("lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= ASSOC_MIN_SUPPORT)
    )
    directional = pairs.select(
        F.col("part_a").alias("antecedent"), F.col("part_b").alias("consequent"), "sup"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"), F.col("part_a").alias("consequent"), "sup"
        )
    )
    part_counts = baskets.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    n_orders = baskets.agg(F.countDistinct("okey").alias("n_orders"))
    scored = (
        directional.join(
            part_counts.select(F.col("part").alias("antecedent"), F.col("cnt").alias("cnt_ante")),
            "antecedent",
        )
        .join(
            part_counts.select(F.col("part").alias("consequent"), F.col("cnt").alias("cnt_cons")),
            "consequent",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("sup").alias("support"),
            "cnt_ante",
            F.floor(F.col("sup").cast("double") * 1000000.0 / F.col("cnt_ante").cast("double"))
            .cast("long")
            .alias("confidence_micro"),
            (
                (F.col("sup") * F.col("n_orders")).cast("double")
                / (F.col("cnt_ante") * F.col("cnt_cons"))
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.desc("confidence_micro"), F.asc("antecedent"), F.asc("consequent")
    ).limit(ASSOC_TOP_K)
    w = Window.orderBy(F.desc("confidence_micro"), F.asc("antecedent"), F.asc("consequent"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "antecedent", "consequent", "support", "cnt_ante", "confidence_micro", "lift", "rnk"
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (user-level cosine neighbors)
# --------------------------------------------------------------------------

ITEMCF_K = 10
#: pair generation is a self-join per user, O(basket²) rows each; a whale
#: account (bot, wholesale buyer) with a 100k-item basket would alone emit
#: 5e9 pairs, so users above this basket size are excluded from the
#: CO-COUNTS (standard itemCF practice — their signal is near-zero anyway:
#: a user who buys everything discriminates nothing). Deterministic and
#: SQL-expressible, so the oracle applies the identical cap.
ITEMCF_MAX_BASKET = 500
#: minimum co-occurrence support: singleton pairs (co=1) are noise — they
#: rank by popularity-penalty alone and at corpus scale they dominate the
#: pair space (most random pairs co-occur once). Filtering them BEFORE the
#: symmetric fan-out and the per-item ranking window cuts the ranked row
#: space by the singleton fraction (~10x at sf0.1) without changing any
#: neighbor a serving system would keep.
ITEMCF_MIN_CO = 2


#: the itemCF CTE chain, shared verbatim by the rec_itemcf_neighbors
#: oracle and the RRF hybrid's oracle so the two cannot drift
_SQL_ITEMCF_CTES = f"""
    inter AS ({_SQL_INTERACTIONS}),
    sizes AS (SELECT user_id, COUNT(*) AS basket FROM inter GROUP BY 1),
    capped AS (
      SELECT i.user_id, i.item_id
      FROM inter i JOIN sizes s ON i.user_id = s.user_id
      WHERE s.basket <= {ITEMCF_MAX_BASKET}
    ),
    cnt AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_users FROM capped GROUP BY 1),
    pairs AS (
      SELECT a.item_id AS item_a, b.item_id AS item_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM capped a JOIN capped b
        ON a.user_id = b.user_id AND a.item_id < b.item_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {ITEMCF_MIN_CO}
    ),
    sym AS (
      SELECT item_a AS item_id, item_b AS neighbor_id, co FROM pairs
      UNION ALL
      SELECT item_b, item_a, co FROM pairs
    ),
    scored AS (
      SELECT s.item_id, s.neighbor_id, s.co,
             CAST(FLOOR(s.co * s.co * 1000000.0 / (ci.n_users * cn.n_users)) AS BIGINT)
               AS cos2_micro,
             s.co / sqrt(CAST(ci.n_users * cn.n_users AS DOUBLE)) AS cosine
      FROM sym s
      JOIN cnt ci ON s.item_id = ci.item_id
      JOIN cnt cn ON s.neighbor_id = cn.item_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY item_id
               ORDER BY cos2_micro DESC, co DESC, neighbor_id) AS rnk
      FROM scored
    )"""


@component(
    "rec_itemcf_neighbors",
    cols=[
        ("item_id", "num"),
        ("neighbor_id", "num"),
        ("co", "num"),
        ("cos2_micro", "num"),
        ("cosine", "dbl"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH {_SQL_ITEMCF_CTES}
    SELECT item_id, neighbor_id, co, cos2_micro, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {ITEMCF_K}
    """,
)
def rec_itemcf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: per-item top-K neighbor lists by
    cosine over binary USER vectors — cos(i,j) = co(i,j)/√(nᵢ·nⱼ). The
    memory-based complement to the model-based ALS path (reference:
    mf_knn_recommender.py brands itself "KNN" but never materializes item
    neighbors; this is the actual KNN table, and the serving shape behind
    "similar items" shelves: a bounded K-row lookup per item, no model).

    Ranking is engine-deterministic without float ordering: cos² in integer
    micro units (monotone in cosine for positive counts; floor of one IEEE
    divide — both engines round-to-nearest identically) with (co, neighbor)
    tie-breaks. The float cosine column is informational.

    Scale: pair space is Σ basket² per user — bounded by ITEMCF_MAX_BASKET
    (whale users excluded from co-counts before the self-join, exactly like
    rec_copurchase_pairs bounds per ORDER). One shuffle each for baskets,
    pair counts, and the per-item window; the n_users side is
    catalog-sized -> broadcast. The measured alternative — collect_set
    baskets + nested-transform/explode map-side pair generation — was
    ~1.4x SLOWER at sf0.1 (per-row array-of-structs allocation outweighs
    the saved join shuffle at these basket sizes), so the relational
    self-join form stays."""
    prepare(spark, sf_dir)
    inter = interactions(spark)
    sizes = inter.groupBy("user_id").agg(F.count(F.lit(1)).alias("basket"))
    # the capped frame has three consumers (both self-join sides + item
    # counts); persist it once so the orders ⋈ lineitem distinct and the
    # whale-cap join don't recompute per consumer (un-persisted, the plan
    # replays the interactions join 4x). cache() not localCheckpoint:
    # the round-7 eager checkpoint paid a synchronous disk materialization
    # on every build and benched ~0.7 s SLOWER at sf0.1 than memory-
    # with-spill caching (A/B min-of-3, idle box, round 8); cache gives
    # the same single-computation reuse, spills under pressure, and at
    # cluster scale keeps the frame executor-local instead of forcing an
    # eager write barrier before the self-join starts.
    capped = inter.join(
        sizes.filter(F.col("basket") <= ITEMCF_MAX_BASKET).select("user_id"), "user_id"
    ).cache()
    cnt = capped.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= ITEMCF_MIN_CO)
    )
    # r14 opt: score each UNORDERED pair once, then mirror. cos2_micro and
    # cosine depend on (co, n_a * n_b), both symmetric in the pair, so the
    # two broadcast count joins and the score arithmetic used to run over
    # the doubled symmetric union for nothing — the union is now a
    # map-side projection of the scored pairs (identical values by
    # construction; the pair self-join output feeds the joins ONCE).
    scored_pairs = (
        pairs.join(
            F.broadcast(
                cnt.select(F.col("item_id").alias("item_a"), F.col("n_users").alias("n_a"))
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                cnt.select(F.col("item_id").alias("item_b"), F.col("n_users").alias("n_b"))
            ),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "co",
            F.floor(
                F.col("co") * F.col("co") * 1000000.0 / (F.col("n_a") * F.col("n_b"))
            )
            .cast("bigint")
            .alias("cos2_micro"),
            (
                F.col("co")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
    )
    # both directions via one map-side explode (a two-branch unionAll
    # would execute the pair self-join subtree twice — the graph_kcore
    # lesson; the multiset of rows is identical)
    scored = scored_pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_id"),
                    F.col("item_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("item_b").alias("item_id"),
                    F.col("item_a").alias("neighbor_id"),
                ),
            )
        ).alias("_d"),
        "co",
        "cos2_micro",
        "cosine",
    ).select("_d.item_id", "_d.neighbor_id", "co", "cos2_micro", "cosine")
    w = Window.partitionBy("item_id").orderBy(
        F.desc("cos2_micro"), F.desc("co"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= ITEMCF_K)
        .select("item_id", "neighbor_id", "co", "cos2_micro", "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# Time-decayed popularity (recency-weighted trending items)
# --------------------------------------------------------------------------

DECAY_TOP_K = 20


@component(
    "rec_decayed_popularity",
    cols=[
        ("item_id", "num"),
        ("n_lines", "num"),
        ("score_micro", "num"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    w AS (
      SELECT l_partkey AS item_id,
             CAST(1.0 AS DOUBLE)
               / (1 + datediff('day', o_orderdate, mxd)) AS wt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey CROSS JOIN mx
    ),
    s AS (
      SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(FLOOR(SUM(CAST(wt AS DECIMAL(28,12))) * 1000000) AS BIGINT)
               AS score_micro
      FROM w GROUP BY item_id
    )
    SELECT item_id, n_lines, score_micro,
           CAST(ROW_NUMBER() OVER (
             ORDER BY score_micro DESC, n_lines DESC, item_id) AS INT) AS rnk
    FROM s
    ORDER BY score_micro DESC, n_lines DESC, item_id
    LIMIT {DECAY_TOP_K}
    """,
)
def rec_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted trending items: each order contributes a
    hyperbolically decayed weight 1/(1 + days before the corpus's newest
    order) to its parts; top-K by the decayed score. This is the
    time-aware upgrade of the cold-start shelf (rec_popular_fallback
    counts reach with no clock — last year's bestseller and this week's
    hit score the same there; here freshness dominates), and the shelf
    most storefronts actually serve as "trending now".

    Determinism: the per-order weight is ONE IEEE divide of integers
    (identical both engines), accumulated through DECIMAL(28,12) (exact,
    order-independent), and ranked by the micro-unit floor — no float
    ordering anywhere. The decay anchor is the data's own max date, so
    the operator is reproducible without a wall clock. Shape: one bounded
    max aggregate broadcast into the fact scan (weights compute map-side
    in the same pass as the join), one partial-agg shuffle on item, then
    TakeOrderedAndProject for the K rows."""
    prepare(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    w = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("l_partkey").alias("item_id"),
            (
                F.lit(1.0)
                / (1 + F.datediff(F.col("mxd"), F.col("o_orderdate")))
            ).alias("wt"),
        )
    )
    s = w.groupBy("item_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.floor(F.sum(F.col("wt").cast("decimal(28,12)")) * 1000000)
        .cast("bigint")
        .alias("score_micro"),
    )
    top = s.orderBy(
        F.desc("score_micro"), F.desc("n_lines"), F.asc("item_id")
    ).limit(DECAY_TOP_K)
    rank_w = Window.orderBy(F.desc("score_micro"), F.desc("n_lines"), F.asc("item_id"))
    return top.withColumn("rnk", F.row_number().over(rank_w).cast("int"))


def serve_user(spark: SparkSession, sf_dir: str, user_id: int, k: int = TOP_K) -> DataFrame:
    """Public single-user serving API — the reference's
    ``recommend_items_for_user`` (use_model.py:46-50), which answers with
    dot products over the trained factors. It runs no Spark job: a dict
    lookup of the user's row in the driver-resident serving state
    (:func:`_serving_state`, built once per model by the refresh),
    :func:`_topk_kernel` on that one row, and the k rows wrapped as a
    frame over a pyarrow Table, which plans as a LocalTableScan (building
    and collecting it submit no job).

    Returns ``user_id bigint, item_id bigint, rnk int, score float``: the
    user's rows of batch serving, bit for bit, and MLlib's
    ``recommendForUserSubset`` rows up to the order of exactly tied scores
    (ties go item_id ascending; tests/test_serve_user_parity.py). Returns
    an EMPTY frame of that schema (not an apology string, reference:
    mf_knn_recommender.py:234-242) when the user wasn't trained — callers
    route unknowns to fold-in (rec_fold_in_user_factors) or the
    popularity shelf (rec_popular_fallback); see scripts/recommend_user.py.

    Memory: the state keeps n_users x rank float32 user factors (plus
    n_items x rank item factors) on the driver for the model's lifetime,
    about 1 MB of users at sf0.1 for rank 16."""
    import numpy as np
    import pyarrow as pa

    prepare(spark, sf_dir)
    st = _serving_state(_artifacts(spark, sf_dir))
    row = st["user_row"].get(user_id)
    U = st["U"][row : row + 1] if row is not None else st["U"][:0]
    pos, score = _topk_kernel(U, st["V"], k)
    n = pos.size
    table = pa.table(
        {
            "user_id": pa.array(np.full(n, user_id, dtype=np.int64), type=pa.int64()),
            "item_id": pa.array(st["item_ids"][pos.ravel()], type=pa.int64()),
            "rnk": pa.array(np.arange(1, n + 1), type=pa.int32()),
            "score": pa.array(score.ravel(), type=pa.float32()),
        }
    )
    return spark.createDataFrame(table, schema=_SERVE_SCHEMA)


# --------------------------------------------------------------------------
# NDCG@k ranking evaluation (graded position-discounted metric)
# --------------------------------------------------------------------------

NDCG_K = 10

#: Position weights w_i = round(1e6 / log2(i+1)) and their prefix sums,
#: PRECOMPUTED IN PYTHON and embedded as integer literals on BOTH engine
#: sides — log2 is libm and its rounding is platform-specific, so the
#: logarithm never crosses the engine boundary (the tf-idf/BM25 no-libm
#: convention applied to the canonical DCG discount). Integer micro-units
#: make every per-user sum order-independent and exact.
_NDCG_W = [round(1_000_000 / __import__("math").log2(i + 1)) for i in range(1, NDCG_K + 1)]
_NDCG_P = [sum(_NDCG_W[: i + 1]) for i in range(NDCG_K)]  # prefix sums

_SQL_NDCG_W = "CASE r.rnk " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " END"
_SQL_NDCG_P = "CASE LEAST(h.n_holdout, " + str(NDCG_K) + ") " + " ".join(
    f"WHEN {i + 1} THEN {p}" for i, p in enumerate(_NDCG_P)
) + " END"


@component(
    "rec_ndcg_popularity",
    cols=[
        ("user_id", "num"),
        ("n_holdout", "num"),
        ("dcg_micro", "num"),
        ("idcg_micro", "num"),
        ("ndcg_micro", "num"),
    ],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    split AS (
      SELECT user_id, item_id,
             substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS held_out
      FROM inter
    ),
    pop AS (
      SELECT item_id, COUNT(*) AS n_users FROM split
      WHERE NOT held_out GROUP BY item_id
    ),
    shelf AS (
      SELECT item_id,
             ROW_NUMBER() OVER (ORDER BY n_users DESC, item_id) AS rnk
      FROM pop QUALIFY rnk <= {NDCG_K}
    ),
    holdout AS (
      SELECT user_id, item_id FROM split WHERE held_out
    ),
    h AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_holdout
      FROM holdout GROUP BY user_id
    ),
    dcg AS (
      SELECT ho.user_id, CAST(SUM({{W}}) AS BIGINT) AS dcg_micro
      FROM holdout ho JOIN shelf r ON ho.item_id = r.item_id
      GROUP BY ho.user_id
    )
    SELECT h.user_id,
           h.n_holdout,
           CAST(coalesce(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
           CAST({{P}} AS BIGINT) AS idcg_micro,
           CAST(FLOOR(CAST(coalesce(d.dcg_micro, 0) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)
                      / CAST({{P}} AS DOUBLE)) AS BIGINT) AS ndcg_micro
    FROM h LEFT JOIN dcg d ON h.user_id = d.user_id
    """.replace("{W}", _SQL_NDCG_W).replace("{P}", _SQL_NDCG_P),
)
def rec_ndcg_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of the popularity shelf against the held-out split —
    the position-discounted ranking metric missing next to P@k/R@k/F1
    (rec_eval_suite): a hit at rank 1 is worth 1/log2(2), at rank 10 only
    1/log2(11), so the metric rewards ORDER, not just membership. The
    ranking under evaluation is the deterministic most-popular shelf
    computed on the TRAIN side only (no leakage into the evaluated list);
    relevance is binary membership in the user's held-out items; IDCG is
    the perfect-ordering prefix for min(|holdout|, k).

    Cross-engine exactness: the log2 discounts are Python-precomputed
    integer micro-weights embedded as literals on both sides (no libm in
    either engine); DCG/IDCG are integer sums; the final ratio is one
    identical double division + FLOOR. Per-user rows (not just the mean)
    so the oracle checks every user's metric.

    Scale: one shuffle for the train-side reach count, TakeOrdered for
    the K-row shelf (broadcast to the holdout join), one user_id shuffle
    for DCG, one for holdout sizes — all bounded by the interaction
    table's one pass."""
    prepare(spark, sf_dir)
    inter = interactions(spark)
    held = _split_bucket("user_id", "item_id").isin("0", "1", "2")
    with_split = inter.withColumn("held_out", held)
    train = with_split.filter(~F.col("held_out"))
    holdout = with_split.filter(F.col("held_out")).select("user_id", "item_id")

    pop = train.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))
    top = pop.orderBy(F.desc("n_users"), F.asc("item_id")).limit(NDCG_K)
    w_rank = Window.orderBy(F.desc("n_users"), F.asc("item_id"))
    shelf = top.withColumn("rnk", F.row_number().over(w_rank).cast("int"))

    w_arr = F.array(*[F.lit(w).cast("long") for w in _NDCG_W])
    p_arr = F.array(*[F.lit(p).cast("long") for p in _NDCG_P])

    dcg = (
        holdout.join(F.broadcast(shelf), "item_id")
        .select("user_id", F.element_at(w_arr, F.col("rnk")).alias("w"))
        .groupBy("user_id")
        .agg(F.sum("w").alias("dcg_micro"))
    )
    h = holdout.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_holdout"))
    idcg = F.element_at(p_arr, F.least(F.col("n_holdout"), F.lit(NDCG_K)).cast("int"))
    return (
        h.join(dcg, "user_id", "left")
        .select(
            "user_id",
            "n_holdout",
            F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long").alias("dcg_micro"),
            idcg.cast("long").alias("idcg_micro"),
            F.floor(
                F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("double")
                * F.lit(1000000.0)
                / idcg.cast("double")
            )
            .cast("long")
            .alias("ndcg_micro"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic negative sampling (implicit-feedback training prep)
# --------------------------------------------------------------------------

NEG_K = 5          #: negatives kept per user
NEG_SLOTS = 10     #: candidate draws per user (2x over-draw absorbs hits)


@component(
    "rec_negative_samples",
    cols=[
        ("user_id", "num"),
        ("neg_rank", "num"),
        ("item_id", "num"),
        ("slot", "num"),
    ],
    oracle=f"""
    WITH inter AS ({{INTER}}),
    items AS (
      SELECT item_id,
             CAST(ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS BIGINT) AS idx
      FROM (SELECT DISTINCT item_id FROM inter)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items),
    users AS (SELECT DISTINCT user_id FROM inter),
    cand AS (
      SELECT u.user_id, s.slot,
             ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '#'
                                 || CAST(s.slot AS VARCHAR)), 1, 8))::BIGINT
               % n.n_items AS idx
      FROM users u
      CROSS JOIN (SELECT unnest(range({NEG_SLOTS})) AS slot) s
      CROSS JOIN n
    ),
    resolved AS (
      SELECT c.user_id, CAST(c.slot AS BIGINT) AS slot, i.item_id
      FROM cand c JOIN items i ON c.idx = i.idx
      WHERE NOT EXISTS (
        SELECT 1 FROM inter t
        WHERE t.user_id = c.user_id AND t.item_id = i.item_id
      )
    ),
    dedup AS (
      SELECT user_id, item_id, MIN(slot) AS slot
      FROM resolved GROUP BY user_id, item_id
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slot) AS BIGINT)
             AS neg_rank,
           item_id, slot
    FROM dedup
    QUALIFY neg_rank <= {NEG_K}
    """.replace("{INTER}", _SQL_INTERACTIONS),
)
def rec_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE sampling — the training-prep half every
    implicit-feedback objective (BPR, sampled softmax, ALS with sampled
    evaluation) needs next to the positive interactions: for each user,
    {NEG_K} items they have NOT interacted with, drawn reproducibly.
    Candidates come from {NEG_SLOTS} md5-indexed draws into the dense item
    dictionary (the md5-determinism convention — identical on any cluster
    topology, no seeded global shuffle), interacted pairs are removed by
    anti-join, within-user duplicate draws collapse to their first slot,
    and the first {NEG_K} surviving slots win. A heavy user whose draws
    all collide simply yields fewer negatives — the standard over-draw
    absorbs this at 2x.

    Cross-engine bridge: the md5-hex-to-integer index is Spark
    ``conv(hex, 16, 10)`` and DuckDB ``('0x'||hex)::BIGINT`` — both parse
    the same 8 hex chars to the same unsigned 32-bit value (probed).

    Scale: candidate space is |users| x {NEG_SLOTS} — a bounded map-side
    fan-out, never |users| x |items|; the item dictionary is
    vocabulary-sized and broadcast; the anti-join shuffles on the pair
    key once; per-user windows run on <= {NEG_SLOTS} rows."""
    prepare(spark, sf_dir)
    inter = interactions(spark)
    items = _encode(inter, "item_id", "idx").select(
        "item_id", F.col("idx").cast("long").alias("idx")
    )
    n = items.agg(F.count(F.lit(1)).alias("n_items"))
    users = inter.select("user_id").distinct()
    slots = spark.range(NEG_SLOTS).select(F.col("id").alias("slot"))
    cand = (
        users.crossJoin(F.broadcast(slots))
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "slot",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "#",
                                F.col("user_id").cast("string"),
                                F.col("slot").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_items")
            ).alias("idx"),
        )
    )
    resolved = (
        cand.join(F.broadcast(items), "idx")
        .join(inter, ["user_id", "item_id"], "left_anti")
        .select("user_id", "slot", "item_id")
    )
    dedup = resolved.groupBy("user_id", "item_id").agg(F.min("slot").alias("slot"))
    w = Window.partitionBy("user_id").orderBy("slot")
    return (
        dedup.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("user_id", "neg_rank", "item_id", "slot")
    )


# --------------------------------------------------------------------------
# Hybrid recommendation via reciprocal-rank fusion (itemCF × popularity)
# --------------------------------------------------------------------------

#: standard RRF smoothing constant (Cormack et al. 2009)
RRF_C = 60
#: fused neighbors kept per item
RRF_K = 5


@component(
    "rec_rrf_hybrid",
    cols=[
        ("item_id", "num"),
        ("neighbor_id", "num"),
        ("cf_rnk", "num"),
        ("pop_rnk", "num"),
        ("rrf_micro", "num"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH {_SQL_ITEMCF_CTES},
    cf AS (SELECT item_id, neighbor_id, rnk AS cf_rnk
           FROM ranked WHERE rnk <= {ITEMCF_K}),
    pop AS (SELECT item_id,
                   ROW_NUMBER() OVER (ORDER BY n_users DESC, item_id) AS pop_rnk
            FROM cnt),
    fused AS (
      SELECT cf.item_id, cf.neighbor_id, cf.cf_rnk, pop.pop_rnk,
             CAST(FLOOR(1000000.0 / ({RRF_C} + cf.cf_rnk)) +
                  FLOOR(1000000.0 / ({RRF_C} + pop.pop_rnk)) AS BIGINT) AS rrf_micro
      FROM cf JOIN pop ON cf.neighbor_id = pop.item_id
    )
    SELECT item_id, neighbor_id,
           CAST(cf_rnk AS INT) AS cf_rnk, CAST(pop_rnk AS INT) AS pop_rnk,
           rrf_micro, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY item_id
               ORDER BY rrf_micro DESC, neighbor_id) AS rnk
      FROM fused
    ) WHERE rnk <= {RRF_K}
    """,
)
def rec_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid recommendation by reciprocal-rank fusion — the standard way
    production systems blend heterogeneous rankers WITHOUT calibrating
    their scores against each other (Cormack et al. 2009: fuse on ranks,
    RRF(d) = Σ 1/(c + rank_i(d)), c = {RRF_C}): here the per-item itemCF
    neighbor ranking (collaborative signal) is fused with the global
    popularity ranking (prior), re-ranking each item's shelf toward
    neighbors that are both similar AND broadly bought. Rank fusion in
    integer micro-units — FLOOR(1e6/(c+rank)) per ranker, summed — keeps
    the fused score engine-exact where raw score blending would reopen
    every float-calibration problem the micro-unit convention closed.

    Scale: consumes rec_itemcf_neighbors' K-bounded output (items × K
    rows) and a popularity ranking over the catalog-bounded item-count
    table; the fusion join partitions on neighbor_id and the final
    window re-ranks ≤K rows per item. Nothing here is corpus-sized —
    the heavy lifting stays inside the itemCF build, which this op
    shares via its cached capped frame."""
    prepare(spark, sf_dir)
    cf = rec_itemcf_neighbors(spark, sf_dir).select(
        "item_id", "neighbor_id", F.col("rnk").alias("cf_rnk")
    )
    inter = interactions(spark)
    sizes = inter.groupBy("user_id").agg(F.count(F.lit(1)).alias("basket"))
    capped = inter.join(
        sizes.filter(F.col("basket") <= ITEMCF_MAX_BASKET).select("user_id"), "user_id"
    )
    cnt = capped.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))
    w_pop = Window.orderBy(F.desc("n_users"), F.asc("item_id"))
    pop = cnt.select("item_id", F.row_number().over(w_pop).alias("pop_rnk"))
    fused = cf.join(
        F.broadcast(pop.select(F.col("item_id").alias("neighbor_id"), "pop_rnk")),
        "neighbor_id",
    ).select(
        "item_id",
        "neighbor_id",
        "cf_rnk",
        "pop_rnk",
        (
            F.floor(1000000.0 / (F.lit(RRF_C) + F.col("cf_rnk")))
            + F.floor(1000000.0 / (F.lit(RRF_C) + F.col("pop_rnk")))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    w = Window.partitionBy("item_id").orderBy(F.desc("rrf_micro"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RRF_K)
        .select(
            "item_id",
            "neighbor_id",
            F.col("cf_rnk").cast("int").alias("cf_rnk"),
            F.col("pop_rnk").cast("int").alias("pop_rnk"),
            "rrf_micro",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# User-user collaborative filtering + neighborhood-based serving
# --------------------------------------------------------------------------

#: blockbuster cap, the mirror of ITEMCF_MAX_BASKET: an item bought by
#: more users than this is excluded from USER-pair generation (it connects
#: everyone and discriminates nothing; pair space per item is O(buyers²))
UUCF_MAX_ITEM_POP = 500
#: minimum shared-item support for a user pair
UUCF_MIN_CO = 2
#: neighbors kept per user
UUCF_K = 10
#: recommendations emitted per served user
UUCF_REC_K = 5
#: deterministic served-user subset
UUCF_SERVE_MODULUS = 50


@component(
    "rec_useruser_recs",
    cols=[
        ("user_id", "num"),
        ("item_id", "num"),
        ("score_micro", "num"),
        ("n_voters", "num"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    pop AS (SELECT item_id, COUNT(*) AS buyers FROM inter GROUP BY 1),
    capped AS (
      SELECT i.user_id, i.item_id
      FROM inter i JOIN pop p ON i.item_id = p.item_id
      WHERE p.buyers <= {UUCF_MAX_ITEM_POP}
    ),
    usz AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS basket FROM capped GROUP BY 1),
    upairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM capped a JOIN capped b
        ON a.item_id = b.item_id AND a.user_id < b.user_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {UUCF_MIN_CO}
    ),
    sym AS (
      SELECT user_a AS user_id, user_b AS neighbor_id, co FROM upairs
      UNION ALL
      SELECT user_b, user_a, co FROM upairs
    ),
    scored AS (
      SELECT s.user_id, s.neighbor_id,
             CAST(FLOOR(s.co * s.co * 1000000.0 / (ua.basket * ub.basket)) AS BIGINT)
               AS cos2_micro,
             s.co
      FROM sym s
      JOIN usz ua ON s.user_id = ua.user_id
      JOIN usz ub ON s.neighbor_id = ub.user_id
    ),
    nbrs AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY user_id
                 ORDER BY cos2_micro DESC, co DESC, neighbor_id) AS nrnk
        FROM scored
      ) WHERE nrnk <= {UUCF_K}
    ),
    served AS (SELECT * FROM nbrs WHERE user_id % {UUCF_SERVE_MODULUS} = 0),
    votes AS (
      SELECT n.user_id, c.item_id,
             CAST(SUM(n.cos2_micro) AS BIGINT) AS score_micro,
             CAST(COUNT(*) AS BIGINT) AS n_voters
      FROM served n JOIN capped c ON n.neighbor_id = c.user_id
      WHERE NOT EXISTS (
        SELECT 1 FROM inter o
        WHERE o.user_id = n.user_id AND o.item_id = c.item_id
      )
      GROUP BY 1, 2
    )
    SELECT user_id, item_id, score_micro, n_voters, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY score_micro DESC, n_voters DESC, item_id) AS rnk
      FROM votes
    ) WHERE rnk <= {UUCF_REC_K}
    """,
)
def rec_useruser_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-user collaborative filtering, end to end: the OTHER classic
    memory-based recommender beside rec_itemcf_neighbors (item-item) and
    the model-based ALS — find each user's top-{UUCF_K} most-similar
    users by cosine over binary ITEM vectors, then recommend what the
    neighborhood bought that the user hasn't (votes weighted by neighbor
    similarity, anti-joined against the user's own history). Served for
    the deterministic user_id % {UUCF_SERVE_MODULUS} == 0 subset — the
    bounded-serving pattern every rec_* op uses.

    Ranking is engine-deterministic throughout: similarity as cos² in
    integer micro-units, vote scores as integer sums of those units,
    all tie-breaks total.

    Scale: the pair space is Σ buyers² per ITEM, bounded by the
    {UUCF_MAX_ITEM_POP}-buyer blockbuster cap (the exact mirror of
    itemCF's whale-basket cap — a blockbuster connects everyone and
    discriminates nothing); neighbor lists are K-bounded before serving,
    so the vote join fans out ≤ K neighbors × their capped baskets per
    served user; the NOT-EXISTS dedup is a left anti join on the
    (user, item) key. One shuffle per stage, all map-side combined."""
    prepare(spark, sf_dir)
    inter = interactions(spark)
    pop = inter.groupBy("item_id").agg(F.count(F.lit(1)).alias("buyers"))
    capped = inter.join(
        pop.filter(F.col("buyers") <= UUCF_MAX_ITEM_POP).select("item_id"), "item_id"
    ).cache()  # three consumers: both pair sides + the vote join
    usz = capped.groupBy("user_id").agg(F.count(F.lit(1)).alias("basket"))
    a, b = capped.alias("a"), capped.alias("b")
    upairs = (
        a.join(
            b,
            (F.col("a.item_id") == F.col("b.item_id"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= UUCF_MIN_CO)
    )
    sym = upairs.select(
        F.col("user_a").alias("user_id"), F.col("user_b").alias("neighbor_id"), "co"
    ).unionAll(
        upairs.select(
            F.col("user_b").alias("user_id"), F.col("user_a").alias("neighbor_id"), "co"
        )
    )
    scored = (
        sym.join(
            F.broadcast(usz.select(F.col("user_id"), F.col("basket").alias("ba"))),
            "user_id",
        )
        .join(
            F.broadcast(
                usz.select(
                    F.col("user_id").alias("neighbor_id"), F.col("basket").alias("bb")
                )
            ),
            "neighbor_id",
        )
        .select(
            "user_id",
            "neighbor_id",
            F.floor(F.col("co") * F.col("co") * 1000000.0 / (F.col("ba") * F.col("bb")))
            .cast("long")
            .alias("cos2_micro"),
            "co",
        )
    )
    w_n = Window.partitionBy("user_id").orderBy(
        F.desc("cos2_micro"), F.desc("co"), F.asc("neighbor_id")
    )
    served = (
        scored.withColumn("nrnk", F.row_number().over(w_n))
        .filter((F.col("nrnk") <= UUCF_K) & (F.col("user_id") % UUCF_SERVE_MODULUS == 0))
    )
    votes = (
        served.join(
            capped.select(F.col("user_id").alias("neighbor_id"), "item_id"),
            "neighbor_id",
        )
        .join(
            inter.select(F.col("user_id"), F.col("item_id")),
            ["user_id", "item_id"],
            "left_anti",
        )
        .groupBy("user_id", "item_id")
        .agg(
            F.sum("cos2_micro").cast("long").alias("score_micro"),
            F.count(F.lit(1)).alias("n_voters"),
        )
    )
    w_r = Window.partitionBy("user_id").orderBy(
        F.desc("score_micro"), F.desc("n_voters"), F.asc("item_id")
    )
    return (
        votes.withColumn("rnk", F.row_number().over(w_r).cast("int"))
        .filter(F.col("rnk") <= UUCF_REC_K)
        .select("user_id", "item_id", "score_micro", "n_voters", "rnk")
    )


# --------------------------------------------------------------------------
# Ranking AUC of the popularity scorer (Mann-Whitney rank-sum, tie-exact)
# --------------------------------------------------------------------------


@component(
    "rec_auc_popularity",
    cols=[
        ("n_pos", "num"),
        ("n_neg", "num"),
        ("u2", "num"),
        ("auc_micro", "num"),
    ],
    oracle=f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    split AS (
      SELECT user_id, item_id,
             substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS held_out
      FROM inter
    ),
    items AS (SELECT DISTINCT item_id FROM split),
    pop AS (
      SELECT item_id, CAST(COUNT(*) AS BIGINT) AS score FROM split
      WHERE NOT held_out GROUP BY item_id
    ),
    labeled AS (
      SELECT i.item_id,
             COALESCE(p.score, 0) AS score,
             EXISTS (SELECT 1 FROM split s
                     WHERE s.held_out AND s.item_id = i.item_id) AS is_pos
      FROM items i LEFT JOIN pop p ON i.item_id = p.item_id
    ),
    ranked AS (
      SELECT is_pos,
             2 * RANK() OVER (ORDER BY score)
               + CAST(COUNT(*) OVER (PARTITION BY score) AS BIGINT) - 1 AS r2
      FROM labeled
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN is_pos THEN r2 ELSE 0 END) AS BIGINT) AS r2_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(FLOOR(CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE) * 1000000.0
                        / CAST(2 * n_pos * n_neg AS DOUBLE)) AS BIGINT)
           END AS auc_micro
    FROM agg
    """,
)
def rec_auc_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking AUC of the popularity scorer against the held-out split —
    the threshold-free companion to NDCG@k (rec_ndcg_popularity) and the
    P/R/F1 family: AUC = P(score(held-out item) > score(never-held-out
    item)), computed EXACTLY as the Mann-Whitney rank-sum
    U = R_pos − n_pos(n_pos+1)/2 with midrank tie handling. Ranks carry
    as 2×midrank (2·RANK + tiecount − 1, an integer — no .5 ever
    materializes), so U and the tie correction stay in exact int64 and
    one FLOOR-micro divide emits the statistic; an AUC near 0.5 would
    mean popularity carries no signal about what users actually buy next.

    Scale: the item-level frame is catalog-bounded, so the global rank
    window costs one small sort; the split/pop aggregations shuffle once
    each on their keys over the interactions frame. The per-user sampled
    AUC at 100 TB reuses rec_negative_samples' bounded candidate
    generation — this operator pins the exact global form."""
    prepare(spark, sf_dir)
    inter = interactions(spark)
    held = (
        F.substring(
            F.md5(F.concat_ws(":", F.col("user_id"), F.col("item_id"))), 1, 1
        ).isin("0", "1", "2")
    )
    split = inter.select("user_id", "item_id", held.alias("held_out")).cache()
    items = split.select("item_id").distinct()
    pop = (
        split.filter(~F.col("held_out"))
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    pos_items = split.filter(F.col("held_out")).select("item_id").distinct()
    labeled = (
        items.join(pop, "item_id", "left")
        .join(pos_items.withColumn("is_pos", F.lit(True)), "item_id", "left")
        .select(
            F.coalesce(F.col("score"), F.lit(0)).alias("score"),
            F.coalesce(F.col("is_pos"), F.lit(False)).alias("is_pos"),
        )
    )
    w_rank = Window.orderBy("score")
    w_tie = Window.partitionBy("score")
    r2 = (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1).cast("long")
    agg = labeled.select("is_pos", r2.alias("r2")).agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("is_pos"), F.col("r2")).otherwise(0)).cast("long").alias("r2_pos"),
    )
    u2 = F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    # AUC is undefined when either class is empty (0/0 or x/0 feeding
    # floor() diverges across engines) — emit NULL like the oracle's CASE
    return agg.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.floor(
                u2.cast("double")
                * 1000000.0
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
            ).cast("long"),
        ).alias("auc_micro"),
    )
# --------------------------------------------------------------------------
# The RECOMMENDATION CAPSTONE: the reference's daily serving DAG end-to-end
# --------------------------------------------------------------------------


def _sql_rec_pipeline() -> str:
    return f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    split AS (
      SELECT *,
             substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS is_test
      FROM inter
    ),
    train AS (SELECT user_id, item_id FROM split WHERE NOT is_test),
    test AS (SELECT user_id, item_id FROM split WHERE is_test),
    tu AS (SELECT DISTINCT user_id FROM train),
    ti AS (SELECT DISTINCT item_id FROM train)
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage, metric,
           CAST(value_num AS DOUBLE) AS value_num
    FROM (
      SELECT 1 AS stage_ord, 'extract' AS stage, 'n_interactions' AS metric,
             (SELECT COUNT(*) FROM inter) AS value_num
      UNION ALL SELECT 2, 'encode', 'n_users',
             (SELECT COUNT(DISTINCT user_id) FROM inter)
      UNION ALL SELECT 2, 'encode', 'n_items',
             (SELECT COUNT(DISTINCT item_id) FROM inter)
      UNION ALL SELECT 3, 'split', 'n_train', (SELECT COUNT(*) FROM train)
      UNION ALL SELECT 3, 'split', 'n_test', (SELECT COUNT(*) FROM test)
      UNION ALL SELECT 4, 'fit', 'rank', {RANK}
      UNION ALL SELECT 4, 'fit', 'n_user_factors', (SELECT COUNT(*) FROM tu)
      UNION ALL SELECT 4, 'fit', 'n_item_factors', (SELECT COUNT(*) FROM ti)
      UNION ALL SELECT 5, 'serve', 'n_rec_rows',
             (SELECT COUNT(*) FROM tu) * {TOP_K}
      UNION ALL SELECT 5, 'serve', 'rank_contract_ok', 1
      UNION ALL SELECT 6, 'diversify', 'n_mmr_rows',
             (SELECT COUNT(*) FROM tu) * {TOP_K}
      UNION ALL SELECT 6, 'diversify', 'picks_from_pool_ok', 1
      UNION ALL SELECT 7, 'evaluate', 'n_eval_users',
             (SELECT COUNT(DISTINCT user_id) FROM test
              WHERE user_id IN (SELECT user_id FROM tu))
      UNION ALL SELECT 7, 'evaluate', 'metrics_in_01_ok', 1
      UNION ALL SELECT 8, 'publish', 'n_published',
             (SELECT COUNT(*) FROM tu) * {TOP_K}
      UNION ALL SELECT 8, 'publish', 'roundtrip_checksum_ok', 1
    )
    """


@component(
    "rec_pipeline_e2e",
    oracle=_sql_rec_pipeline(),
    cols=[
        ("stage_ord", "num"),
        ("stage", "str"),
        ("metric", "str"),
        ("value_num", "dbl"),
    ],
)
def rec_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECOMMENDATION CAPSTONE: the reference's daily serving DAG
    (dags/e_commerce_dw_dag.py: extract -> train MF -> recommend -> store,
    with mf_knn_recommender.py supplying train/serve/diversify/eval)
    replayed as ONE chained Spark lineage with per-stage conservation
    rows. Stages: (1) extract implicit interactions, (2) dictionary
    encode, (3) leakage-safe md5 split, (4) seeded ALS fit, (5) batch
    top-k serving for every trained user, (6) MMR diversification over a
    3k pool, (7) P@k/R@k/F1 evaluation on the held-out split, (8) publish
    the diversified lists to parquet and re-read (the DAG's store step).

    Every stage emits either a count the DuckDB oracle derives
    INDEPENDENTLY from the same deterministic inputs (interaction/dict/
    split/factor cardinalities, k-per-user row totals, eval-user count) or
    a 0/1 contract flag computed from the genuine stage output (serve rank
    contract, MMR picks-from-pool, metrics in [0,1], publish read-back
    checksum) — the digest convention for model-valued stages (ALS scores
    are engine-specific by construction; parity with the reference is
    metric-level, SURVEY §7 phase 3). A broken stage handoff — users
    dropped between fit and serve, MMR inventing items, a lossy publish —
    flips a count or flag and the suite's driver row goes red.

    Scale: stages reuse their solo postures (shuffle joins on natural keys,
    MLlib block ALS, memoized artifacts, applyInPandas bounded 30-row
    groups per user); the publish stage is one parquet write + re-read of
    k rows per user. Nothing here adds a plan the solo operators don't
    already run at their recorded postures."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    model = art["model"]
    # build both memoized serving frames SERIALLY first (the memo dict is
    # not a concurrency primitive), then fan the independent stage actions
    # out over a small driver thread pool (guide §2.6: actions are only
    # sequential because the driver calls them sequentially — each of
    # these jobs underfills the session's cores at bench scale, and none
    # depends on another's result except where the future graph below
    # says so). Every emitted count/flag is computed from the same frames
    # as the serial form, so the digest rows are bit-identical.
    recs = _topk_recs(spark, sf_dir, TOP_K)
    pool = _topk_recs(spark, sf_dir, k=MMR_POOL)
    # stages 1-4 cost no job of their own: the exact counts came with the
    # dictionary-bounds pass, and the factor counts are the row counts of
    # the driver-resident serving state the serving frames were built from
    counts = art["counts"]
    st = _serving_state(art)

    def stage_srv():
        # stage 5: serving contract from the real rec rows (memoized frame)
        per_user = recs.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rnk").alias("min_rnk"),
            F.max("rnk").alias("max_rnk"),
        )
        return per_user.agg(
            F.sum("n").alias("n_rows"),
            (
                (F.min("n") == TOP_K)
                & (F.max("n") == TOP_K)
                & (F.min("min_rnk") == 1)
                & (F.max("max_rnk") == TOP_K)
            ).alias("contract_ok"),
        ).collect()[0]

    def stage_eval():
        # stage 7: held-out evaluation
        return rec_eval_metrics(spark, sf_dir).collect()[0]

    def stage_mmr_publish():
        # stage 6: MMR diversification + picks-from-pool conservation,
        # then stage 8: publish + read-back checksum (both consume the
        # checkpointed MMR frame, so they live on one future)
        mmr = mmr_rerank(spark, sf_dir).localCheckpoint(eager=True)
        off_pool = mmr.join(
            pool.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
        ).count()
        want = mmr.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("user_id") + F.col("item_id") * F.col("mmr_rank")).alias("ck"),
        ).collect()[0]
        tmp = tempfile.mkdtemp(prefix="ecomdw_recs_")
        try:
            path = f"{tmp}/recommendations"
            mmr.write.mode("overwrite").parquet(path)
            back = spark.read.parquet(path)
            got = back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("user_id") + F.col("item_id") * F.col("mmr_rank")
                ).alias("ck"),
            ).collect()[0]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return off_pool, want, got

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_srv = ex.submit(stage_srv)
        f_eval = ex.submit(stage_eval)
        f_mmr = ex.submit(stage_mmr_publish)
        srv = f_srv.result()
        m = f_eval.result()
        off_pool, want, got = f_mmr.result()

    metrics_ok = (
        0.0 <= m.p_at_k <= 1.0 and 0.0 <= m.r_at_k <= 1.0 and 0.0 <= m.f1 <= 1.0
    )
    publish_ok = (got.n, got.ck) == (want.n, want.ck)

    rows = [
        (1, "extract", "n_interactions", float(counts["n_interactions"])),
        (2, "encode", "n_users", float(counts["n_users"])),
        (2, "encode", "n_items", float(counts["n_items"])),
        (3, "split", "n_train", float(counts["n_interactions"] - counts["n_test"])),
        (3, "split", "n_test", float(counts["n_test"])),
        (4, "fit", "rank", float(model.rank)),
        (4, "fit", "n_user_factors", float(len(st["U"]))),
        (4, "fit", "n_item_factors", float(len(st["V"]))),
        (5, "serve", "n_rec_rows", float(srv.n_rows)),
        (5, "serve", "rank_contract_ok", 1.0 if srv.contract_ok else 0.0),
        (6, "diversify", "n_mmr_rows", float(want.n)),
        (6, "diversify", "picks_from_pool_ok", 1.0 if off_pool == 0 else 0.0),
        (7, "evaluate", "n_eval_users", float(m.n_eval_users)),
        (7, "evaluate", "metrics_in_01_ok", 1.0 if metrics_ok else 0.0),
        (8, "publish", "n_published", float(got.n)),
        (8, "publish", "roundtrip_checksum_ok", 1.0 if publish_ok else 0.0),
    ]
    # over a pyarrow Table the frame plans as a LocalTableScan: building
    # and collecting it submit no job (a Python list would cost one)
    ords, stages, metrics, values = zip(*rows)
    table = pa.table(
        {
            "stage_ord": pa.array(ords, type=pa.int64()),
            "stage": pa.array(stages, type=pa.string()),
            "metric": pa.array(metrics, type=pa.string()),
            "value_num": pa.array(values, type=pa.float64()),
        }
    )
    return spark.createDataFrame(
        table, schema="stage_ord bigint, stage string, metric string, value_num double"
    )


#: temporal-backtest cutoff: ~2/3 of the order span trains, the rest tests
BACKTEST_CUTOFF = "1999-01-01"


def _sql_backtest_popularity() -> str:
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    novel AS (SELECT u, i FROM post EXCEPT SELECT u, i FROM pre),
    topk AS (
      SELECT i FROM (
        SELECT i, COUNT(*) AS c FROM pre GROUP BY i
        ORDER BY c DESC, i LIMIT {TOP_K}
      )
    )
    SELECT u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_novel_items,
           CAST(COALESCE(SUM((i IN (SELECT i FROM topk))::INT), 0) AS BIGINT)
             AS n_hits,
           CAST(1000000 * COALESCE(SUM((i IN (SELECT i FROM topk))::INT), 0)
                // {TOP_K} AS BIGINT) AS p_at_k_micro
    FROM novel GROUP BY u
    """


@component(
    "rec_backtest_popularity",
    oracle=_sql_backtest_popularity(),
    cols=[
        ("user_id", "num"),
        ("n_novel_items", "num"),
        ("n_hits", "num"),
        ("p_at_k_micro", "num"),
    ],
)
def rec_backtest_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL BACKTEST of the popularity recommender — the time-aware
    evaluation the random md5 split cannot give: train-period popularity
    (orders strictly before the cutoff) is scored against each user's
    NOVEL post-cutoff interactions (post pairs the user never touched
    pre-cutoff — recommending re-buys is not prediction). Per test user:
    novel-item count, hits against the train-period top-{TOP_K} shelf,
    and precision@k in integer micro-units. Every quantity is a count or
    integer ratio over deterministic joins, so the whole backtest
    hash-matches the oracle row-for-row — no model flags needed (the
    popularity scorer is exactly computable in both engines; ties break
    count-desc then item-asc).

    This is the leakage-safe eval discipline for recommenders at scale:
    time splits beat random splits when usage drifts, the same way
    group-aware splits beat row splits for documents
    (text_group_holdout_split / dedup_split_leakage).

    Scale: two scans of the fact join with the date filter pushed to the
    scan, one hash groupBy each; the shelf is a global top-k of a
    per-item count (map-side partials + tiny final sort); scoring is a
    broadcast IN against a {TOP_K}-row set + one groupBy on user."""
    prepare(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderdate").alias("od"),
    )
    cutoff = F.lit(BACKTEST_CUTOFF).cast("timestamp")
    pre = joined.filter(F.col("od") < cutoff).select("u", "i").distinct()
    post = joined.filter(F.col("od") >= cutoff).select("u", "i").distinct()
    novel = post.join(pre, ["u", "i"], "left_anti")
    shelf = (
        pre.groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("i"))
        .limit(TOP_K)
        .select("i")
    )
    hit = novel.join(F.broadcast(shelf), "i", "left_semi").select(
        "u", F.lit(1).alias("h")
    )
    per_user = (
        novel.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel_items"))
        .join(hit.groupBy("u").agg(F.sum("h").alias("nh")), "u", "left")
    )
    n_hits = F.coalesce("nh", F.lit(0)).cast("bigint")
    return per_user.select(
        F.col("u").alias("user_id"),
        "n_novel_items",
        n_hits.alias("n_hits"),
        F.expr(f"div(1000000 * coalesce(nh, 0), {TOP_K})")
        .cast("bigint")
        .alias("p_at_k_micro"),
    )


def _sql_backtest_repurchase() -> str:
    return f"""
    WITH pre AS (
      SELECT o_custkey AS u, l_partkey AS i, COUNT(*) AS cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT u, i,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, i) AS rnk
      FROM pre
    ),
    shelf AS (SELECT u, i FROM ranked WHERE rnk <= {TOP_K}),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    scoreable AS (
      SELECT p.u, p.i FROM post p WHERE p.u IN (SELECT DISTINCT u FROM pre)
    )
    SELECT s.u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_post_items,
           CAST(COALESCE(SUM(CASE WHEN sh.i IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hits,
           CAST(1000000 * COALESCE(SUM(CASE WHEN sh.i IS NOT NULL
                                       THEN 1 ELSE 0 END), 0)
                // {TOP_K} AS BIGINT) AS p_at_k_micro
    FROM scoreable s
    LEFT JOIN shelf sh ON s.u = sh.u AND s.i = sh.i
    GROUP BY s.u
    """


@component(
    "rec_backtest_repurchase",
    oracle=_sql_backtest_repurchase(),
    cols=[
        ("user_id", "num"),
        ("n_post_items", "num"),
        ("n_hits", "num"),
        ("p_at_k_micro", "num"),
    ],
)
def rec_backtest_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED temporal backtest — the repeat-purchase baseline the
    next-basket literature measures every sequential model against: each
    user's own pre-cutoff purchase-frequency top-{TOP_K} (ties item-asc)
    is scored against ALL of their post-cutoff purchases (re-buys count —
    that is the behavior this model predicts; contrast with
    rec_backtest_popularity, which excludes them to test novel-item
    discovery). Together the two backtests bracket the offline-eval
    baselines: non-personal popularity on novelty vs personal frequency
    on repetition — and like the popularity shelf, every number is a
    count or integer ratio over deterministic joins, hash-exact
    cross-engine with no model flags.

    Scale: the per-user shelf window partitions on user (bounded items
    per user — no skewed-key corpus sort); the eval join is an equi-join
    on (user, item); date predicates push to the scans."""
    prepare(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderdate").alias("od"),
    )
    cutoff = F.lit(BACKTEST_CUTOFF).cast("timestamp")
    pre = (
        joined.filter(F.col("od") < cutoff)
        .groupBy("u", "i")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("i"))
    shelf = (
        pre.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("u", "i", F.lit(1).alias("hit"))
    )
    post = joined.filter(F.col("od") >= cutoff).select("u", "i").distinct()
    scoreable = post.join(pre.select("u").distinct(), "u", "left_semi")
    per_user = (
        scoreable.join(shelf, ["u", "i"], "left")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_post_items"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )
    return per_user.select(
        F.col("u").alias("user_id"),
        "n_post_items",
        "n_hits",
        F.expr(f"div(1000000 * n_hits, {TOP_K})").cast("bigint").alias("p_at_k_micro"),
    )


def _sql_backtest_markov() -> str:
    return f"""
    WITH seq AS (
      SELECT o_custkey AS u, o_orderkey AS ok, o_orderdate AS od,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS next_ok,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS next_od
      FROM orders
    ),
    basket AS (SELECT l_orderkey AS ok, l_partkey AS i FROM lineitem GROUP BY 1, 2),
    train_pairs AS (
      SELECT u, ok, next_ok FROM seq
      WHERE next_ok IS NOT NULL AND next_od < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    trans AS (
      SELECT bf.i AS i_from, bt.i AS i_to, COUNT(*) AS cnt
      FROM train_pairs p
      JOIN basket bf ON p.ok = bf.ok
      JOIN basket bt ON p.next_ok = bt.ok
      GROUP BY 1, 2
    ),
    eval_pairs AS (
      SELECT u, ok, next_ok FROM seq
      WHERE next_ok IS NOT NULL AND od < TIMESTAMP '{BACKTEST_CUTOFF}'
        AND next_od >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    scores AS (
      SELECT p.u, t.i_to, CAST(SUM(t.cnt) AS BIGINT) AS score
      FROM eval_pairs p
      JOIN basket bf ON p.ok = bf.ok
      JOIN trans t ON bf.i = t.i_from
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT u, i_to FROM (
        SELECT u, i_to,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY score DESC, i_to) AS rnk
        FROM scores
      ) WHERE rnk <= {TOP_K}
    ),
    actual AS (
      SELECT p.u, bt.i FROM eval_pairs p JOIN basket bt ON p.next_ok = bt.ok
    )
    SELECT a.u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_next_items,
           CAST((SELECT COUNT(*) FROM topk k WHERE k.u = a.u) AS BIGINT)
             AS n_pred,
           CAST(COALESCE(SUM(CASE WHEN k2.i_to IS NOT NULL THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_hits
    FROM actual a LEFT JOIN topk k2 ON a.u = k2.u AND a.i = k2.i_to
    GROUP BY a.u
    """


@component(
    "rec_backtest_markov",
    oracle=_sql_backtest_markov(),
    cols=[
        ("user_id", "num"),
        ("n_next_items", "num"),
        ("n_pred", "num"),
        ("n_hits", "num"),
    ],
)
def rec_backtest_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL temporal backtest — the first-order Markov next-basket
    model that completes the baseline trio (popularity = non-personal,
    repurchase = personal-static, THIS = personal-sequential): item→item
    transition counts are trained on consecutive-order pairs fully before
    the cutoff, and each user's single cutoff-crossing pair (last
    pre-cutoff basket → first post-cutoff basket) is predicted by summing
    transition counts out of the previous basket and taking the top-k
    (score desc, item asc). Leakage-safe by construction: no evaluated
    pair contributes to the transition table. Every score is an integer
    count sum, so the whole backtest hash-matches cross-engine —
    the exactly-checkable skeleton of the sequential recommenders
    (FPMC/GRU4Rec) that replace the count table with a learned one.

    Scale: the order sequencing is a LEAD window per customer (bounded
    orders per user, no skewed corpus sort); the transition table
    shuffles on (i_from, i_to) with map-side combine and is bounded by
    the observed co-basket pair space (sparse catalog²); scoring joins
    eval baskets against it on i_from; date predicates prune the scans."""
    prepare(spark, sf_dir)
    o, li = spark.table("orders"), spark.table("lineitem")
    cutoff = F.lit(BACKTEST_CUTOFF).cast("timestamp")
    w_seq = Window.partitionBy("u").orderBy("od", "ok")
    seq = (
        o.select(
            F.col("o_custkey").alias("u"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").alias("od"),
        )
        .withColumn("next_ok", F.lead("ok").over(w_seq))
        .withColumn("next_od", F.lead("od").over(w_seq))
    ).cache()  # two consumers: train_pairs + eval_pairs
    basket = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i")
    ).distinct().cache()  # four consumers: bf/bt on both train + eval sides
    train_pairs = seq.filter(
        F.col("next_ok").isNotNull() & (F.col("next_od") < cutoff)
    ).select("u", "ok", "next_ok")
    bf = basket.select(F.col("ok"), F.col("i").alias("i_from"))
    bt = basket.select(F.col("ok").alias("next_ok"), F.col("i").alias("i_to"))
    trans = (
        train_pairs.join(bf, "ok")
        .join(bt, "next_ok")
        .groupBy("i_from", "i_to")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    eval_pairs = seq.filter(
        F.col("next_ok").isNotNull()
        & (F.col("od") < cutoff)
        & (F.col("next_od") >= cutoff)
    ).select("u", "ok", "next_ok")
    scores = (
        eval_pairs.join(bf, "ok")
        .join(trans, "i_from")
        .groupBy("u", "i_to")
        .agg(F.sum("cnt").cast("long").alias("score"))
    )
    w_rank = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("i_to"))
    topk = (
        scores.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= TOP_K)
        .select("u", "i_to", F.lit(1).alias("hit"))
    )
    n_pred = topk.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    actual = eval_pairs.join(bt, "next_ok").select("u", F.col("i_to").alias("i"))
    per_user = (
        actual.join(
            topk.withColumnRenamed("i_to", "i"), ["u", "i"], "left"
        )
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_next_items"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return (
        per_user.join(n_pred, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            "n_next_items",
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            "n_hits",
        )
    )


# --------------------------------------------------------------------------
# ALS temporal backtest (round 12): the missing fourth row of the backtest
# leaderboard — the only learned model answering the temporal question the
# baseline trio frames (reference evaluates ALS on a RANDOM split only,
# mf_knn_recommender.py:365-448).
# --------------------------------------------------------------------------

#: relative floor on the ALS backtest's precision@k: the ALS (and
#: MMR-diversified) micro hit-rate must reach this percentage of
#: POPULARITY's SQL-exact rate on the same novel-truth protocol. A
#: relative floor is SF-stable where an absolute one is not (measured
#: rates span 690–75000 micro across sf0.001/0.1 as the catalog grows);
#: measured lift-vs-popularity: 116.1/101.5/94.7 % (plain) and
#: 112.9/103.2/104.9 % (MMR) at sf0.001/0.01/0.1 — recorded in
#: COVERAGE.md and pinned by tests/test_round12_ops.py. A broken serve
#: path (random shelf) measures ~5 % of popularity at sf0.1, far under
#: this floor. The rate VALUES are model-specific (never hashed).
BACKTEST_ALS_LIFT_FLOOR_PCT = 50


def _backtest_pre_post(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Distinct (u, i) interaction pairs strictly before / at-or-after
    BACKTEST_CUTOFF — the shared protocol of every backtest component (the
    date predicate pushes to the orders scan in both consumers)."""
    o, li = spark.table("orders"), spark.table("lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderdate").alias("od"),
    )
    cutoff = F.lit(BACKTEST_CUTOFF).cast("timestamp")
    pre = joined.filter(F.col("od") < cutoff).select("u", "i").distinct()
    post = joined.filter(F.col("od") >= cutoff).select("u", "i").distinct()
    return pre, post


def _pool_sizing(pre: DataFrame, eval_users: DataFrame, n_items: int) -> int:
    """Backtest pool width k' = MMR_POOL + max pre-items over eval users.
    The width guarantee is only a STRUCTURAL invariant while the pool
    fits the catalog: if it didn't, a user with many pre-cutoff items
    could end up with fewer than TOP_K unseen candidates and the census
    oracle's hardcoded n_pred = TOP_K would false-mismatch (r12 ADVICE).
    Fail loudly instead of silently clamping — on a catalog where this
    binds, the honest fix is a per-user LEAST(TOP_K, n_items - n_seen)
    bound in the oracle, not a quiet clamp that voids the pinned
    invariant. The raise converts a data-shape condition into a hard
    failure of the whole backtest family (r13 ADVICE), so the invariant
    is verified FIT-FREE at every shipped SF in a fast-lane test
    (tests/test_round14_ops.py::test_backtest_pool_fits_all_shipped_sfs
    via :func:`backtest_pool_fits`) — on shipped data it cannot fire."""
    max_seen = (
        pre.join(eval_users, "u", "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    # zero eval users => the max aggregate is NULL (r14 review): the
    # invariant is trivially satisfiable then — size the pool at its
    # floor instead of crashing on int(None)
    k_pool = MMR_POOL + int(max_seen or 0)
    if k_pool > int(n_items):
        raise AssertionError(
            f"backtest pool width {k_pool} (MMR_POOL={MMR_POOL} + "
            f"max_seen={int(max_seen)}) exceeds the item catalog "
            f"({int(n_items)}): the n_pred == TOP_K invariant the census "
            "oracle pins would be void — widen the catalog or switch the "
            "oracle to a per-user LEAST(TOP_K, n_items - n_seen) bound"
        )
    return k_pool


def backtest_pool_fits(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Fit-free guard-rail check of the pool-width invariant: recomputes
    the exact frames _backtest_als_artifacts sizes its pool from (pre
    pairs, novel-truth eval users, pre item catalog) WITHOUT the ALS fit,
    and returns (k_pool, n_items) — raising exactly when the artifacts
    builder would. Cheap enough for the fast lane at every shipped SF."""
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

    prepare(spark, sf_dir)
    pre, post = _backtest_pre_post(spark)
    novel = post.join(pre, ["u", "i"], "left_anti")
    eval_users = (
        novel.join(pre.select("u").distinct(), "u", "left_semi")
        .select("u")
        .distinct()
    )
    n_items = pre.select("i").distinct().count()
    return _pool_sizing(pre, eval_users, n_items), int(n_items)


def _backtest_als_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized ALS-backtest artifact store, per (session, sf_dir): a SECOND
    seeded ALS fit on STRICTLY pre-cutoff interactions (the md5-split model
    in :func:`_artifacts` has seen post-cutoff pairs and would leak), plus
    the eval population, truth, and the unseen-filtered prediction pool
    shared by the census, the leaderboard, and the MMR digest.

    Leakage-safe by construction: the training frame is the pre-cutoff
    pair set and nothing else; the eval truth is the user's NOVEL
    post-cutoff items (post EXCEPT pre — rec_backtest_popularity's
    protocol, so the two models are scored on identical truth).

    Scale: the fit is MLlib ALS over the pre slice (same block shuffles as
    the production fit); serving is ``recommendForUserSubset`` over the
    eval users only (left-semi-pruned, NOT all users); the seen-item
    exclusion is one anti-join against the pre pairs; the only collects
    are two 1-row scalars (pool-width sizing + the n_items clamp)."""
    cache_key = (spark.sparkContext.applicationId, sf_dir, "backtest_als")
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    from pyspark.ml.recommendation import ALS

    pre, post = _backtest_pre_post(spark)
    pre = pre.cache()  # feeds encode x2, train, novelty anti-join, sizing
    # one quantile pass for both dictionaries (r15 opt; see _encode_bounds_pair)
    ub, ib, _ = _encode_bounds_pair(pre, "u", "i")
    users = _encode(pre, "u", "user_idx", bounds=ub)
    items = _encode(pre, "i", "item_idx", bounds=ib)
    train = (
        pre.join(users, "u").join(items, "i").withColumn("rating", F.lit(1.0))
    )
    als = ALS(
        rank=RANK,
        maxIter=MAX_ITER,
        regParam=REG,
        alpha=ALPHA,
        implicitPrefs=True,
        seed=SEED,
        userCol="user_idx",
        itemCol="item_idx",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(train)
    # truth: novel post-cutoff pairs of PRE-PRESENT users (ALS can only
    # score trained users; popularity's novel census includes cold users,
    # the leaderboard reports both populations side by side)
    novel = post.join(pre, ["u", "i"], "left_anti")
    truth = novel.join(pre.select("u").distinct(), "u", "left_semi").cache()
    eval_users = truth.select("u").distinct()
    # pool sizing: k' = MMR_POOL + max pre-items over eval users guarantees
    # >= MMR_POOL (>= TOP_K) unseen candidates per user after the seen
    # anti-join — so n_pred == TOP_K is a STRUCTURAL invariant the census
    # oracle can pin, not a hope (asserted below: the pool must FIT the
    # catalog, never silently clamp to it). Two bounded scalars collect
    # here (documented 1-row class). At 100 TB a mega-user cap replaces
    # the global max (accepting n_pred < k for capped users — the
    # census's n_pred column is computed genuinely either way).
    k_pool = _pool_sizing(pre, eval_users, items.count())
    subset = users.join(eval_users, "u", "left_semi")
    pool = _unseen_ranked_pool(model, users, items, pre, subset, k_pool).cache()
    art = {
        "model": model,
        "pre": pre,
        "truth": truth,
        "pool": pool,
        "users": users,
        "items": items,
        "train": train,
        "subset": subset,
        "k_pool": k_pool,
    }
    _CACHE[cache_key] = art
    return art


def _unseen_ranked_pool(
    model, users: DataFrame, items: DataFrame, pre: DataFrame,
    subset: DataFrame, k_pool: int,
) -> DataFrame:
    """Decode a ``recommendForUserSubset`` shelf back to natural keys,
    drop seen (pre-cutoff) items, and rank deterministically (score desc,
    item asc) — the serving tail shared by the backtest census and the
    hyperparameter grid (one subset-serve + one anti-join + a per-user
    window over <= k_pool rows)."""
    recs = model.recommendForUserSubset(subset, k_pool)
    exploded = recs.select(
        "user_idx", F.explode("recommendations").alias("rec")
    ).select(
        "user_idx",
        F.col("rec.item_idx").alias("item_idx"),
        F.col("rec.rating").alias("score"),
    )
    decoded = (
        exploded.join(F.broadcast(users), "user_idx")
        .join(F.broadcast(items), "item_idx")
        .select("u", "i", "score", "item_idx")
    )
    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("i"))
    return decoded.join(pre, ["u", "i"], "left_anti").withColumn(
        "rnk", F.row_number().over(w)
    )


def _sql_backtest_als_census() -> str:
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    novel AS (SELECT u, i FROM post EXCEPT SELECT u, i FROM pre)
    SELECT u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_novel_items,
           CAST({TOP_K} AS BIGINT) AS n_pred,
           TRUE AS novelty_ok,
           TRUE AS hits_bounded_ok
    FROM novel WHERE u IN (SELECT DISTINCT u FROM pre)
    GROUP BY u
    """


@component(
    "rec_backtest_als",
    oracle=_sql_backtest_als_census(),
    cols=[
        ("user_id", "num"),
        ("n_novel_items", "num"),
        ("n_pred", "num"),
        ("novelty_ok", "bool"),
        ("hits_bounded_ok", "bool"),
    ],
)
def rec_backtest_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL BACKTEST of the seeded ALS model itself — the learned
    fourth row of the backtest leaderboard. A second ALS (same
    hyperparameters and seed) trains on STRICTLY pre-cutoff interactions;
    each eval user's top-{TOP_K} UNSEEN recommendations (seen pre-cutoff
    items anti-joined out of a width-guaranteed pool) are scored against
    their novel post-cutoff items — rec_backtest_popularity's exact truth
    protocol, so the leaderboard's ALS-vs-popularity comparison is
    apples-to-apples.

    Census columns follow the digest convention for model-valued scores:
    the eval population and n_novel_items are SQL-exact; n_pred == {TOP_K}
    is a structural invariant of the pool sizing (computed genuinely, so a
    serving regression flips the row); the model-valued hit counts fold
    into contract flags computed from the REAL predictions — novelty_ok
    (no predicted item was seen pre-cutoff: re-derived by joining the
    emitted shelf back against the pre pairs, not assumed from the
    anti-join) and hits_bounded_ok (n_hits <= min(n_pred, n_novel_items)).
    The measured hit-rates live in rec_backtest_leaderboard + the pytest
    floor (tests/test_round12_ops.py) + COVERAGE.md's lift record.

    Scale: see :func:`_backtest_als_artifacts` — subset serving over
    left-semi-pruned eval users, one anti-join for seen exclusion, window
    partitioned on user (bounded k' rows per user)."""
    prepare(spark, sf_dir)
    art = _backtest_als_artifacts(spark, sf_dir)
    shelf = art["pool"].filter(F.col("rnk") <= TOP_K).select("u", "i")
    truth = art["truth"]
    n_novel = truth.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel_items")
    )
    n_pred = shelf.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
    hits = (
        shelf.join(truth, ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    # genuine novelty re-check: the emitted shelf joined back to pre pairs
    seen_preds = (
        shelf.join(art["pre"], ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    return (
        n_novel.join(n_pred, "u", "left")
        .join(hits, "u", "left")
        .join(seen_preds, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            "n_novel_items",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            (F.coalesce("n_seen", F.lit(0)) == 0).alias("novelty_ok"),
            (
                F.coalesce("n_hits", F.lit(0))
                <= F.least(F.coalesce("n_pred", F.lit(0)), F.col("n_novel_items"))
            ).alias("hits_bounded_ok"),
        )
    )


def _backtest_als_rates(spark: SparkSession, sf_dir: str) -> dict:
    """Measured micro hit-rates of the ALS backtest, plain and
    MMR-diversified — shared by the leaderboard component and the pytest
    floor so both read the same numbers. Returns integer micros."""
    art = _backtest_als_artifacts(spark, sf_dir)
    truth = art["truth"]
    n_users = truth.select("u").distinct().count()
    shelf = art["pool"].filter(F.col("rnk") <= TOP_K).select("u", "i")
    n_hits = shelf.join(truth, ["u", "i"], "left_semi").count()
    # MMR over the unseen pool (top MMR_POOL by score), item-factor
    # similarity from the BACKTEST model — then re-score the diversified
    # top-k against the same truth: the diversity-vs-relevance trade
    # measured on the temporal split (r11 verdict #7)
    item_factors = art["model"].itemFactors.select(
        F.col("id").alias("item_idx"), F.col("features")
    )
    cand = (
        art["pool"]
        .filter(F.col("rnk") <= MMR_POOL)
        .join(item_factors, "item_idx")
        .select(
            F.col("u").alias("user_id"),
            F.col("i").alias("item_id"),
            F.col("score").alias("relevance"),
            "features",
        )
    )
    mmr_shelf = mmr_diversify_frame(cand).select(
        F.col("user_id").alias("u"), F.col("item_id").alias("i")
    )
    n_mmr_hits = mmr_shelf.join(truth, ["u", "i"], "left_semi").count()
    denom = n_users * TOP_K
    return {
        "n_users": n_users,
        "n_hits": n_hits,
        "n_mmr_hits": n_mmr_hits,
        "rate_micro": 0 if denom == 0 else 1000000 * n_hits // denom,
        "mmr_rate_micro": 0 if denom == 0 else 1000000 * n_mmr_hits // denom,
    }


def _sql_backtest_coldstart() -> str:
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    cold AS (
      SELECT u, i FROM post
      WHERE u NOT IN (SELECT DISTINCT u FROM pre)
    ),
    topk AS (
      SELECT i FROM (
        SELECT i, COUNT(*) AS c FROM pre GROUP BY i
        ORDER BY c DESC, i LIMIT {TOP_K}
      )
    )
    SELECT u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_post_items,
           CAST(COALESCE(SUM((i IN (SELECT i FROM topk))::INT), 0) AS BIGINT)
             AS n_hits,
           CAST(1000000 * COALESCE(SUM((i IN (SELECT i FROM topk))::INT), 0)
                // {TOP_K} AS BIGINT) AS p_at_k_micro
    FROM cold GROUP BY u
    """


@component(
    "rec_backtest_coldstart",
    oracle=_sql_backtest_coldstart(),
    cols=[
        ("user_id", "num"),
        ("n_post_items", "num"),
        ("n_hits", "num"),
        ("p_at_k_micro", "num"),
    ],
)
def rec_backtest_coldstart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD-START temporal backtest — the census of the population gap
    the leaderboard reports (als_users < pop_users): users whose FIRST
    interaction lands after the cutoff have no training history, so the
    learned model cannot score them (the reference refuses them outright,
    mf_knn_recommender.py:234-242; this engine serves them the
    rec_popular_fallback shelf) — this component measures what that
    fallback is actually worth on the temporal split: per cold user,
    post-cutoff item count and hits against the train-period top-{TOP_K}
    popularity shelf. Every number is a count or integer ratio over
    deterministic joins — fully hash-exact, no model flags.

    Together the four learned/baseline rows (leaderboard) + this census
    cover BOTH serving populations: warm users get the model comparison,
    cold users get the fallback's measured hit-rate.

    Scale: the same two date-pruned fact scans as the popularity
    backtest; cold users come from one anti-join on user; scoring is a
    broadcast semi-join against the k-row shelf + one groupBy on user."""
    prepare(spark, sf_dir)
    pre, post = _backtest_pre_post(spark)
    cold = post.join(pre.select("u").distinct(), "u", "left_anti")
    shelf = (
        pre.groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("i"))
        .limit(TOP_K)
        .select("i")
    )
    hit = cold.join(F.broadcast(shelf), "i", "left_semi").select(
        "u", F.lit(1).alias("h")
    )
    per_user = (
        cold.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_post_items"))
        .join(hit.groupBy("u").agg(F.sum("h").alias("nh")), "u", "left")
    )
    return per_user.select(
        F.col("u").alias("user_id"),
        "n_post_items",
        F.coalesce("nh", F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr(f"div(1000000 * coalesce(nh, 0), {TOP_K})")
        .cast("bigint")
        .alias("p_at_k_micro"),
    )


def _sql_backtest_leaderboard() -> str:
    return f"""
    WITH pop AS ({_sql_backtest_popularity()}),
    repu AS ({_sql_backtest_repurchase()}),
    mkv AS ({_sql_backtest_markov()}),
    als AS ({_sql_backtest_als_census()}),
    pre_users AS (
      SELECT DISTINCT o_custkey AS u
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    )
    SELECT
      CAST((SELECT COUNT(*) FROM pop) AS BIGINT) AS pop_users,
      CAST((SELECT SUM(n_novel_items) FROM pop) AS BIGINT) AS pop_truth,
      CAST((SELECT SUM(n_hits) FROM pop) AS BIGINT) AS pop_hits,
      CAST((SELECT COUNT(*) FROM pop
            WHERE user_id IN (SELECT u FROM pre_users)) AS BIGINT)
        AS pop_warm_users,
      CAST((SELECT COALESCE(SUM(n_hits), 0) FROM pop
            WHERE user_id IN (SELECT u FROM pre_users)) AS BIGINT)
        AS pop_warm_hits,
      CAST((SELECT COUNT(*) FROM repu) AS BIGINT) AS repu_users,
      CAST((SELECT SUM(n_post_items) FROM repu) AS BIGINT) AS repu_truth,
      CAST((SELECT SUM(n_hits) FROM repu) AS BIGINT) AS repu_hits,
      CAST((SELECT COUNT(*) FROM mkv) AS BIGINT) AS mkv_users,
      CAST((SELECT SUM(n_next_items) FROM mkv) AS BIGINT) AS mkv_truth,
      CAST((SELECT SUM(n_pred) FROM mkv) AS BIGINT) AS mkv_pred,
      CAST((SELECT SUM(n_hits) FROM mkv) AS BIGINT) AS mkv_hits,
      CAST((SELECT COUNT(*) FROM als) AS BIGINT) AS als_users,
      CAST((SELECT SUM(n_novel_items) FROM als) AS BIGINT) AS als_truth,
      TRUE AS als_rate_floor_met,
      TRUE AS als_mmr_rate_floor_met
    """


@component(
    "rec_backtest_leaderboard",
    oracle=_sql_backtest_leaderboard(),
    cols=[
        ("pop_users", "num"),
        ("pop_truth", "num"),
        ("pop_hits", "num"),
        ("pop_warm_users", "num"),
        ("pop_warm_hits", "num"),
        ("repu_users", "num"),
        ("repu_truth", "num"),
        ("repu_hits", "num"),
        ("mkv_users", "num"),
        ("mkv_truth", "num"),
        ("mkv_pred", "num"),
        ("mkv_hits", "num"),
        ("als_users", "num"),
        ("als_truth", "num"),
        ("als_rate_floor_met", "bool"),
        ("als_mmr_rate_floor_met", "bool"),
    ],
)
def rec_backtest_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BACKTEST LEADERBOARD: one row comparing all four models on the
    temporal cutoff — popularity (non-personal), repurchase
    (personal-static), Markov (personal-sequential), ALS (learned). The
    three baselines' eval-population / truth / hit totals are SQL-exact
    aggregates of their census components (each model keeps its own
    protocol: popularity and ALS share the novel-items truth —
    apples-to-apples — repurchase counts re-buys, Markov scores the
    cutoff-crossing basket). The ALS hit totals are model-valued and
    follow the digest convention: floor flags computed from the genuinely
    measured micro hit-rates (plain and MMR-diversified shelves), with
    the measured rates + lift-vs-popularity recorded in COVERAGE.md and
    pinned by pytest floors (tests/test_round12_ops.py). The floor's
    popularity denominator is the WARM population (pop_warm_* columns:
    novel-truth users present pre-cutoff — ALS's exact eval population),
    so the flag compares the two models on identical users; the
    full-population popularity numbers (which include cold users only
    the baseline can serve) stay reported side by side (r12 ADVICE).

    Scale: the baseline aggregates reuse their components' postures;
    ALS numbers come from the memoized backtest artifacts (one extra
    subset-serve, no refit); everything emitted here is a 1-row scalar
    frame (documented bounded crossJoin class)."""
    prepare(spark, sf_dir)
    art = _backtest_als_artifacts(spark, sf_dir)
    pop_census = rec_backtest_popularity(spark, sf_dir).localCheckpoint(
        eager=True
    )  # two consumers (full + warm aggregates); one user-grain frame
    pop = pop_census.agg(
        F.count(F.lit(1)).cast("bigint").alias("pop_users"),
        F.sum("n_novel_items").cast("bigint").alias("pop_truth"),
        F.sum("n_hits").cast("bigint").alias("pop_hits"),
    )
    # popularity restricted to the ALS-eval population (pre-present users)
    # — the SAME denominator as the learned model, so the floor compares
    # like with like (r12 ADVICE: the full-population rate includes cold
    # users the model never scores, confounding the lift)
    warm_users = art["pre"].select(F.col("u").alias("user_id")).distinct()
    pop_warm = pop_census.join(warm_users, "user_id", "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("pop_warm_users"),
        F.coalesce(F.sum("n_hits"), F.lit(0))
        .cast("bigint")
        .alias("pop_warm_hits"),
    )
    repu = rec_backtest_repurchase(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("repu_users"),
        F.sum("n_post_items").cast("bigint").alias("repu_truth"),
        F.sum("n_hits").cast("bigint").alias("repu_hits"),
    )
    mkv = rec_backtest_markov(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("mkv_users"),
        F.sum("n_next_items").cast("bigint").alias("mkv_truth"),
        F.sum("n_pred").cast("bigint").alias("mkv_pred"),
        F.sum("n_hits").cast("bigint").alias("mkv_hits"),
    )
    rates = _backtest_als_rates(spark, sf_dir)
    # the floor's denominator: popularity's micro rate ON THE WARM
    # POPULATION — identical eval users to ALS, so lift is not confounded
    # by cold users only the baseline serves (1-row collect, documented
    # bounded class); the full-population rate stays reported separately
    # in pop_users/pop_hits
    pw = pop_warm.first()
    pop_rate = (
        0
        if pw.pop_warm_users == 0
        else 1000000 * pw.pop_warm_hits // (pw.pop_warm_users * TOP_K)
    )
    floor = pop_rate * BACKTEST_ALS_LIFT_FLOOR_PCT  # both sides ×100
    truth = art["truth"]
    als = truth.agg(
        F.countDistinct("u").cast("bigint").alias("als_users"),
        F.count(F.lit(1)).cast("bigint").alias("als_truth"),
    ).select(
        "als_users",
        "als_truth",
        F.lit(rates["rate_micro"] * 100 >= floor).alias("als_rate_floor_met"),
        F.lit(rates["mmr_rate_micro"] * 100 >= floor).alias(
            "als_mmr_rate_floor_met"
        ),
    )
    return pop.crossJoin(pop_warm).crossJoin(repu).crossJoin(mkv).crossJoin(als)


#: Hyperparameter sensitivity grid on the temporal split (r12 verdict #3):
#: the shipped config first (the leaderboard's row), then the sweep. The
#: sf0.1 leaderboard recorded lift-vs-popularity 0.947 — the learned model
#: LOSING to popularity at the largest SF, explained as "TPC-H baskets are
#: near-random". MEASURED ANSWER (round 13, warm-population lift, full
#: table in COVERAGE.md): the explanation was wrong — rank 150 beats
#: popularity at EVERY SF (reg 0.1: 1.19/1.05/1.25 at sf0.001/0.01/0.1;
#: reg 0.01 peaks at 1.30 at sf0.1) — the rank-16 model was
#: capacity-starved as the catalog grew. Rank 16 stays the shipped
#: default (~10x fewer factor parameters; the serving-cost half is now
#: MEASURED, not asserted — see the RANK constant's note, round 14);
#: this grid is the recorded evidence for that trade. reg is carried as
#: integer milli-units (0.01 -> 10) so every emitted column stays
#: hash-exact.
BACKTEST_GRID: tuple[tuple[int, float], ...] = (
    (RANK, REG),  # shipped config (16, 0.1)
    (32, 0.01),
    (32, 0.1),
    (100, 0.01),
    (100, 0.1),
    (150, 0.01),
    (150, 0.1),
)


def _backtest_grid_rates(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Measured per-config micro hit-rates of the grid — memoized per
    (session, sf_dir) so the component, the pytest floor, and a COVERAGE
    record never refit. Each config is a full seeded ALS fit on the SAME
    strictly-pre-cutoff training frame and is served/scored through the
    SAME tail as the census (:func:`_unseen_ranked_pool` + the novel
    truth), so rate differences are attributable to the hyperparameters
    alone."""
    from pyspark.ml.recommendation import ALS

    cache_key = (spark.sparkContext.applicationId, sf_dir, "backtest_grid")
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    art = _backtest_als_artifacts(spark, sf_dir)
    truth = art["truth"]
    n_users = truth.select("u").distinct().count()
    n_truth = truth.count()
    denom = n_users * TOP_K
    rows: list[dict] = []
    for r, reg in BACKTEST_GRID:
        model = ALS(
            rank=r,
            maxIter=MAX_ITER,
            regParam=reg,
            alpha=ALPHA,
            implicitPrefs=True,
            seed=SEED,
            userCol="user_idx",
            itemCol="item_idx",
            ratingCol="rating",
            coldStartStrategy="drop",
        ).fit(art["train"])
        shelf = (
            _unseen_ranked_pool(
                model, art["users"], art["items"], art["pre"],
                art["subset"], art["k_pool"],
            )
            .filter(F.col("rnk") <= TOP_K)
            .select("u", "i")
        )
        n_hits = shelf.join(truth, ["u", "i"], "left_semi").count()
        rows.append(
            {
                "als_rank": r,
                "reg_milli": int(round(reg * 1000)),
                "n_users": n_users,
                "n_truth": n_truth,
                "n_hits": n_hits,
                "rate_micro": 0 if denom == 0 else 1000000 * n_hits // denom,
            }
        )
    _CACHE[cache_key] = rows
    return rows


def _sql_backtest_als_grid() -> str:
    grid_values = ", ".join(
        f"({r}, {int(round(reg * 1000))})" for r, reg in BACKTEST_GRID
    )
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    novel AS (SELECT u, i FROM post EXCEPT SELECT u, i FROM pre),
    truth AS (SELECT u, i FROM novel WHERE u IN (SELECT DISTINCT u FROM pre)),
    scalars AS (
      SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM truth
    )
    SELECT CAST(g.als_rank AS BIGINT) AS als_rank,
           CAST(g.reg_milli AS BIGINT) AS reg_milli,
           s.n_users, s.n_truth,
           TRUE AS rate_bounded_ok,
           TRUE AS hits_bounded_ok
    FROM (VALUES {grid_values}) AS g(als_rank, reg_milli)
    CROSS JOIN scalars s
    """


@component(
    "rec_backtest_als_grid",
    oracle=_sql_backtest_als_grid(),
    cols=[
        ("als_rank", "num"),
        ("reg_milli", "num"),
        ("n_users", "num"),
        ("n_truth", "num"),
        ("rate_bounded_ok", "bool"),
        ("hits_bounded_ok", "bool"),
    ],
)
def rec_backtest_als_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERPARAMETER SENSITIVITY of the temporal ALS backtest — one row
    per (rank, regParam) config: the shipped config plus a rank
    {32,100,150} x reg {0.01,0.1} sweep, every config trained on the
    identical strictly-pre-cutoff frame and scored on the identical
    novel-truth protocol (so the recorded rate differences isolate the
    hyperparameters). Census columns follow the digest convention for
    model-valued scores: config and eval population are SQL-exact; the
    measured hit counts fold into flags computed from the REAL per-config
    shelves — rate_bounded_ok (0 <= rate <= 1e6) and hits_bounded_ok
    (n_hits <= min(n_users * k, n_truth)); the measured per-config rates
    are recorded in COVERAGE.md and floored in pytest
    (tests/test_round13_ops.py). Reference: mf_knn_recommender.py
    hardcodes its factor count — this grid is the tuning record the
    reference never kept.

    Scale: one ALS fit per config over the pre slice (the same MLlib
    block shuffles as the production fit, grid-bounded count of them);
    serving/scoring reuses the census tail — subset-serve over
    left-semi-pruned eval users, one anti-join, one semi-join count per
    config. The only collects are the memoized artifacts' two sizing
    scalars plus one bounded count per config."""
    prepare(spark, sf_dir)
    rows = _backtest_grid_rates(spark, sf_dir)
    return spark.createDataFrame(
        [
            (
                r["als_rank"],
                r["reg_milli"],
                r["n_users"],
                r["n_truth"],
                0 <= r["rate_micro"] <= 1000000,
                r["n_hits"] <= min(r["n_users"] * TOP_K, r["n_truth"]),
            )
            for r in rows
        ],
        schema="als_rank bigint, reg_milli bigint, n_users bigint, "
        "n_truth bigint, rate_bounded_ok boolean, hits_bounded_ok boolean",
    )


def _pop_user_candidates(art: dict) -> DataFrame:
    """Per-eval-user popularity candidates, seen-filtered (the blend keeps
    the ALS census's novelty discipline on BOTH arms). Train-period
    popularity shelf with ranks: global top-k via map-side partials + a
    tiny sort, then a k-row window (never a corpus window); per-user
    fan-out is eval_users x k rows — the documented bounded factor-serve
    cartesian class."""
    eval_users = art["truth"].select("u").distinct()
    top = (
        art["pre"]
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("i"))
        .limit(TOP_K)
    )
    pop_shelf = top.withColumn(
        "p_rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("i")))
    ).select("i", "p_rnk")
    return (
        eval_users.crossJoin(F.broadcast(pop_shelf))
        .select("u", "i", "p_rnk")
        .join(art["pre"], ["u", "i"], "left_anti")
    )


def _blend_shelf(als_pool: DataFrame, pop_user: DataFrame, rrf_c: int) -> DataFrame:
    """RRF fusion core shared by the shipped blend row and the r14 blend
    sensitivity grid: fuse the ALS unseen pool with the popularity
    candidates by reciprocal rank (rank fusion, never score mixing) and
    keep the per-user top-{TOP_K}. Fusion is a per-user full-outer over
    <= k_pool + k rows."""
    als_ranked = als_pool.select("u", "i", F.col("rnk").alias("a_rnk"))
    fused = als_ranked.join(pop_user, ["u", "i"], "full_outer")
    rrf = F.coalesce(
        F.expr(f"div(1000000, {rrf_c} + a_rnk)"), F.lit(0)
    ) + F.coalesce(F.expr(f"div(1000000, {rrf_c} + p_rnk)"), F.lit(0))
    w = Window.partitionBy("u").orderBy(F.desc("rrf_micro"), F.asc("i"))
    return (
        fused.withColumn("rrf_micro", rrf.cast("bigint"))
        .withColumn("b_rnk", F.row_number().over(w))
        .filter(F.col("b_rnk") <= TOP_K)
        .select("u", "i")
    )


def _backtest_blend_rates(spark: SparkSession, sf_dir: str) -> dict:
    """Measured micro hit-rate of the RRF BLEND shelf — ALS x popularity
    fused on ranks (RRF_C smoothing, the rec_rrf_hybrid convention) over
    the temporal protocol; memoized per (session, sf_dir). The blend is
    the production-realistic serving strategy the leaderboard's four
    single-model rows frame: fuse the personalized ranker with the
    non-personal prior instead of picking one."""
    cache_key = (spark.sparkContext.applicationId, sf_dir, "backtest_blend")
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    art = _backtest_als_artifacts(spark, sf_dir)
    truth = art["truth"]
    eval_users = truth.select("u").distinct()
    pop_user = _pop_user_candidates(art)
    shelf = _blend_shelf(art["pool"], pop_user, RRF_C).localCheckpoint(
        eager=True
    )  # users x k rows; census + rate reader
    n_users = eval_users.count()
    n_hits = shelf.join(truth, ["u", "i"], "left_semi").count()
    denom = n_users * TOP_K
    out = {
        "shelf": shelf,
        "n_users": n_users,
        "n_hits": n_hits,
        "rate_micro": 0 if denom == 0 else 1000000 * n_hits // denom,
    }
    _CACHE[cache_key] = out
    return out


@component(
    "rec_backtest_blend",
    oracle=_sql_backtest_als_census(),  # identical protocol => same SQL half
    cols=[
        ("user_id", "num"),
        ("n_novel_items", "num"),
        ("n_pred", "num"),
        ("novelty_ok", "bool"),
        ("hits_bounded_ok", "bool"),
    ],
)
def rec_backtest_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FIFTH LEADERBOARD ROW — RRF blend of the learned ranker and the
    popularity prior on the temporal split: per warm eval user, the ALS
    unseen pool and the (seen-filtered) train-period popularity shelf
    fuse by reciprocal rank (RRF_C = 60, rank fusion never score mixing —
    the rec_rrf_hybrid / sim_hybrid_rrf discipline), and the fused
    top-{TOP_K} is scored against the SAME novel truth as every other
    row. This is how the serving capstone's fallback question resolves in
    production: blend, don't switch. Census shape and oracle are the ALS
    census's verbatim (identical protocol; n_pred == k stays structural
    because the ALS arm alone guarantees >= k unseen candidates); the
    measured blend rate is recorded in COVERAGE.md + floored in pytest.

    Scale: the popularity arm is a broadcast k-row cartesian per eval
    user (bounded class); fusion is a per-user full-outer over <= k_pool
    + k rows; everything downstream reuses the census joins."""
    prepare(spark, sf_dir)
    art = _backtest_als_artifacts(spark, sf_dir)
    shelf = _backtest_blend_rates(spark, sf_dir)["shelf"]
    truth = art["truth"]
    n_novel = truth.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel_items")
    )
    n_pred = shelf.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    hits = (
        shelf.join(truth, ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    seen_preds = (
        shelf.join(art["pre"], ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    return (
        n_novel.join(n_pred, "u", "left")
        .join(hits, "u", "left")
        .join(seen_preds, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            "n_novel_items",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            (F.coalesce("n_seen", F.lit(0)) == 0).alias("novelty_ok"),
            (
                F.coalesce("n_hits", F.lit(0))
                <= F.least(F.coalesce("n_pred", F.lit(0)), F.col("n_novel_items"))
            ).alias("hits_bounded_ok"),
        )
    )


#: The grid's winner (r13, COVERAGE round 13): rank 150 beats popularity at
#: every SF, with reg 0.01 peaking at sf0.1 (warm lift 1.30). Round 14
#: promotes it to a first-class leaderboard row + a serving-cost bench twin
#: so the shipped rank-16 default is justified by TWO recorded numbers
#: (quality AND serving seconds), not an asserted "serving cost scales with
#: rank" (r13 verdict #4).
RANK150 = 150
RANK150_REG = 0.01


def _backtest_rank150_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized rank-150 twin of the backtest artifacts: same strictly
    pre-cutoff training frame, same dictionaries, same pool tail — only
    the factor rank (and the grid-winning reg) differ, so every number
    derived from it is attributable to capacity alone. Shared by the
    rank-150 leaderboard row and the blend sensitivity grid's 150 arm
    (ONE extra fit per session/sf)."""
    cache_key = (spark.sparkContext.applicationId, sf_dir, "backtest_rank150")
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    from pyspark.ml.recommendation import ALS

    art = _backtest_als_artifacts(spark, sf_dir)
    model = ALS(
        rank=RANK150,
        maxIter=MAX_ITER,
        regParam=RANK150_REG,
        alpha=ALPHA,
        implicitPrefs=True,
        seed=SEED,
        userCol="user_idx",
        itemCol="item_idx",
        ratingCol="rating",
        coldStartStrategy="drop",
    ).fit(art["train"])
    pool = _unseen_ranked_pool(
        model, art["users"], art["items"], art["pre"], art["subset"], art["k_pool"]
    ).cache()
    shelf = (
        pool.filter(F.col("rnk") <= TOP_K)
        .select("u", "i")
        .localCheckpoint(eager=True)  # users x k rows; census + rate readers
    )
    truth = art["truth"]
    n_users = truth.select("u").distinct().count()
    n_hits = shelf.join(truth, ["u", "i"], "left_semi").count()
    denom = n_users * TOP_K
    out = {
        "model": model,
        "pool": pool,
        "shelf": shelf,
        "n_users": n_users,
        "n_hits": n_hits,
        "rate_micro": 0 if denom == 0 else 1000000 * n_hits // denom,
    }
    _CACHE[cache_key] = out
    return out


@component(
    "rec_backtest_rank150",
    oracle=_sql_backtest_als_census(),  # identical protocol => same SQL half
    cols=[
        ("user_id", "num"),
        ("n_novel_items", "num"),
        ("n_pred", "num"),
        ("novelty_ok", "bool"),
        ("hits_bounded_ok", "bool"),
    ],
)
def rec_backtest_rank150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SIXTH LEADERBOARD ROW — the grid-winning rank-150 ALS
    (reg {RANK150_REG}) promoted from a grid cell to a first-class census
    on the identical temporal protocol (r13 verdict #4): same training
    frame, same novel truth, same unseen-pool tail as the shipped rank-16
    row, so the rate difference is pure model capacity. The measured rate
    and its warm-popularity lift are recorded in COVERAGE.md and floored
    in pytest (tests/test_round14_ops.py); the serving-cost half of the
    trade is recorded at the RANK constant.

    Census shape and oracle are the ALS census's verbatim (n_pred == k
    stays structural: the pool tail guarantees >= k unseen candidates).

    Scale: one extra grid-bounded ALS fit per session (memoized); the
    census tail reuses the rank-16 row's joins."""
    prepare(spark, sf_dir)
    art = _backtest_als_artifacts(spark, sf_dir)
    shelf = _backtest_rank150_artifacts(spark, sf_dir)["shelf"]
    truth = art["truth"]
    n_novel = truth.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel_items")
    )
    n_pred = shelf.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    hits = (
        shelf.join(truth, ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    seen_preds = (
        shelf.join(art["pre"], ["u", "i"], "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    return (
        n_novel.join(n_pred, "u", "left")
        .join(hits, "u", "left")
        .join(seen_preds, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            "n_novel_items",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            (F.coalesce("n_seen", F.lit(0)) == 0).alias("novelty_ok"),
            (
                F.coalesce("n_hits", F.lit(0))
                <= F.least(F.coalesce("n_pred", F.lit(0)), F.col("n_novel_items"))
            ).alias("hits_bounded_ok"),
        )
    )


#: Blend sensitivity grid (r13 verdict #5): the shipped blend (rank 16,
#: RRF_C 60) beat both arms at sf0.001/0.01 but landed BETWEEN them at
#: sf0.1 with RRF_C fixed — this grid sweeps the smoothing constant and the
#: rank-150 arm through the identical protocol (the ALS grid convention) to
#: answer whether a tuned blend closes the sf0.1 gap. Measured rates in
#: COVERAGE.md, floors in pytest.
BLEND_GRID: tuple[tuple[int, int], ...] = (
    (RANK, 10),
    (RANK, 60),  # shipped config
    (RANK, 240),
    (RANK150, 10),
    (RANK150, 60),
    (RANK150, 240),
)


def _backtest_blend_grid_rates(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Measured per-config micro hit-rates of the blend grid — memoized
    per (session, sf_dir). Both ALS pools come from the memoized artifact
    stores (zero extra fits beyond the rank-150 twin); the popularity
    candidates are built once and localCheckpointed for the six fusions."""
    cache_key = (spark.sparkContext.applicationId, sf_dir, "backtest_blend_grid")
    if cache_key in _CACHE:
        return _CACHE[cache_key]
    art = _backtest_als_artifacts(spark, sf_dir)
    truth = art["truth"]
    pop_user = _pop_user_candidates(art).localCheckpoint(
        eager=True
    )  # eval_users x <= k rows, reused by every grid cell
    pools = {
        RANK: art["pool"],
        RANK150: _backtest_rank150_artifacts(spark, sf_dir)["pool"],
    }
    n_users = truth.select("u").distinct().count()
    n_truth = truth.count()
    denom = n_users * TOP_K
    rows: list[dict] = []
    for rank, c in BLEND_GRID:
        shelf = _blend_shelf(pools[rank], pop_user, c)
        n_hits = shelf.join(truth, ["u", "i"], "left_semi").count()
        rows.append(
            {
                "als_rank": rank,
                "rrf_c": c,
                "n_users": n_users,
                "n_truth": n_truth,
                "n_hits": n_hits,
                "rate_micro": 0 if denom == 0 else 1000000 * n_hits // denom,
            }
        )
    _CACHE[cache_key] = rows
    return rows


def _sql_backtest_blend_grid() -> str:
    grid_values = ", ".join(f"({r}, {c})" for r, c in BLEND_GRID)
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    novel AS (SELECT u, i FROM post EXCEPT SELECT u, i FROM pre),
    truth AS (SELECT u, i FROM novel WHERE u IN (SELECT DISTINCT u FROM pre)),
    scalars AS (
      SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM truth
    )
    SELECT CAST(g.als_rank AS BIGINT) AS als_rank,
           CAST(g.rrf_c AS BIGINT) AS rrf_c,
           s.n_users, s.n_truth,
           TRUE AS rate_bounded_ok,
           TRUE AS hits_bounded_ok
    FROM (VALUES {grid_values}) AS g(als_rank, rrf_c)
    CROSS JOIN scalars s
    """


@component(
    "rec_backtest_blend_grid",
    oracle=_sql_backtest_blend_grid(),
    cols=[
        ("als_rank", "num"),
        ("rrf_c", "num"),
        ("n_users", "num"),
        ("n_truth", "num"),
        ("rate_bounded_ok", "bool"),
        ("hits_bounded_ok", "bool"),
    ],
)
def rec_backtest_blend_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEND SENSITIVITY on the temporal split (r13 verdict #5) — one row
    per (als_rank, RRF_C) config: the shipped blend plus RRF_C in
    {{10, 60, 240}} crossed with both the shipped rank-16 pool and the
    grid-winning rank-150 pool, every cell fused and scored through the
    identical protocol so rate differences isolate the smoothing constant
    and the arm capacity. Follows the ALS grid's census convention:
    config + eval population SQL-exact, measured hit counts folded into
    genuinely-computed bound flags, the rates themselves recorded in
    COVERAGE.md + floored in pytest (tests/test_round14_ops.py).

    Scale: zero extra fits (both pools are memoized artifacts); the
    popularity candidates build once (eval_users x k broadcast class) and
    each cell is one per-user bounded fusion window + one semi-join
    count."""
    prepare(spark, sf_dir)
    rows = _backtest_blend_grid_rates(spark, sf_dir)
    return spark.createDataFrame(
        [
            (
                r["als_rank"],
                r["rrf_c"],
                r["n_users"],
                r["n_truth"],
                0 <= r["rate_micro"] <= 1000000,
                r["n_hits"] <= min(r["n_users"] * TOP_K, r["n_truth"]),
            )
            for r in rows
        ],
        schema="als_rank bigint, rrf_c bigint, n_users bigint, "
        "n_truth bigint, rate_bounded_ok boolean, hits_bounded_ok boolean",
    )
