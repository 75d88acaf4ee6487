"""CLI serving entry point — the Spark analog of the reference's
``use_model.py`` (reference: use_model.py:24-54: load-or-train, then
recommend / diversify / batch-recommend for a user). A user of the
reference switches their serving invocation to:

    python scripts/recommend_user.py --user 370 [--top-k 10] [--diversify]
    python scripts/recommend_user.py --user 370 --fold-in      # unseen users too
    python scripts/recommend_user.py --batch-all [--top-k 10]  # batch_recommend

Where the reference REFUSES users absent from training
(mf_knn_recommender.py:234-242 returns an apology string), ``--fold-in``
serves them through the implicit-ALS fold-in path (any order history the
user has accumulated since training folds into a factor on the fly), and
users whose history yields no servable score — or no history at all —
fall back to the popularity shelf: this entry point never returns an
empty answer.

The trained model is memoized per (session, sf_dir) by the recommend
package, so repeated invocations inside one driver process train once —
the analog of the reference's joblib load-or-train.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Serve product recommendations")
    ap.add_argument("--user", type=int, help="customer key to serve")
    ap.add_argument("--top-k", type=int, default=10)
    ap.add_argument(
        "--diversify", action="store_true", help="MMR re-rank (reference default pipeline)"
    )
    ap.add_argument(
        "--fold-in",
        action="store_true",
        help="serve users absent from training via fold-in instead of refusing",
    )
    ap.add_argument("--batch-all", action="store_true", help="recommend for every user")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    args = ap.parse_args(argv)
    if args.user is None and not args.batch_all:
        ap.error("--user or --batch-all required")

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
    from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark

    spark = get_spark()
    sf = args.sf_dir
    # the MMR pipeline re-ranks the tuned TOP_K list; a larger request
    # can't widen it without retuning the pool, so say so instead of
    # silently under-delivering
    if args.diversify and args.top_k > rq.TOP_K:
        print(f"# note: --diversify serves at most the tuned k={rq.TOP_K}")

    def shelf() -> int:
        rq.rec_popular_fallback(spark, sf).show(args.top_k, truncate=False)
        return 0

    if args.batch_all:
        if args.diversify:
            df = (
                rq.mmr_rerank(spark, sf)
                .filter(F.col("mmr_rank") <= args.top_k)
                .orderBy("user_id", "mmr_rank")
            )
        else:
            df = rq._topk_recs(spark, sf, k=args.top_k).orderBy("user_id", "rnk")
        df.show(5 * args.top_k, truncate=False)
        return 0

    if args.diversify:
        served = (
            rq.mmr_rerank(spark, sf)
            .filter((F.col("user_id") == args.user) & (F.col("mmr_rank") <= args.top_k))
            .orderBy("mmr_rank")
            .cache()  # emptiness probe + display share one execution
        )
    else:
        # a local frame: caching it buys nothing, and would make later
        # identical serve_user frames read the cache through a Spark job
        served = rq.serve_user(spark, sf, args.user, k=args.top_k)
    if served.count() == 0:
        if not args.fold_in:
            print(
                f"# user {args.user} was not in the training set "
                "(rerun with --fold-in to serve anyway)"
            )
            return 1
        # user unseen at training time: solve a factor from whatever
        # interactions exist now; if that yields nothing servable (no
        # history, or history only over untrained items), popularity shelf
        rq.prepare(spark, sf)
        art = rq._artifacts(spark, sf)
        history = (
            rq.interactions(spark)
            .filter(F.col("user_id") == args.user)
            .join(art["items"], "item_id")
            .select(F.lit(-1).alias("user_idx"), "item_idx")
            .cache()
        )
        if history.count() == 0:
            print(f"# user {args.user}: no trained-item history — popularity shelf")
            return shelf()
        folded = rq.rec_fold_in_user_factors(spark, sf, interactions_df=history).collect()
        # score the folded factor with the serving kernel against the
        # model's driver-resident item side
        st = rq._serving_state(art)
        U = np.array([r.features for r in folded], dtype=np.float32).reshape(-1, st["V"].shape[1])
        pos, score = rq._topk_kernel(U[:1], st["V"], args.top_k)
        if pos.size == 0:
            print(f"# user {args.user}: fold-in yielded no scores — popularity shelf")
            return shelf()
        print(f"# user {args.user}: served via fold-in")
        scored = pa.table(
            {
                "item_id": pa.array(st["item_ids"][pos[0]], type=pa.int64()),
                "score": pa.array(score[0], type=pa.float32()),
            }
        )
        spark.createDataFrame(scored).show(args.top_k, truncate=False)
        return 0
    print(f"# user {args.user}: top-{args.top_k}")
    served.show(args.top_k, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
