"""Physical-plan assertions: the 100 TB posture claims, checked in CI.

These pin the *plan shape*, not results: filter pushdown into the parquet
scan, bucketed joins running without a shuffle, salted joins matching the
plain join row-for-row.
"""

from __future__ import annotations

import re
import shutil
import tempfile

from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import salted_join
from tests.conftest import SF0001


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_EXCHANGE_TOKENS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
)


def _node_depth(line: str) -> int:
    """Column where the node name starts (past the `: +- ` tree art)."""
    for i, ch in enumerate(line):
        if ch not in " :+-":
            return i
    return len(line)


def _shuffle_count(plan: str) -> int:
    """EXECUTED shuffle exchanges in a plan string.

    A plain substring count over-reports cached plans: every
    InMemoryTableScan re-prints its InMemoryRelation's full build subtree,
    but the build (and its exchanges) executes ONCE — the other scans read
    memory. Count each distinct cached relation's subtree once (keyed on
    the relation header with expr-ids stripped) and skip re-prints, so a
    cache() materialization isn't billed per consumer.
    """
    lines = plan.splitlines()
    total = sum(line.count(t) for t in _EXCHANGE_TOKENS for line in lines)
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            d = _node_depth(line)
            j = i + 1
            while j < len(lines) and _node_depth(lines[j]) > d:
                j += 1
            key = re.sub(r"#\d+", "", line[line.index("InMemoryRelation"):])
            if key in seen:
                sub = lines[i:j]
                total -= sum(l.count(t) for t in _EXCHANGE_TOKENS for l in sub)
            else:
                seen.add(key)
            i = j
        else:
            i += 1
    return total


def test_filter_pushes_into_parquet_scan(spark):
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import load_table

    df = load_table(spark, SF0001, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema


def test_bucketed_join_has_no_shuffle(spark):
    tmp = tempfile.mkdtemp(prefix="ecomdw_test_bkt_")
    try:
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        for name in ("bkt_a", "bkt_b"):
            (
                df.write.bucketBy(4, "k")
                .sortBy("k")
                .option("path", f"{tmp}/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )
        a, b = spark.table("bkt_a"), spark.table("bkt_b")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.k == b.k)
            assert joined.count() == 1000
            plan = _plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")
        shutil.rmtree(tmp, ignore_errors=True)


def test_q1_single_shuffle(spark):
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.queries()["q1_pricing_summary"](spark, SF0001)
    plan = _plan(df)
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffles == 1, f"q1 must shuffle exactly once, got {n_shuffles}"
    assert "Exchange SinglePartition" not in plan


def test_salted_join_matches_plain_join(spark):
    fact = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(100)], schema="k int, x double"
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], schema="k int, name string")
    plain = sorted(map(tuple, fact.join(dim, "k").collect()))
    salted = sorted(map(tuple, salted_join(fact, dim, "k", n_salts=4).collect()))
    assert salted == plain


def test_q3_dims_broadcast_fact_shuffles_once(spark):
    """The flagship star join: nation/region ride broadcast joins; the only
    hash exchanges are the fact-side orderkey join + the final agg."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.queries()["q3_revenue_by_region"](spark, SF0001)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, "nation/region must broadcast"


def test_lang_id_lexicon_broadcasts(spark):
    """The language-ID marker lexicon must never shuffle the exploded
    token stream — broadcast join only."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.queries()["text_lang_id"](spark, SF0001)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_tfidf_vocab_join_broadcasts(spark):
    """tf-idf's document-frequency table is vocabulary-sized (bounded) and
    must broadcast against the per-doc term frequencies."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_tfidf_topterms,
    )

    plan = _plan(text_tfidf_topterms(spark, SF0001))
    assert "BroadcastHashJoin" in plan


def test_partitioned_fact_gets_partition_pruning(spark):
    """The ETL fact is written partitioned by order_year; a year predicate
    must prune partitions at planning time (PartitionFilters), not scan
    all years and filter rows."""
    tmp = tempfile.mkdtemp(prefix="ecomdw_test_prune_")
    try:
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 4 + 2020).alias("order_year")
        )
        df.write.mode("overwrite").partitionBy("order_year").parquet(tmp)
        read = spark.read.parquet(tmp).filter(F.col("order_year") == 2021)
        plan = read._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "order_year" in pf[0], "year predicate must reach PartitionFilters"
        assert read.count() == 250
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_heavy_hitters_topk_without_global_window(spark):
    """a14: top-K must compile to TakeOrderedAndProject (per-partition
    top-K, driver merge) — never a global sort or window — and the share
    denominator must not add a second hash shuffle on the key."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.components()["a14_heavy_hitters"].fn(spark, SF0001)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected the per-key count shuffle only, got {n}"


def test_rfm_scores_without_ntile_sort(spark):
    """rfm_segments: quintile scores come from broadcast percentile
    thresholds + map-side CASE — no NTILE, which would be a
    single-partition total-order WindowExec over all customers."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.components()["rfm_segments"].fn(spark, SF0001)
    plan = _plan(df)
    assert "Window" not in plan, "RFM scoring regressed to a global-sort window"
    assert "BroadcastExchange" in plan, "percentile bounds must broadcast"


def test_mixture_upsample_explodes_map_side(spark):
    """text_mixture_upsample: the epoch fan-out must be a map-side
    Generate(explode) with exactly ONE aggregation shuffle after it (no
    countDistinct expand shuffle)."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    df = registry.components()["text_mixture_upsample"].fn(spark, SF0001)
    plan = _plan(df)
    assert "Generate explode" in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected one source-keyed shuffle, got {n}"


def test_domain_cap_pretruncates_before_shuffle(spark):
    """The small-domain path must move at most K rows per domain per
    upstream task through the shuffle: Catalyst's rank-limit pushdown plans
    a map-side WindowGroupLimit BEFORE the exchange (the automatic
    two-phase cap). If a refactor loses the pushdown (e.g. by adding a
    filter the optimizer can't see through), the full corpus crosses the
    wire."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        _domain_cap_windowed,
        prepare,
    )

    prepare(spark, SF0001)
    plan = _plan(_domain_cap_windowed(spark.table("documents")))
    # plan text is printed ROOT-FIRST: the map-side (upstream) partial
    # WindowGroupLimit appears BELOW the exchange line, i.e. in `post`
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert post, f"expected a hash shuffle on the domain key:\n{plan}"
    assert "WindowGroupLimit" in post, (
        f"no map-side WindowGroupLimit upstream of the exchange — the domain "
        f"cap is shuffling the full corpus:\n{plan}"
    )


def test_domain_cap_mega_path_never_windows_full_domain(spark):
    """The mega-domain path must never run a per-domain window over the raw
    corpus: phase 1 windows partition on (source, _salt) — the mega domain
    spreads across DOMAIN_CAP_SALTS sub-windows — and the only
    source-partitioned window sits ABOVE the salted one, consuming its
    ≤ K·SALTS-per-domain candidate output."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        _domain_cap_two_phase,
        prepare,
    )

    prepare(spark, SF0001)
    plan = _plan(_domain_cap_two_phase(spark.table("documents")))
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    salted = [i for i, ln in enumerate(win_lines) if "_salt" in ln]
    assert salted, f"no salted phase-1 window in the mega path:\n{plan}"
    # root-first plan text: the exact (source-only) window prints first and
    # consumes phase-1 candidates; every Window operator at or below the
    # first salted one must itself be salted — i.e. the raw corpus only
    # ever feeds (source, _salt)-partitioned window state
    assert salted[0] > 0, (
        f"expected the exact window ABOVE the salted window (root-first):\n{plan}"
    )
    assert all("_salt" in win_lines[i] for i in range(salted[0], len(win_lines))), (
        f"a source-only window runs upstream of the salted phase — "
        f"full-domain window state:\n{plan}"
    )


def test_domain_cap_routing_is_broadcast(spark):
    """The count-then-cap routing joins must broadcast the (tiny)
    mega-domain ID list — never shuffle the corpus for routing."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_domain_cap,
    )

    plan = _plan(text_domain_cap(spark, SF0001))
    assert "BroadcastHashJoin" in plan, f"routing joins must broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, (
        f"routing regressed to a shuffled join of the corpus:\n{plan}"
    )


def test_shuffle_shards_single_exchange(spark):
    """The deterministic shard digest is one partial-agg shuffle: shard id
    and order key are map-side md5 expressions feeding a hash aggregate."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import text_shuffle_shards

    plan = _plan(text_shuffle_shards(spark, SF0001))
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffles == 1, f"expected exactly one shuffle, got {n_shuffles}:\n{plan}"
    assert "partial" in plan.lower(), f"no map-side partial aggregation:\n{plan}"


def test_chunk_windows_is_shuffle_free(spark):
    """The long-doc fan-out must pipeline over the scan: tokenize +
    sequence/explode are narrow, so the plan has ZERO exchanges."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_chunk_windows,
    )

    plan = _plan(text_chunk_windows(spark, SF0001))
    assert "Exchange" not in plan, f"chunking acquired a shuffle:\n{plan}"
    assert "Generate explode" in plan


def test_zorder_interleave_is_jvm_side_and_narrow(spark):
    """The z-value must stay pure Column bit arithmetic: no Python UDF
    boundary (BatchEvalPython/ArrowEvalPython), and computing it adds no
    shuffle — the only Exchange in the clustered-write plan is the single
    rangepartitioning on zval itself."""
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writer_queries import (
        zorder_value,
    )

    df = (
        spark.range(0, 1000)
        .select((F.col("id") % 97).alias("xb"), (F.col("id") % 89).alias("yb"))
        .withColumn("zval", zorder_value(F.col("xb"), F.col("yb")))
        .repartitionByRange(4, "zval")
        .sortWithinPartitions("zval")
    )
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan
    # the sort must be within partitions, not a global ordering: in the
    # executedPlan toString, Sort renders as "Sort [keys], <global>, 0"
    assert "Sort [zval" in plan and "], false, 0" in plan


def test_session_transitions_single_pass(spark):
    """session_transitions: per-from totals run as a WINDOW over the
    vocabulary-sized transition frame — no join at all, and exactly one
    events-side shuffle (a totals-aggregate-plus-join formulation replayed
    the whole events subtree; the window form scans events once)."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        session_transitions,
    )

    plan = _plan(session_transitions(spark, SF0001))
    assert "Join" not in plan, "totals must be a window, not a join"
    assert plan.count("hashpartitioning(user_id") == 1


def test_attribution_window_partitions_by_user(spark):
    """attribution_last_touch: the carry-forward window must partition on
    user_id (never a single global window) and the channel rollup must
    keep a map-side partial phase."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        attribution_last_touch,
    )

    plan = _plan(attribution_last_touch(spark, SF0001))
    assert "Exchange SinglePartition" not in plan, "global window/agg crept in"
    assert "hashpartitioning(user_id" in plan
    assert "partial_count" in plan


def test_itemcf_count_joins_broadcast(spark):
    """rec_itemcf_neighbors: both catalog-sized n_users joins must
    broadcast; only the basket self-join and the per-item window may
    shuffle. A SortMergeJoin against the counts table would mean the
    bounded catalog got shuffled with the pair space."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        rec_itemcf_neighbors,
    )

    plan = _plan(rec_itemcf_neighbors(spark, SF0001))
    assert plan.count("BroadcastHashJoin") >= 2
    # the per-item ranking must be a partitioned window, not a global sort
    assert "hashpartitioning(item_id" in plan


#: Shuffle budget per lazy headline query (Exchange hash/range/single
#: counts in the executed plan at sf0.001, AQE on). These are CEILINGS
#: pinning the current plan shapes: a refactor that silently adds an
#: Exchange to any of these queries fails here before it costs anything
#: at scale. Counts are plan-shape facts, not tuning targets — if a
#: deliberate change raises one, update the budget in the same commit
#: and say why in the message.
SHUFFLE_BUDGET = {
    "q1_pricing_summary": 1,
    "q3_revenue_by_region": 1,
    "q_top_customers": 1,
    "q_revenue_rollup": 1,
    "q_json_event_agg": 1,
    "q_dashboard_yoy": 2,
    "q_grouping_sets": 1,
    "q_pivot_segment": 2,
    "q_funnel": 8,
    "q_sessionize": 1,
    "session_window_native": 1,
    "q_event_daily_window": 1,
    "j_asof_event_order": 2,
    "etl_fact_sales": 0,
    "etl_fact_double_fanout": 0,
    "etl_star_revenue_by_date": 1,
    "etl_scd2_customer_priority": 2,
    "text_lang_id": 3,
    # two-phase tape layout (round 11): bucket-sum rollup (map-side
    # partial, bucket rows only) + tiny bucket-prefix window + the ONE
    # corpus exchange on well-spread (lang, bucket) + the pack rollup.
    # The old budget of 1 was one corpus exchange on BARE lang — fewer
    # exchanges, but a single task sorting ~90% of a skewed corpus.
    "text_pack_sequences": 4,
}

#: same ceilings for the lazy suite COMPONENTS added in round 6 (the
#: multi-consumer ones are pinned AFTER their shared subframes were
#: materialized — e.g. itemCF read 29 textual exchanges when each consumer
#: replayed the interactions join). Counts are EXECUTED shuffles via
#: _shuffle_count: a cached build's exchanges bill once, not per scan.
#: itemCF's 13 = 4 to build the shared capped frame (cache(); the round-7
#: localCheckpoint form ran the same 4 eagerly OFF-plan, so its pin read
#: 9 — same end-to-end work, now visible in one plan) + 9 downstream.
COMPONENT_SHUFFLE_BUDGET = {
    # two-phase tape consumers (round 11): bucket rollup + tiny prefix
    # window + ONE well-spread (lang, bucket) corpus exchange; the
    # manifest/segment arithmetic and the explode are map-side
    "text_pack_manifest": 3,
    "text_pack_segments": 3,
    "session_transitions": 3,
    "attribution_last_touch": 2,
    "session_paths_topk": 2,
    "rec_itemcf_neighbors": 13,
    "rec_decayed_popularity": 2,
    "supplier_scorecard": 1,
    "delivery_sla": 1,
    "forecast_seasonal_naive": 1,
    "events_dau_wau": 3,
    "j_pit_scd2": 3,
    "governed_customer_view": 0,
    "text_search_conjunctive": 2,
    "text_search_phrase": 1,
    "s17_analyze_stats": 2,
    "funnel_windowed": 8,
    "text_rle_udtf": 0,
    "a17_gini_udaf": 2,
    # round 7: BM25 = postings agg + df agg + dl join + doc agg + the
    # K-row re-rank window; the retrieval itself ends in TakeOrdered
    "text_search_bm25": 5,
    # the leakage-safe split is map-only by design — ZERO exchanges
    "text_group_holdout_split": 0,
    # round 11: Gopher rule matrix is pure map-side — ZERO exchanges
    "text_gopher_rules": 0,
    # round 11: six-rule documents contract = one agg (+ stack reshape)
    "dq_documents_checks": 2,
    # round 12: cold-start census = the popularity backtest's two pruned
    # fact scans + cold anti-join + shelf top-k + per-user rollup
    "rec_backtest_coldstart": 8,
    # round 12: drift monitor = one tagged scan -> lang rollup + the
    # 1-row totals broadcast
    "dq_corpus_drift": 2,
    # round 11: LM scoring (cached, runs once) + boundary agg + broadcast
    # assignment join
    "text_ccnet_buckets": 7,
    # round 11: two date-filtered fact scans + distincts + shelf top-k +
    # per-user census
    "rec_backtest_popularity": 8,
    # round 11: per-user frequency shelf (bounded user window) + eval join
    "rec_backtest_repurchase": 8,
    # round 11: cached seq/basket + transition groupBy + score/rank/census
    "rec_backtest_markov": 16,
    # join-view IVM: delta-join partials + the touched-date merge
    "j_ivm_join_view": 2,
    # NDCG: train reach + shelf TakeOrdered + holdout/DCG user shuffles
    "rec_ndcg_popularity": 6,
    # negative sampling: the interactions distinct (for the users AND the
    # anti-join side) + per-user dedup/window; the item dictionary is
    # encoded on the driver (a local frame, no exchange). Every frame is
    # bounded (users, items, |users|x10 candidates)
    "rec_negative_samples": 4,
    # equi-depth: one boundary aggregate + one bucket-count aggregate
    "a16_equidepth_histogram": 2,
    # round 8: LM scoring = bigram counts + context counts + scoring join
    # + per-doc rollup (model tables vocab-bounded)
    "text_lm_score": 6,
    # BPE stats: one corpus word groupBy + one vocab-bounded pair groupBy
    "text_bpe_pair_stats": 2,
    # level-synchronous BFS: one-time edge build + repartition-on-src
    # layout, then 3 levels x (frontier expand + dedup + anti-join prune)
    # — every per-level exchange is frontier-sized, never graph-sized
    "graph_reach_bfs": 18,
    # sweep line: interval rollup (join+agg) + date net + two-phase
    # prefix windows + final month rollup; net cached, month side
    # broadcast
    "w8_interval_concurrency": 7,
    # ABC/Pareto: part-grain revenue agg + catalog-bounded ranking
    # window + grand-total broadcast
    "a19_abc_pareto": 4,
    # DSIR: two vocab-bounded LM count rollups + scalar agg + the
    # token-instance scoring join + per-doc rollup
    "text_dsir_weights": 5,
    # round 9: BPE encode = corpus word distinct + vocab distinct + the
    # single-partition vocab id window + vocab-bounded word-stats groupBy
    # + the per-doc rollup (both joins broadcast — never a fact shuffle)
    "text_bpe_encode": 5,
    # BPE packing composes the encode's 5 with the two-phase tape (round
    # 11): the cached per-doc length table is built once (its encode
    # exchanges counted once by _shuffle_count's InMemoryRelation dedup),
    # then bucket rollup + tiny prefix window + one (lang, bucket) corpus
    # exchange + pack rollup — measured 8; the old 6 bought a per-language
    # single-task sort
    "text_pack_bpe": 8,
    # temperature mixture: one source rollup + the 2-scalar aggregate +
    # its broadcast (integer math is map-side)
    "text_mixture_temperature": 3,
    # fertility: the encode's 5 + a language-bounded rollup (lang join
    # broadcasts)
    "text_bpe_fertility": 5,
    # k-core: checkpointed peel rounds bill their per-round degree
    # groupBy/joins off-plan (the BFS convention); the 12 on-plan
    # exchanges are the final assembly joins over node-bounded frames
    "graph_kcore": 12,
    # BPE round-trip: the encode's word/token distincts + single-partition
    # vocab window + the vocab-bounded decode join/groupBy (broadcast) +
    # the per-doc ordered reassembly (measured 8; ceiling 9 leaves one
    # partitioning-choice drift before the pin trips)
    "text_bpe_roundtrip": 9,
}


def test_bm25_topk_is_takeordered_not_full_sort(spark):
    """text_search_bm25's global top-k must compile to
    TakeOrderedAndProject (per-partition heads + driver K-merge), never a
    global Sort — on a 100 TB corpus the difference is a full-corpus
    range-shuffle sort vs K rows per partition."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    plan = _plan(registry.components()["text_search_bm25"].fn(spark, SF0001))
    assert "TakeOrderedAndProject" in plan


def test_lazy_components_stay_inside_shuffle_budget(spark):
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    spark.catalog.clearCache()
    comps = registry.components()
    over = {}
    for name, budget in COMPONENT_SHUFFLE_BUDGET.items():
        plan = _plan(comps[name].fn(spark, SF0001))
        n = _shuffle_count(plan)
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"components over shuffle budget (got, budget): {over}"


def test_headline_queries_stay_inside_shuffle_budget(spark):
    """Every LAZY registered query (pure plan, no eager collect inside)
    must not exceed its pinned Exchange count — the cheapest regression
    guard for '100 TB posture' claims: at scale an extra shuffle is the
    difference between a linear stage and a re-keyed terabyte move.

    Budgets are pinned against a CLEAN cache state: CacheManager matches
    plan fragments globally, so caches registered by whichever tests ran
    earlier in the session can splice their InMemoryRelation (and its
    build exchanges) into these plans and shift the counts — running the
    registry-contract test first raised a pinned count by one this way.
    clearCache() makes the count a property of the query, not the test
    order."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    spark.catalog.clearCache()
    qs = registry.queries()
    over = {}
    for name, budget in SHUFFLE_BUDGET.items():
        plan = _plan(qs[name](spark, SF0001))
        n = _shuffle_count(plan)
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"queries over shuffle budget (got, budget): {over}"


def test_aqe_splits_skewed_join_partitions(spark):
    """The AQE half of the skew story: salted_join handles skew the engine
    KNOWS about (tests/test_plans.py::test_salted_join_matches_plain_join);
    this pins that skew nobody predicted still gets split at runtime —
    Spark's OptimizeSkewedJoin rewrites the skewed partition into parallel
    splits (SortMergeJoin(skew=true) + AQEShuffleRead skewed). Thresholds
    are scoped down because local test shuffles are KBs; at 100 TB the
    defaults (256 MB/partition) fire on their own. The plan must come from
    the EXECUTED query's own execution — AQE finalizes per stage, so an
    unexecuted plan still shows the initial non-skew join."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 200000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            (F.rand(42) * 1e9).cast("long").alias("v"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k2"), F.lit("dim").alias("d")
        )
        j = big.join(small, F.col("k") == F.col("k2"))
        assert len(j.collect()) == 190050  # 190k rows on key 0 + 50 spread keys
        plan = _plan(j)
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_governed_view_rls_predicate_pushes_into_scan(spark):
    """Row-level security must cost nothing extra: the tenant predicate
    reaches the parquet scan as a pushed filter (rows never leave the
    reader), and the masked projection adds no Exchange."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        governed_customer_view,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

    prepare(spark, SF0001)
    df = governed_customer_view(spark, 12)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "LessThan(c_nationkey,12)" in plan, "RLS predicate not pushed to scan"
    assert "Exchange" not in _plan(df), "governed view must stay narrow"


# ---------------------------------------------------------------------------
# Round 11: the two-phase tape / md5-rank plans must never run a
# corpus-sized single-partition window on a skewed shard key
# ---------------------------------------------------------------------------


def _window_partition_spec(line: str) -> str:
    """Partition-key bracket group of a printed Window node. Format:
    ``Window [exprs...], [part keys], [order keys]`` — an UNORDERED
    whole-partition window omits the third group. The windowspec inside
    exprs also holds brackets, so split from the RIGHT and take the group
    after the exprs."""
    parts = line.rsplit("], [", 2)
    if len(parts) == 3:
        return parts[1]
    if len(parts) == 2:  # no order spec: the last group IS the partition
        return parts[1].rstrip("]")
    return ""


def _assert_no_full_shard_window(plan: str, bucket_key: str) -> None:
    """Every Window node must either include the range-bucket key in its
    PARTITION spec (bounded within-bucket window) or consume a
    HashAggregate (the bucket-prefix window over the tiny per-bucket
    table) — never the raw corpus partitioned on the shard key alone."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window " not in ln:
            continue
        if bucket_key in _window_partition_spec(ln):
            continue
        d = _node_depth(ln)
        j = i + 1
        subtree = []
        while j < len(lines) and _node_depth(lines[j]) > d:
            subtree.append(lines[j])
            j += 1
        assert any("HashAggregate" in s for s in subtree), (
            f"Window without {bucket_key} in its partition spec consumes "
            f"raw (corpus-sized) input — the skewed-shard single-task sort "
            f"is back:\n{ln}\n\nfull plan:\n{plan}"
        )


def test_tape_offsets_never_window_full_shard(spark):
    """two_phase_tape_offsets (the packing tape layout): the shard key is
    language — Zipf-skewed, so a per-shard running-sum window is one task
    over ~90% of a 100 TB corpus. Pin: windows partition on
    (shard, _tb range bucket); the only shard-only window is the
    bucket-prefix one over the per-bucket aggregate."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        prepare,
        tokens,
        two_phase_tape_offsets,
    )

    prepare(spark, SF0001)
    counted = spark.table("documents").select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    plan = _plan(two_phase_tape_offsets(counted, "lang", "n_tokens"))
    assert "_tb#" in plan, f"tape offsets lost the range-bucket key:\n{plan}"
    _assert_no_full_shard_window(plan, "_tb#")


def test_pack_queries_use_two_phase_tape(spark):
    """Every packing rung (ws-proxy, BPE-driven, per-doc manifest, the
    materialized segment split) must route through the two-phase tape
    layout — the capstone's stage 7 shares the same helper, so this pin
    covers all five call sites."""
    from e_commerce_data_warehouse_recommendation_system_spark import registry
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_pack_bpe,
        text_pack_sequences,
    )

    comps = registry.components()
    fns = [
        text_pack_sequences,
        text_pack_bpe,
        comps["text_pack_manifest"].fn,
        comps["text_pack_segments"].fn,
    ]
    for fn in fns:
        plan = _plan(fn(spark, SF0001))
        assert "_tb#" in plan, f"{fn.__name__} regressed off the two-phase tape:\n{plan}"
        _assert_no_full_shard_window(plan, "_tb#")


def test_md5_rank_never_windows_full_group(spark):
    """two_phase_md5_rank (the capstone's mixture-downsample selection):
    the group key is ``source`` — a dominant source is corpus-sized, so the
    exact rank must come from (group, _rb md5-prefix-bucket) windows plus a
    broadcast bucket prefix, never one per-source window over raw rows."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        prepare,
        two_phase_md5_rank,
    )

    prepare(spark, SF0001)
    plan = _plan(two_phase_md5_rank(spark.table("documents"), "source"))
    assert "_rb#" in plan, f"md5 rank lost the range-bucket key:\n{plan}"
    _assert_no_full_shard_window(plan, "_rb#")
    assert "BroadcastHashJoin" in plan, (
        f"bucket-prefix table must broadcast, not shuffle the corpus:\n{plan}"
    )


def test_backtest_date_filter_pushes_to_scan(spark):
    """rec_backtest_popularity: the cutoff predicate must reach the orders
    parquet scan as a pushed filter (at 100 TB the pre/post scans each read
    only their date range), and the broadcast shelf must appear as a
    broadcast join, not a shuffle."""
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        components,
    )

    df = components()["rec_backtest_popularity"].fn(spark, SF0001)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
