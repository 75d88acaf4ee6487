"""Property tests for the round-6 analytics operators: last-touch
attribution and itemCF neighbor ranking against pure-Python references on
random inputs — the fixed-dataset oracles prove value parity, these hunt
edge cases the real data rarely hits (timestamp ties, no-prior-touch
purchases, whale-capped users, cos² ranking ties)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow

# (user, t, type) with tiny domains so same-instant ties and type runs
# are common; type 2 plays the role of 'purchase'
events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10), st.integers(0, 3)),
    min_size=0,
    max_size=20,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(events)
@pytest.mark.usefixtures("spark")
def test_last_touch_attribution_matches_python(spark, rows):
    """Re-run the attribution WINDOW (carry last non-purchase type over a
    strictly-preceding frame, ordered by (t, event_id)) against a linear
    Python sweep per user. (The window expression is inlined here because
    attribution_last_touch fuses it with the events-table purchase rollup;
    the full operator is full-result oracle-checked at both SFs.)"""
    rows = [(i, u, t, ty) for i, (u, t, ty) in enumerate(rows)]
    df = spark.createDataFrame(rows or [(0, 0, 0, 0)], "eid int, u int, t int, ty int")
    if not rows:
        df = df.filter("eid < 0")
    w = (
        Window.partitionBy("u")
        .orderBy("t", "eid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.coalesce(
        F.last(F.when(F.col("ty") != 2, F.col("ty")), ignorenulls=True).over(w),
        F.lit(-1),
    )
    got = {
        r.eid: r.ch
        for r in df.withColumn("ch", channel).filter(F.col("ty") == 2).collect()
    }

    want = {}
    by_user: dict[int, list] = {}
    for eid, u, t, ty in rows:
        by_user.setdefault(u, []).append((t, eid, ty))
    for u, evs in by_user.items():
        last_touch = -1
        for t, eid, ty in sorted(evs):
            if ty == 2:
                want[eid] = last_touch
            else:
                last_touch = ty
    assert got == want


# (user, item) baskets on tiny domains; duplicates common
baskets = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 5)), min_size=0, max_size=25
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(baskets, st.integers(1, 4))
@pytest.mark.usefixtures("spark")
def test_itemcf_ranking_matches_python(spark, rows, max_basket):
    """ItemCF pipeline (distinct pairs -> whale cap -> co-counts >= 2 ->
    cos² micro ranking with (co, neighbor) tie-breaks) vs brute force."""
    import e_commerce_data_warehouse_recommendation_system_spark.recommend.queries as rq

    pairs = sorted(set(rows))
    df = spark.createDataFrame(pairs or [(0, 0)], "user_id int, item_id int")
    if not pairs:
        df = df.filter("user_id < 0")

    # engine path, parameterized small: inline the same plan as
    # rec_itemcf_neighbors but over this frame and cap
    sizes = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("basket"))
    capped = df.join(
        sizes.filter(F.col("basket") <= max_basket).select("user_id"), "user_id"
    )
    cnt = capped.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))
    a, b = capped.alias("a"), capped.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("ia"), F.col("b.item_id").alias("ib"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= rq.ITEMCF_MIN_CO)
    )
    sym = pair_counts.select(
        F.col("ia").alias("item_id"), F.col("ib").alias("nb"), "co"
    ).unionAll(pair_counts.select(F.col("ib"), F.col("ia"), "co"))
    scored = (
        sym.join(cnt.select(F.col("item_id"), F.col("n_users").alias("ni")), "item_id")
        .join(
            cnt.select(F.col("item_id").alias("nb"), F.col("n_users").alias("nj")),
            "nb",
        )
        .select(
            "item_id",
            "nb",
            "co",
            F.floor(F.col("co") * F.col("co") * 1000000.0 / (F.col("ni") * F.col("nj")))
            .cast("bigint")
            .alias("s"),
        )
    )
    w = Window.partitionBy("item_id").orderBy(F.desc("s"), F.desc("co"), F.asc("nb"))
    got = {
        (r.item_id, r.rnk): r.nb
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    }

    # brute force
    kept_users = {}
    for u, i in pairs:
        kept_users.setdefault(u, set()).add(i)
    kept_users = {u: s for u, s in kept_users.items() if len(s) <= max_basket}
    n_users: dict[int, int] = {}
    co: dict[tuple, int] = {}
    for u, items in kept_users.items():
        for i in items:
            n_users[i] = n_users.get(i, 0) + 1
        items = sorted(items)
        for x in range(len(items)):
            for y in range(x + 1, len(items)):
                k = (items[x], items[y])
                co[k] = co.get(k, 0) + 1
    want = {}
    neigh: dict[int, list] = {}
    for (i, j), c in co.items():
        if c < rq.ITEMCF_MIN_CO:
            continue
        for a_, b_ in ((i, j), (j, i)):
            s = math.floor(c * c * 1000000.0 / (n_users[a_] * n_users[b_]))
            neigh.setdefault(a_, []).append((-s, -c, b_))
    for i, lst in neigh.items():
        for rnk, (_, _, nb) in enumerate(sorted(lst)[:3], start=1):
            want[(i, rnk)] = nb
    assert got == want


# (user, day-offset) activity events on a tiny calendar so window edges
# and multi-day users are common
activity = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 15)), min_size=0, max_size=30
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(activity)
@pytest.mark.usefixtures("spark")
def test_rolling_wau_fanout_matches_python(spark, rows):
    """events_dau_wau's PRODUCTION core (rolling_distinct_users) vs a
    brute-force 7-day window count per day."""
    import datetime

    base = datetime.date(2024, 1, 1)
    pairs = sorted({(u, base + datetime.timedelta(days=d)) for u, d in rows})
    df = spark.createDataFrame(
        pairs or [(0, base)], "user_id int, day date"
    )
    if not pairs:
        df = df.filter("user_id < 0")
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        rolling_distinct_users,
    )

    wau = rolling_distinct_users(df, window_days=7)
    # keep only window days that are REAL activity days (the operator's
    # inner join back to DAU)
    days_present = {d for _, d in pairs}
    got = {r.gday: r.wau for r in wau.collect() if r.gday in days_present}

    want = {}
    for g in days_present:
        want[g] = len(
            {u for u, d in pairs if g - datetime.timedelta(days=6) <= d <= g}
        )
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(events)
@pytest.mark.usefixtures("spark")
def test_markov_transitions_match_python(spark, rows):
    """session_transitions' PRODUCTION core (transition_counts) vs a
    per-user linear sweep, including the (t, event_id) tie ordering."""
    rows = [(i, u, t, ty) for i, (u, t, ty) in enumerate(rows)]
    df = spark.createDataFrame(rows or [(0, 0, 0, 0)], "eid int, u int, t int, ty int")
    if not rows:
        df = df.filter("eid < 0")
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        transition_counts,
    )

    got = {
        (r.from_type, r.to_type): r.n_transitions
        for r in transition_counts(
            df, part_col="u", order_cols=[F.col("t"), F.col("eid")], type_col="ty"
        ).collect()
    }
    want: dict[tuple, int] = {}
    by_user: dict[int, list] = {}
    for eid, u, t, ty in rows:
        by_user.setdefault(u, []).append((t, eid, ty))
    for evs in by_user.values():
        s = sorted(evs)
        for (_, _, a), (_, _, b) in zip(s, s[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


# random directed edges over a small node domain; self-loops excluded
# (matching the co-purchase builder's a.part <> b.part)
edge_lists = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _duck_pagerank(edges: list, iters: int, damping: float) -> dict:
    """DuckDB replica of recommend.graph.pagerank: the identical
    iteration telescope as the registered oracle, over an arbitrary edge
    list — nodes = distinct sources, decimal-exact contribution sums."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE pairs(src INT, dst INT)")
    for s_, d_ in edges:
        con.execute("INSERT INTO pairs VALUES (?, ?)", (s_, d_))
    sql = """
    WITH p AS (SELECT DISTINCT src, dst FROM pairs),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM p GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM p),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM n) AS r FROM nodes)
    """
    for i in range(iters):
        sql += f"""
    , c{i} AS (
      SELECT p.dst AS node,
             CAST(SUM(CAST(r{i}.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS s
      FROM p JOIN r{i} ON p.src = r{i}.node JOIN outdeg d ON p.src = d.src
      GROUP BY p.dst
    ),
    r{i + 1} AS (
      SELECT nodes.node,
             (1 - {damping}) / (SELECT n_nodes FROM n)
             + {damping} * COALESCE(c{i}.s, 0.0) AS r
      FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
    )"""
    sql += f"SELECT node, CAST(FLOOR(r * 1000000000000.0) AS BIGINT) FROM r{iters}"
    return dict(con.execute(sql).fetchall())


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
@pytest.mark.usefixtures("spark")
def test_pagerank_matches_duckdb_on_random_graphs(spark, edges):
    """The generalized pagerank() loop vs the DuckDB iteration telescope
    on random digraphs — dangling destinations, disconnected components,
    multi-edges (deduped), every shape the co-purchase graph never
    produces. Tiny synthetic graphs yield EXACT-decimal ranks that sit
    right on floor boundaries, where the engines' double→DECIMAL cast
    rounding can differ by one last ulp — so pico units compare within
    ±1 (the registered component uses nano resolution, which buries this
    boundary class for real-data ranks)."""
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.graph import pagerank

    df = spark.createDataFrame(sorted(set(edges)), "src int, dst int")
    got = {
        r.node: int(r.pico)
        for r in pagerank(df, iters=4, damping=0.85)
        .select("node", F.floor(F.col("r") * 1000000000000.0).alias("pico"))
        .collect()
    }
    want = _duck_pagerank(edges, iters=4, damping=0.85)
    assert got.keys() == want.keys()
    off = {k: (got[k], want[k]) for k in got if abs(got[k] - want[k]) > 1}
    assert not off, f"pagerank diverged beyond one ulp-at-boundary: {off}"


# (user, t, stage) streams; stage ints 0/1/2 play view/click/purchase
funnel_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 30), st.integers(0, 2)),
    min_size=0,
    max_size=25,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(funnel_events, st.one_of(st.none(), st.integers(1, 10)))
@pytest.mark.usefixtures("spark")
def test_funnel_stages_match_python(spark, rows, window):
    """funnel_windowed's PRODUCTION core (funnel_stages) vs a per-user
    linear sweep — with and without stage deadlines, including ties at
    exactly the previous stage's first touch and exactly the deadline."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
        funnel_stages,
    )

    df = spark.createDataFrame(
        rows or [(0, 0, 0)], "user_id int, tus int, event_type int"
    )
    if not rows:
        df = df.filter("user_id < 0")
    stages = funnel_stages(df, [0, 1, 2], window=window)
    got = [
        {(r.user_id): r._t for r in s.collect()} for s in stages
    ]

    by_user: dict[int, list] = {}
    for u, t, ty in rows:
        by_user.setdefault(u, []).append((t, ty))
    want = [dict() for _ in range(3)]
    for u, evs in by_user.items():
        prev_t = None
        for stage in range(3):
            ts = [
                t
                for t, ty in evs
                if ty == stage
                and (prev_t is None or (t >= prev_t and (window is None or t <= prev_t + window)))
            ]
            if not ts:
                break
            prev_t = min(ts)
            want[stage][u] = prev_t
    assert got == want
