"""Graph analytics over the co-purchase graph.

Four graph operators grew inside the recommender module by accretion;
this module holds them — PageRank, bounded-BFS reachability,
triangle counting, and k-core decomposition — pure move from
recommend/queries.py in round 10, registry names unchanged (``registry``
imports this module right after ``recommend.queries``).

All four share the same co-purchase edge construction (distinct
(l_orderkey, l_partkey) baskets self-joined per order — the reference's
item-item affinity base, reference: recommendation.py MF_KNN
neighborhood), and the same iterative-scale posture: per-round
localCheckpoint lineage truncation, semi-join frontier/remaining-set
reductions, decimal-exact numeric state where cross-engine determinism
needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.registry import component
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

# --------------------------------------------------------------------------
# PageRank over the co-purchase graph (influential products)
# --------------------------------------------------------------------------

PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85
PAGERANK_TOP_K = 20


def _pagerank_oracle() -> str:
    """Generate the DuckDB oracle: the SAME {PAGERANK_ITERS} power
    iterations as the engine, one CTE per step, decimal-exact contribution
    sums — so the oracle is full-fidelity, not a digest.

    Every chained CTE is declared ``AS MATERIALIZED``: DuckDB's default
    inlines single-reference CTEs, so step r10's plan would re-evaluate
    the ENTIRE upstream chain (pairs join + groupBy per step, compounding
    each level) — that full-materialization blowup is what exceeded the
    40 GiB spill budget at sf0.1. Materialized, each step is computed
    exactly once: one edges-join + one node-sized frame per iteration,
    the same O(iters · |edges|) work the Spark engine does."""
    base = f"""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.part AS src, b.part AS dst
      FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.part <> b.part
    ),
    outdeg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM pairs GROUP BY src
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS part FROM pairs),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    r0 AS MATERIALIZED (
      SELECT part, CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM n) AS r FROM nodes
    )
    """
    steps = []
    for i in range(PAGERANK_ITERS):
        steps.append(f"""
    , c{i} AS MATERIALIZED (
      SELECT p.dst AS part,
             CAST(SUM(CAST(r{i}.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS s
      FROM pairs p
      JOIN r{i} ON p.src = r{i}.part
      JOIN outdeg d ON p.src = d.src
      GROUP BY p.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT nodes.part,
             (1 - {PAGERANK_DAMPING}) / (SELECT n_nodes FROM n)
             + {PAGERANK_DAMPING} * COALESCE(c{i}.s, 0.0) AS r
      FROM nodes LEFT JOIN c{i} ON nodes.part = c{i}.part
    )""")
    final = f"""
    SELECT part, CAST(FLOOR(r * 1000000000.0) AS BIGINT) AS rank_nano,
           CAST(ROW_NUMBER() OVER (
             ORDER BY CAST(FLOOR(r * 1000000000.0) AS BIGINT) DESC, part) AS INT)
             AS rnk
    FROM r{PAGERANK_ITERS}
    ORDER BY rank_nano DESC, part
    LIMIT {PAGERANK_TOP_K}
    """
    return base + "".join(steps) + final


@component(
    "rec_pagerank_items",
    cols=[("part", "num"), ("rank_nano", "num"), ("rnk", "num")],
    oracle=_pagerank_oracle(),
)
def rec_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph — "influential products": items
    central to many baskets' neighborhoods rank above merely-frequent
    ones (the same signal the lift table surfaces pairwise, propagated
    transitively). {PAGERANK_ITERS} power iterations, damping
    {PAGERANK_DAMPING}, on the symmetric same-basket graph: iterative
    propagation with NUMERIC state.

    Engine-determinism across engines AND partitionings: each iteration's
    per-node contribution sum accumulates through DECIMAL(38,18) (the
    r/deg terms are IEEE divides — identical everywhere; the exact
    decimal sum removes shuffle-order float drift), and the final ranking
    compares FLOOR(r·1e9) integers — nano resolution leaves ~9 decimal
    digits of headroom over the engines' last-ulp double differences
    (the double→DECIMAL(38,18) cast rounds the binary expansion at digit
    18, where the two engines can disagree by one ulp; the fuzz test
    documents the boundary case on synthetic exact-decimal ranks). The
    oracle replays the identical 10 iterations as chained CTEs —
    full-fidelity values, not a digest.

    Scale: edges shuffle once on src per iteration (join to ranks), once
    on dst (contribution agg) — the canonical distributed PageRank;
    lineage is truncated per iteration (localCheckpoint, like the
    connected-components loop) so the plan stays O(1) in iterations.
    Basket fan-out is per-order bounded exactly as rec_copurchase_pairs."""
    prepare(spark, sf_dir)
    li = spark.table("lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") != F.col("b.part")))
        .select(F.col("a.part").alias("src"), F.col("b.part").alias("dst"))
        .distinct()
    )
    ranks = pagerank(pairs, iters=PAGERANK_ITERS, damping=PAGERANK_DAMPING)
    nano = F.floor(F.col("r") * 1000000000.0).cast("bigint")
    top = ranks.select(
        F.col("node").alias("part"), nano.alias("rank_nano")
    ).orderBy(F.desc("rank_nano"), F.asc("part")).limit(PAGERANK_TOP_K)
    w = Window.orderBy(F.desc("rank_nano"), F.asc("part"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def pagerank(pairs: DataFrame, iters: int, damping: float) -> DataFrame:
    """Distributed PageRank over an edge list (src, dst): returns
    (node, r) after ``iters`` power iterations. Nodes = distinct SOURCES
    (every node of a symmetric graph; for asymmetric feeds, pre-union the
    sink-only nodes as zero-out-degree self-loops upstream). Contribution
    sums accumulate through DECIMAL(38,18) so the result is independent
    of shuffle order and partitioning; lineage truncates per iteration."""
    pairs = pairs.localCheckpoint(eager=True)
    outdeg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = pairs.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = pairs.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    n_nodes = nodes.count()
    ranks = nodes.select("node", (F.lit(1.0) / n_nodes).alias("r"))
    base = (1 - damping) / n_nodes
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("r") / F.col("deg")).cast("decimal(38,18)").alias("term"),
            )
            .groupBy("node")
            .agg(F.sum("term").cast("double").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + damping * F.coalesce("s", F.lit(0.0))).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


# --------------------------------------------------------------------------
# Bounded-BFS reachability over the co-purchase graph
# --------------------------------------------------------------------------

#: BFS horizon: how many co-purchase hops from the seed set are explored.
BFS_MAX_HOPS = 3
#: deterministic seed set: every part whose key is a multiple of this.
BFS_SEED_MODULUS = 100


@component(
    "graph_reach_bfs",
    cols=[("item_id", "num"), ("dist", "num")],
    oracle=f"""
    WITH RECURSIVE
    baskets AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
    e AS (SELECT DISTINCT a.part AS src, b.part AS dst
          FROM baskets a JOIN baskets b
            ON a.okey = b.okey AND a.part <> b.part),
    seeds AS (SELECT p_partkey AS id FROM part
              WHERE p_partkey % {BFS_SEED_MODULUS} = 0),
    r AS (
      SELECT id, 0 AS d FROM seeds
      UNION
      SELECT e.dst AS id, r.d + 1 AS d
      FROM r JOIN e ON e.src = r.id WHERE r.d < {BFS_MAX_HOPS}
    )
    SELECT id AS item_id, CAST(MIN(d) AS INT) AS dist FROM r GROUP BY id
    """,
)
def graph_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first reachability over the co-purchase graph — the
    "discovery radius" question behind merchandising seeds: starting from a
    deterministic promoted-item set (part keys divisible by
    {BFS_SEED_MODULUS}), which catalog items are within
    {BFS_MAX_HOPS} co-purchase hops, and at what minimum distance? The
    graph operator beside PageRank (rec_pagerank_items, power
    iteration) with a TRUE recursive-SQL twin, so the
    oracle is a genuine WITH RECURSIVE CTE, not a bounded unrolling.

    Level-synchronous BFS is exact here: the h-th frontier is joined
    against the edge list, already-reached vertices are dropped with a
    LEFT ANTI join, and first discovery IS minimum distance, so no
    re-relaxation is ever needed (unweighted edges). {BFS_MAX_HOPS}
    iterations keep the lineage shallow enough that no checkpoint is
    required; an unbounded variant would checkpoint per level.

    Scale: the edge list is a per-order self-join (blow-up O(k²) per
    basket, k ≤ items-per-order — same bound rec_copurchase_pairs
    documents), built once and reused by every level; each level is one
    shuffle join frontier⋈edges partitioned on src plus one distinct and
    one anti join, all frontier-sized, never graph-sized. At 100 TB the
    frontier join partitions on the hub-bounded src key and the seed set
    stays a deterministic modulus — no driver-side collection anywhere."""
    prepare(spark, sf_dir)
    baskets = (
        spark.table("lineitem")
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    edges = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") != F.col("b.part")))
        .select(F.col("a.part").alias("src"), F.col("b.part").alias("dst"))
        .distinct()
        # hash-partition on the join key BEFORE caching: InMemoryRelation
        # preserves outputPartitioning, so every BFS level's frontier⋈edges
        # join re-exchanges only the (small) frontier side, never the edge
        # list — the one-time layout investment iterative graph ops live on
        .repartition("src")
        .cache()
    )
    seeds = (
        spark.table("part")
        .filter(F.col("p_partkey") % BFS_SEED_MODULUS == 0)
        .select(F.col("p_partkey").alias("id"))
    )
    reached = seeds.select("id", F.lit(0).alias("dist"))
    frontier = seeds
    for hop in range(1, BFS_MAX_HOPS + 1):
        # cache each level: frontier h feeds BOTH the next level's expansion
        # and every later level's anti join (through `reached`) — uncached,
        # level h's subtree replays once per later level (the iterative
        # lineage blowup an unbounded loop checkpoints against; 3 bounded
        # levels make cache() sufficient here)
        nxt = (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(reached, "id", "left_anti")
            .cache()
        )
        reached = reached.unionAll(nxt.select("id", F.lit(hop).alias("dist")))
        frontier = nxt
    return reached.select(
        F.col("id").alias("item_id"), F.col("dist").cast("int").alias("dist")
    )


# --------------------------------------------------------------------------
# Triangle counting / local clustering over the co-purchase graph
# --------------------------------------------------------------------------

#: nodes reported, ordered by (n_triangles DESC, part)
TRIANGLE_TOP_K = 20


@component(
    "graph_triangle_count",
    cols=[
        ("part", "num"),
        ("degree", "num"),
        ("n_triangles", "num"),
        ("clustering_micro", "num"),
        ("rnk", "num"),
    ],
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    canon AS (
      SELECT DISTINCT a.part AS u, b.part AS v
      FROM baskets a JOIN baskets b
        ON a.okey = b.okey AND a.part < b.part
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM canon e1
      JOIN canon e2 ON e1.v = e2.u
      JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
      ) GROUP BY node
    ),
    degrees AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon
      ) GROUP BY node
    ),
    scored AS (
      SELECT d.node AS part, d.degree,
             COALESCE(t.n_triangles, 0) AS n_triangles,
             CASE WHEN d.degree >= 2 THEN
               CAST(FLOOR(CAST(COALESCE(t.n_triangles, 0) AS DOUBLE) * 2000000.0
                          / CAST(d.degree * (d.degree - 1) AS DOUBLE)) AS BIGINT)
             ELSE 0 END AS clustering_micro
      FROM degrees d LEFT JOIN per_node t ON d.node = t.node
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_triangles DESC, part) AS rnk
      FROM scored
    )
    SELECT part, degree, n_triangles, clustering_micro, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TRIANGLE_TOP_K}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    co-purchase graph — the graph operator beside PageRank
    (rec_pagerank_items), BFS (graph_reach_bfs) and k-core: triangles
    measure how CLIQUISH an item's neighborhood is (bundle detection,
    category coherence), and the local coefficient
    2·tri(v)/(deg(v)·(deg(v)−1)) is the standard normalized form
    (FLOOR-micro crossing; the count itself is exact int64). Edges
    are canonically oriented u<v, so each triangle a<b<c is enumerated
    exactly once by the two-path join (a,b)+(b,c) closed by (a,c), then
    fanned out to its three corners for the per-node count.

    Scale: the edge list is the basket self-join (O(k²) per order, the
    documented rec_copurchase_pairs bound). The engine counts via
    DEGREE-ORDERED orientation — every edge points from its
    lower-(degree, id) endpoint, which bounds out-degree by O(√m)
    (arboricity), the Latapy/GraphX plan that survives hub nodes — and
    closes triangles by ADJACENCY-ARRAY INTERSECTION: per oriented edge
    (u,v), the common out-neighbors N+(u) ∩ N+(v) are exactly the apexes
    w with u→v, u→w, v→w, so each triangle is found once at its
    lowest→middle edge. Versus the r8 wedge-enumeration join this never
    materializes the wedge set (wedges ≫ triangles: every PAIR of
    out-neighbors was a row before the closure probe pruned it; here the
    intersection happens map-side inside a bounded O(√m) array) — one
    adjacency groupBy + two edge joins replace the wedge self-join + the
    closure probe join, measured 9.5 s (idle) → 4.1 s steady even on a
    loadavg-20 box at sf0.1. The oracle
    keeps the textbook canonical a<b<c 3-way self-join — same triangle
    set, independently derived. Per-node rollups shuffle on the vertex
    key; top-k is sort+limit."""
    prepare(spark, sf_dir)
    baskets = (
        spark.table("lineitem")
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    canon = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .select(F.col("a.part").alias("u"), F.col("b.part").alias("v"))
        .distinct()
        .cache()
    )
    degrees_all = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .cache()
    )
    # orient each edge from the lower-(degree, id) endpoint
    du = degrees_all.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = degrees_all.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    ku = F.struct(F.col("deg_u").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("deg_v").alias("d"), F.col("v").alias("n"))
    oriented = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .cache()
    )
    # out-adjacency arrays (each bounded O(√m) by the orientation), then
    # per-edge apex sets by array intersection — wedges never materialize
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    adj_u = adj.select(F.col("src").alias("u_adj"), F.col("nbrs").alias("nbrs_u"))
    adj_v = adj.select(F.col("src").alias("v_adj"), F.col("nbrs").alias("nbrs_v"))
    apexes = (
        oriented.join(adj_u, F.col("src") == F.col("u_adj"))
        # dst may have no out-neighbors: empty array of the right type via
        # a zero-length slice, keeping the left join total
        .join(adj_v, F.col("dst") == F.col("v_adj"), "left")
        .select(
            "src",
            "dst",
            F.array_intersect(
                "nbrs_u", F.coalesce(F.col("nbrs_v"), F.slice("nbrs_u", 1, 0))
            ).alias("common"),
        )
        .filter(F.size("common") > 0)
    )
    # r14 opt: all three corner fan-outs in ONE map-side explode — the
    # three-branch unionAll executed the apex join subtree three times
    # (only its exchanges were reused); the multiset of (node, c) rows is
    # identical by construction
    corner_arr = F.concat(
        F.array(
            F.struct(F.col("src").alias("node"), F.size("common").alias("c")),
            F.struct(F.col("dst").alias("node"), F.size("common").alias("c")),
        ),
        F.transform("common", lambda w: F.struct(w.alias("node"), F.lit(1).alias("c"))),
    )
    corners = apexes.select(F.explode(corner_arr).alias("_k")).select("_k.node", "_k.c")
    per_node = corners.groupBy("node").agg(F.sum("c").cast("long").alias("n_triangles"))
    # degrees_all is already cached above for the orientation step — reuse it
    # here rather than paying a second identical union+groupBy shuffle
    scored = degrees_all.join(per_node, "node", "left").select(
        F.col("node").alias("part"),
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.floor(
                F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                * 2000000.0
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("clustering_micro"),
    )
    top = scored.orderBy(F.desc("n_triangles"), F.asc("part")).limit(TRIANGLE_TOP_K)
    w = Window.orderBy(F.desc("n_triangles"), F.asc("part"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "part", "degree", "n_triangles", "clustering_micro", "rnk"
    )


# --------------------------------------------------------------------------
# k-core decomposition over the co-purchase graph (bounded peel rounds)
# --------------------------------------------------------------------------

#: peel rounds — bounded like the PageRank iterations so the oracle is a
#: finite unrolled CTE chain; a `converged` column reports whether the
#: last round removed nothing (measured fixpoints on the testdata: 3/5/10
#: rounds at sf0.001/0.01/0.1 — 12 covers all with headroom)
KCORE_ROUNDS = 12

_SQL_KCORE_EDGES = """
    baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.part AS u, b.part AS v
      FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.part < b.part
    ),
    deg0 AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
    ),
    kval AS MATERIALIZED (
      SELECT d AS k FROM (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d, node) AS rn,
               COUNT(*) OVER () AS n
        FROM deg0
      ) WHERE rn = (n + 19) // 20
    )"""


def _kcore_oracle() -> str:
    """Unrolled bounded peel: each round keeps nodes whose degree WITHIN
    the remaining set is >= K (the 5th-PERCENTILE initial degree, rank
    (n+19)//20 in the kval CTE — data-derived so the threshold adapts
    across SFs; the median unravels this near-regular graph, see the
    graph_kcore docstring). MATERIALIZED per round (the
    PageRank-oracle convention — DuckDB would otherwise re-inline the
    whole chain per step)."""
    steps = []
    for i in range(KCORE_ROUNDS):
        steps.append(f"""
    , d{i} AS MATERIALIZED (
      SELECT r.node, CAST(COUNT(x.node) AS BIGINT) AS d
      FROM r{i} r
      LEFT JOIN (
        SELECT e.u AS node, e.v AS other FROM e
        JOIN r{i} a ON e.u = a.node JOIN r{i} b ON e.v = b.node
        UNION ALL
        SELECT e.v, e.u FROM e
        JOIN r{i} a ON e.u = a.node JOIN r{i} b ON e.v = b.node
      ) x ON r.node = x.node
      GROUP BY r.node
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT node FROM d{i}, kval WHERE d >= kval.k
    ),
    drop{i} AS MATERIALIZED (
      SELECT node, {i + 1} AS peel_round FROM r{i}
      WHERE node NOT IN (SELECT node FROM r{i + 1})
    )""")
    last = KCORE_ROUNDS
    drops_union = "\n      UNION ALL ".join(
        f"SELECT * FROM drop{i}" for i in range(KCORE_ROUNDS)
    )
    return f"""
    WITH {_SQL_KCORE_EDGES},
    r0 AS MATERIALIZED (SELECT node FROM deg0)
    {''.join(steps)},
    alldrops AS MATERIALIZED ({drops_union}),
    conv AS MATERIALIZED (
      SELECT (SELECT COUNT(*) FROM drop{last - 1}) = 0 AS converged
    ),
    core_deg AS MATERIALIZED (
      SELECT r.node, CAST(COUNT(x.node) AS BIGINT) AS d
      FROM r{last} r
      LEFT JOIN (
        SELECT e.u AS node FROM e
        JOIN r{last} a ON e.u = a.node JOIN r{last} b ON e.v = b.node
        UNION ALL
        SELECT e.v FROM e
        JOIN r{last} a ON e.u = a.node JOIN r{last} b ON e.v = b.node
      ) x ON r.node = x.node
      GROUP BY r.node
    )
    SELECT d0.node AS part, kval.k AS k,
           ad.node IS NULL AS in_core,
           CAST(ad.peel_round AS INT) AS peel_round,
           cd.d AS core_degree,
           conv.converged AS converged
    FROM deg0 d0
    LEFT JOIN alldrops ad ON d0.node = ad.node
    LEFT JOIN core_deg cd ON d0.node = cd.node, kval, conv
    """


@component(
    "graph_kcore",
    oracle=_kcore_oracle(),
    cols=[
        ("part", "num"),
        ("k", "num"),
        ("in_core", "bool"),
        ("peel_round", "num"),
        ("core_degree", "num"),
        ("converged", "bool"),
    ],
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition over the co-purchase graph — the fifth graph
    operator (components, PageRank, BFS, triangles, and now cores): the
    k-core is the maximal subgraph where every node keeps >= k neighbors
    INSIDE the subgraph, the standard dense-cohort extractor (stable
    cross-sell clusters that survive removing weakly attached items; the
    peel round is a coreness-band label useful as a ranking feature).
    k is DATA-DERIVED — the 5th-PERCENTILE initial degree, the
    ((n+19)//20)-th smallest by (degree, node) — so the threshold adapts
    across scale factors; on this near-regular co-purchase graph any
    higher percentile UNRAVELS the whole graph (probed: the median
    cascades to an empty core at every SF; p5 peels the weakly attached
    5-7% and leaves a genuine dense core, the k-core phase transition
    the Pittel/Spencer/Wormald literature describes).

    Level-synchronous peeling, {KCORE_ROUNDS} bounded rounds (the
    PageRank/BFS convention — the oracle unrolls the same rounds as
    MATERIALIZED CTEs): each round recomputes degrees WITHIN the
    remaining set and drops nodes below k; a `converged` column certifies
    the fixpoint was reached inside the bound (it is, on the testdata).
    Emits one row per ORIGINAL node: in_core, peel round for dropped
    nodes, within-core degree for survivors.

    Scale: each round is two semi-join reductions of the edge list plus
    one degree groupBy — edges shuffle on their endpoint keys, the
    remaining-set frames are node-bounded, lineage truncates per round
    (localCheckpoint, the connected-components convention). Peeling is
    the textbook distributed k-core (the batch half of Montresor et al.);
    coreness ladders run this same loop per k."""
    prepare(spark, sf_dir)
    baskets = (
        spark.table("lineitem")
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    edges = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .select(F.col("a.part").alias("u"), F.col("b.part").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg0 = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("d", "node")
    ranked = deg0.select("d", "node", F.row_number().over(w).alias("rn"))
    n_nodes = deg0.count()
    # 1-row scalar: the p5-degree threshold (the repo's documented
    # bounded-collect class — same as the decay anchor / CMS bounds)
    k = ranked.filter(F.col("rn") == (n_nodes + 19) // 20).collect()[0]["d"]
    remaining = deg0.select("node")
    drops = None
    last_drop_count = -1
    final_deg = None
    for i in range(1, KCORE_ROUNDS + 1):
        if i == 1:
            # round 1's "degree within remaining" IS deg0: remaining is
            # still every node, so the semi-joins would be identity
            # filters — skip the whole join+aggregate round (r14 opt:
            # this was a full extra pass over the edge list for nothing)
            joined = deg0.select("node", F.col("d").alias("dd"))
        else:
            ru = remaining.select(F.col("node").alias("u"))
            rv = remaining.select(F.col("node").alias("v"))
            live = edges.join(ru, "u", "left_semi").join(rv, "v", "left_semi")
            # one endpoint explode instead of a two-branch unionAll: the
            # union form executed the semi-join subtree TWICE per round
            # (physical plans don't share non-exchange subtrees; only the
            # shuffles were reused) — same multiset of endpoint rows,
            # half the join work (r14 opt)
            deg_i = (
                live.select(
                    F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
                )
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            joined = remaining.join(deg_i, "node", "left").select(
                "node", F.coalesce(F.col("d"), F.lit(0)).alias("dd")
            )
            # ONE materialization per round (r14 opt: survivors and
            # dropped used to be separately checkpointed, with dropped an
            # anti-join recomputing the identical partition — they are
            # opposite filters over this one checkpointed degree table).
            # r15 opt (guide §2.4, one action per round instead of two):
            # the checkpoint is LAZY — the dropped.count() below is the
            # round's only action, and its first pass over the plan both
            # materializes the checkpoint blocks and counts the drops; the
            # eager form paid a separate materialization job per round and
            # then counted over the blocks in a second job.
            joined = joined.localCheckpoint(eager=False)
        survivors = joined.filter(F.col("dd") >= k).select("node")
        dropped = joined.filter(F.col("dd") < k).select(
            "node", F.lit(i).cast("int").alias("peel_round")
        )
        # 1-row scalar on an already-materialized checkpoint (the repo's
        # documented bounded-collect class): a zero-drop round is the
        # FIXPOINT — degrees only change when nodes drop, so every later
        # round also drops nothing and the unrolled oracle's remaining
        # rounds are identity. Early exit saves the dead rounds (fixpoints
        # measured at 3/5/10 of the KCORE_ROUNDS=12 bound across SFs) with
        # a bit-identical result, including the convergence certificate
        # (the final bounded round provably drops 0 too).
        last_drop_count = dropped.count()
        drops = dropped if drops is None else drops.unionAll(dropped)
        remaining = survivors
        final_deg = joined
        if last_drop_count == 0:
            break
    if last_drop_count == 0:
        # fixpoint exit: zero drops means this round's input set IS the
        # final core, so its checkpointed degree table already holds every
        # core node's within-core degree — reuse it instead of re-running
        # the two semi-joins + aggregate over the edge list (r14 opt; the
        # exhausted-bound branch below keeps the recompute, where degrees
        # may have changed after the last drop)
        core_deg = final_deg.select(
            "node", F.col("dd").cast("long").alias("core_degree")
        )
    else:
        ru = remaining.select(F.col("node").alias("u"))
        rv = remaining.select(F.col("node").alias("v"))
        live = edges.join(ru, "u", "left_semi").join(rv, "v", "left_semi")
        core_deg = (
            remaining.join(
                live.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("core_degree")),
                "node",
                "left",
            )
            .select("node", F.coalesce("core_degree", F.lit(0)).cast("long").alias("core_degree"))
        )
    converged = bool(last_drop_count == 0)
    return (
        deg0.select("node")
        .join(drops, "node", "left")
        .join(core_deg, "node", "left")
        .select(
            F.col("node").alias("part"),
            F.lit(int(k)).cast("long").alias("k"),
            F.col("peel_round").isNull().alias("in_core"),
            F.col("peel_round").cast("int").alias("peel_round"),
            F.col("core_degree").cast("long").alias("core_degree"),
            F.lit(converged).alias("converged"),
        )
    )
