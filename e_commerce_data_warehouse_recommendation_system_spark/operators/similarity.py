"""Similarity search over the ``embeddings`` table (array<float> vectors).

Beyond-reference extension (task brief): approximate-nearest-neighbor over an
embedding column — brute-force cosine top-k as the exact baseline, plus a
sign-random-projection LSH bucketed variant as the scale path. Generalizes
the reference's cosine machinery (normalize + dot products,
reference: mf_knn_recommender.py:258-266, 507-508) from NumPy matrices to
distributed DataFrames.

Numeric determinism: dot products and squared norms accumulate through
DECIMAL(30,12) (exact, order-independent) and only the final
division/sqrt happens in double — so cosines hash-match the DuckDB oracle
bit-for-bit. Vectors are float32 in storage, widened to float64 first
(exact widening in both engines).

Scale posture (100 TB of vectors): the exact variant is O(n^2) and exists
for verification and small candidate sets; the LSH variant shuffles on
bucket signatures only. For real workloads the bucket width (n planes) is
tuned so buckets fit executor memory; IVF (k-means cells) drops in the same
slot with trained centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.registry import (
    component,
    register,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

TOPK = 5
QUERY_MODULUS = 100  # vec_id % 100 == 0 -> deterministic query subset
#: Multi-table LSH: independent tables OR-ed together. 12 tables x 3 bits
#: measured recall@5 = 1.00/0.84/0.94 at sf0.001/0.01/0.1 (vs 0.44-0.48 for
#: the r5 4x4-bit config) — serving quality, not just "finds something".
#: At production corpus sizes bits-per-table scales up (bucket occupancy ~
#: n/2^bits must fit a task) and the table count buys recall back.
LSH_TABLES = 12
LSH_PLANES_PER_TABLE = 3  # 8 buckets per table
LSH_PLANES = LSH_TABLES * LSH_PLANES_PER_TABLE
IVF_CELLS = 16
#: Multi-probe IVF: each query probes its 8 nearest centroids. On these
#: synthetic near-isotropic embeddings the cell structure is weak, so a
#: wide probe is what buys recall (8/16 cells measured recall@5 =
#: 0.88/0.96/0.92 across SFs vs 0.54-0.72 at 3 probes); real embedding
#: corpora cluster, so production runs more cells (~sqrt(n)) at a smaller
#: probe fraction for the same recall.
IVF_PROBES = 8


def _dec(c: Column) -> Column:
    return c.cast("decimal(30,12)")


def _dot(a: Column, b: Column) -> Column:
    """Exact dot product: per-element double products (IEEE-identical in any
    engine) -> decimal accumulation -> double."""
    prods = F.zip_with(a, b, lambda x, y: _dec(x * y))
    return F.aggregate(prods, F.lit(0).cast("decimal(30,12)"), lambda acc, x: _dec(acc + x)).cast(
        "double"
    )


def frame_with_norms(e: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>, nrm: double) from any frame carrying
    (vec_id, embedding: array<float>) — the prep step, parameterized so
    streaming micro-batches (stream_ivf_ingest) run the IDENTICAL
    expression as the batch index builds."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    with_v = e.select("vec_id", v.alias("v"))
    return with_v.select("vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))


def vectors_with_norms(spark: SparkSession) -> DataFrame:
    """(vec_id, v: array<double>, nrm: double) — the shared prep step."""
    return frame_with_norms(spark.table("embeddings"))


# DuckDB twin: long-format elements -> decimal-summed dots and norms.
_SQL_ELEMS = """
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
"""

_SQL_NORMS = """
  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
"""


def cosine_pairs_sql(threshold: float) -> str:
    """DuckDB oracle for all-pairs cosine above a threshold."""
    return f"""
    WITH elems AS ({_SQL_ELEMS}),
    norms AS ({_SQL_NORMS}),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(30,12))) AS DOUBLE) AS dot
      FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON id_a = na.vec_id
    JOIN norms nb ON id_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= {threshold}
    """


def _dot_fast(a: Column, b: Column) -> Column:
    """Double-accumulated dot product: sequential array fold, deterministic
    but not decimal-exact — the cheap prefilter, never the reported value."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_pairs(spark: SparkSession, threshold: float) -> DataFrame:
    """All vector pairs with cosine >= threshold (exact). Used by the
    embedding near-dup operator; O(n^2) — verification scale only.

    Two-pass: a cheap double-precision dot prunes pairs below
    threshold−1e-6 (a 64-dim double fold cannot drift more than that from
    the decimal value), then the decimal-exact cosine decides the final,
    oracle-matching predicate on the survivors only."""
    vecs = vectors_with_norms(spark).cache()
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos_fast = _dot_fast(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    survivors = pairs.filter(cos_fast >= threshold - 1e-6)
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return survivors.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH elems AS ({_SQL_ELEMS}),
    norms AS ({_SQL_NORMS}),
    queries AS (SELECT vec_id FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0),
    dots AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(SUM(CAST(qe.x * e.x AS DECIMAL(30,12))) AS DOUBLE) AS dot
      FROM queries q
      JOIN elems qe ON qe.vec_id = q.vec_id
      JOIN elems e ON e.i = qe.i AND e.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id, dot / (na.nrm * nb.nrm) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot / (na.nrm * nb.nrm) DESC, neighbor_id) AS rnk
      FROM dots
      JOIN norms na ON query_id = na.vec_id
      JOIN norms nb ON neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= {TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: deterministic query subset x full corpus,
    per-query window top-k (the W3 pattern). The fact side (corpus) is
    scanned once; queries broadcast. Exact baseline for the LSH variant."""
    prepare(spark, sf_dir)
    # query side and corpus side both derive from the same normed frame;
    # cache so the decimal norm pass runs once over the embeddings scan
    vecs = vectors_with_norms(spark).cache()
    queries = vecs.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    pairs = F.broadcast(queries).join(corpus, F.col("query_id") != F.col("neighbor_id"))
    # r14 opt — two-phase top-k (the cosine_pairs prefilter convention,
    # applied to ranking): the decimal-exact fold used to run on EVERY
    # query x corpus pair (~400k at sf0.1) when only ~TOPK pairs per query
    # are ever reported. Phase 1 scores all pairs with the cheap double
    # fold and keeps, per query, everything within 2e-6 of the k-th best
    # double score (1e-6 drift bound per fold, twice: once for the
    # candidate, once for the threshold pair — any true decimal top-k
    # member provably survives). Phase 2 re-scores the survivors with the
    # decimal-exact fold and ranks on THAT, so reported cosines, ordering
    # and tie-breaks are bit-identical to the single-phase plan. NaN/short
    # guards keep the equivalence unconditional: a NULL threshold (corpus
    # < k) or NaN anywhere keeps the pair as a candidate.
    cos_fast = _dot_fast(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    # narrow (ids + fast score) frame, materialized ONCE: both the
    # per-query threshold and the candidate filter read it, and the decimal
    # phase re-attaches vectors to the few survivors instead of carrying
    # both 64-dim arrays through the whole fast pass twice (guide §8:
    # decide with small rows, attach the payload once)
    fast = (
        pairs.select("query_id", "neighbor_id", cos_fast.alias("_cf"))
        .localCheckpoint(eager=True)
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("_cf"), F.asc("neighbor_id"))
    thr = (
        fast.withColumn("_rf", F.row_number().over(w_f))
        .filter(F.col("_rf") == TOPK)
        .select("query_id", F.col("_cf").alias("_cf_k"))
    )
    cand = (
        fast.join(F.broadcast(thr), "query_id", "left")
        .filter(
            F.col("_cf_k").isNull()
            | F.isnan(F.col("_cf"))
            | F.isnan(F.col("_cf_k"))
            | (F.col("_cf") >= F.col("_cf_k") - F.lit(2e-6))
        )
        .select("query_id", "neighbor_id")
    )
    qside = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cside = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = cand.join(F.broadcast(qside), "query_id").join(cside, "neighbor_id").select(
        "query_id", "neighbor_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
    )


@component(
    "sim_l2_normalize",
    cols=[("vec_id", "num"), ("nrm", "dbl"), ("unit_head", "dbl")],
    oracle=f"""
    WITH elems AS ({_SQL_ELEMS}),
    norms AS ({_SQL_NORMS})
    SELECT e.vec_id, n.nrm,
           CASE WHEN n.nrm > 0 THEN e.x / n.nrm ELSE 0.0 END AS unit_head
    FROM elems e JOIN norms n ON e.vec_id = n.vec_id
    WHERE e.i = 1
    """,
)
def sim_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: L2 normalization (reference: mf_knn_recommender.py:258-266 uses
    sklearn.preprocessing.normalize before scoring). The norm is
    decimal-exact; the digest exposes (vec_id, norm, first unit component)
    so the normalize step itself is hash-checked — full unit vectors stay
    distributed (array-valued results don't hash portably).

    Suite component since round 5: its driver slot went to
    session_window_native (VERDICT r4 item 6) — this op is a single
    map-side expression, the weakest claim on an own slot; the full-result
    oracle is unchanged and still checked via --components."""
    prepare(spark, sf_dir)
    vecs = vectors_with_norms(spark)
    unit_head = F.when(
        F.col("nrm") > 0, F.element_at("v", 1) / F.col("nrm")
    ).otherwise(F.lit(0.0))
    return vecs.select("vec_id", "nrm", unit_head.alias("unit_head"))


#: Session-memoized ANN indexes, keyed (kind, SparkContext id, sf_dir).
#: Index CONSTRUCTION (KMeans training / bucket membership) is the
#: amortized-offline step of any ANN system — at 100 TB the index is built
#: at ingest and re-used by every query batch, so each query runs against
#: a built index, exactly like the ALS model memo vs its serving paths.
_ANN_INDEX_CACHE: dict = {}


def _session_key(spark: SparkSession, kind: str, *parts) -> tuple:
    """Cache key for SESSION-BOUND index entries (cached/localCheckpointed
    frames die with their session). Keyed on applicationId, not
    id(sparkContext) (r13 ADVICE): CPython can recycle an id() after the
    old context is garbage-collected, so an id-keyed memo could serve a
    new session frames belonging to a dead one. Entries from other
    application ids are evicted on the way in (the _HYBRID_CACHE
    convention); session-independent entries (plain-Python PQ codebooks,
    key[0] != "sess") are untouched."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _ANN_INDEX_CACHE if k[0] == "sess" and k[1] != app]:
        del _ANN_INDEX_CACHE[stale]
    return ("sess", app, kind, *parts)


def _ivf_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build (or fetch) the IVF index: KMeans(seed=42) centroids + the
    cell-assigned corpus, both materialized in the executor cache."""
    key = _session_key(spark, "ivf", sf_dir)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = vectors_with_norms(spark).cache()
    features = vecs.select("vec_id", "v", "nrm", array_to_vector("v").alias("fv"))
    km = KMeans(k=IVF_CELLS, seed=42, featuresCol="fv", predictionCol="cell")
    model = km.fit(features.select("fv"))
    assigned = model.transform(features).select("vec_id", "v", "nrm", "cell").cache()
    assigned.count()  # materialize: the index is BUILT, not a lazy plan
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        schema="cell int, cv array<double>",
    )
    _ANN_INDEX_CACHE[key] = {"assigned": assigned, "centroids": centroids}
    return _ANN_INDEX_CACHE[key]


def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) cells — the trained-partitioning scale
    path next to the LSH variant: KMeans(seed=42) centroids, every vector
    assigned to its nearest cell, queries MULTI-PROBE their ``IVF_PROBES``
    nearest cells (ranked by centroid distance), exact cosine re-ranks
    within the probed cells (recall floor 0.8 pinned in
    tests/test_ann_recall.py).

    At 100 TB: centroids are KBs (broadcast), cell assignment is one
    map-side pass, and the candidate join shuffles on cell id — recall is
    tuned by probes x cells, never by widening to the O(n^2) pair space.
    The index (centroids + assignment) is built once per (session, data)
    and memoized — the offline step; the query path below is what serving
    latency is. Approximate by construction -> rows-only check; the exact
    twin ``sim_cosine_topk`` carries correctness.
    """
    prepare(spark, sf_dir)
    idx = _ivf_index(spark, sf_dir)
    return _ivf_query(idx["assigned"], idx["centroids"])


def _ivf_query(
    assigned: DataFrame, centroids: DataFrame, probes: int = IVF_PROBES
) -> DataFrame:
    """The IVF multi-probe serving path over ANY (assigned, centroids)
    pair — split from :func:`sim_ann_ivf_topk` so the persisted-index
    round-trip (``sim_ivf_index_persist``) can drive the IDENTICAL query
    plan from a reloaded index. ``probes`` defaults to the production
    constant; the rebalance maintenance op scales it with its grown cell
    count so probed-mass fraction (probes/cells) is preserved."""
    queries = assigned.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "cell")
    probed = (
        queries.join(F.broadcast(centroids))
        .select("query_id", "qv", "qn", "cell", dist2.alias("d2"))
        .withColumn("probe_rnk", F.row_number().over(w_probe))
        .filter(F.col("probe_rnk") <= probes)
        .select("query_id", "qv", "qn", "cell")
    )
    corpus = assigned.select(
        "cell", F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    pairs = probed.join(corpus, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    # r14 opt — the sim_cosine_topk two-phase, applied to the probed pair
    # space: the decimal-exact fold used to run on every probed pair when
    # only TOPK per query are reported. Phase 1: cheap double fold into a
    # narrow (ids + score) checkpoint (duplicate cell hits collapse here —
    # same pair, same score, so dedup before/after scoring is equivalent);
    # keep per query everything within 2e-6 of the k-th best double score
    # (the provably-lossless margin, see sim_cosine_topk). Phase 2:
    # re-attach vectors to survivors, rank on the decimal-exact cosine —
    # reported rows bit-identical.
    cos_fast = _dot_fast(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    fast = (
        pairs.select("query_id", "neighbor_id", cos_fast.alias("_cf"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .localCheckpoint(eager=True)
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("_cf"), F.asc("neighbor_id"))
    thr = (
        fast.withColumn("_rf", F.row_number().over(w_f))
        .filter(F.col("_rf") == TOPK)
        .select("query_id", F.col("_cf").alias("_cf_k"))
    )
    cand = (
        fast.join(F.broadcast(thr), "query_id", "left")
        .filter(
            F.col("_cf_k").isNull()
            | F.isnan(F.col("_cf"))
            | F.isnan(F.col("_cf_k"))
            | (F.col("_cf") >= F.col("_cf_k") - F.lit(2e-6))
        )
        .select("query_id", "neighbor_id")
    )
    qside = queries.select("query_id", "qv", "qn")
    cside = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.join(F.broadcast(qside), "query_id")
        .join(cside, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= TOPK
    )


def lsh_membership(
    vecs: DataFrame,
    n_tables: int,
    planes_per_table: int,
    plane_source: DataFrame | None = None,
) -> DataFrame:
    """Multi-table sign-LSH bucket membership: (vec_id, tbl, bucket).

    Hyperplanes are data-derived deterministically (the ``n_tables *
    planes_per_table`` lowest vec_ids — no driver-side randomness), so the
    DuckDB twin (:func:`cosine_pairs_lsh_sql`) reproduces the buckets
    bit-for-bit: the sign decision runs on the decimal-exact dot product in
    both engines. Shared by the ANN top-k path and the embedding near-dup
    candidate generator. Shuffles (vec_id, plane_id, bit) rows only — never
    float arrays.

    ``plane_source`` optionally draws the hyperplanes from a DIFFERENT
    frame than the one being hashed — the cross-tower case (CLIP retrieval
    indexes the image tower but must hash text queries against the SAME
    planes so query and corpus buckets are comparable)."""
    n_planes = n_tables * planes_per_table
    planes = (
        (plane_source if plane_source is not None else vecs)
        .orderBy("vec_id")
        .limit(n_planes)
        .select(F.col("vec_id").alias("plane_id"), F.col("v").alias("pv"))
    )
    bits = vecs.join(F.broadcast(planes)).select(
        "vec_id",
        "plane_id",
        F.when(_dot(F.col("v"), F.col("pv")) >= 0, F.lit("1")).otherwise(F.lit("0")).alias("bit"),
    )
    bit_arr = F.transform(
        F.array_sort(F.collect_list(F.struct("plane_id", "bit"))), lambda s: s["bit"]
    )
    sigs = bits.groupBy("vec_id").agg(bit_arr.alias("bits"))
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                F.concat_ws(
                    "",
                    *[
                        F.element_at("bits", t * planes_per_table + j + 1)
                        for j in range(planes_per_table)
                    ],
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return sigs.select("vec_id", F.explode(tables).alias("tb")).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def _lsh_planes_sql(n_tables: int, planes_per_table: int) -> str:
    """DuckDB CTE fragments reproducing :func:`lsh_membership` exactly."""
    n_planes = n_tables * planes_per_table
    return f"""
    planes AS (
      SELECT vec_id AS plane_id,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS plane_pos
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_planes})
    ),
    bits AS (
      SELECT e.vec_id, p.plane_pos,
             CASE WHEN CAST(SUM(CAST(e.x * pe.x AS DECIMAL(30,12))) AS DOUBLE) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM elems e
      JOIN planes p ON TRUE
      JOIN elems pe ON pe.vec_id = p.plane_id AND pe.i = e.i
      GROUP BY e.vec_id, p.plane_pos
    ),
    membership AS (
      SELECT vec_id,
             CAST(FLOOR(plane_pos / {planes_per_table}) AS INT) AS tbl,
             STRING_AGG(bit, '' ORDER BY plane_pos) AS bucket
      FROM bits
      GROUP BY vec_id, CAST(FLOOR(plane_pos / {planes_per_table}) AS INT)
    )"""


def cosine_pairs_lsh(
    spark: SparkSession, threshold: float, n_tables: int, planes_per_table: int
) -> DataFrame:
    """Bucketed near-dup pair mining: sign-LSH candidates (same bucket in
    ANY table), then exact decimal cosine on the candidates only — the
    100 TB shape: the candidate join shuffles on (table, bucket), never the
    O(n^2) pair space. Deterministic (data-derived planes), so the DuckDB
    twin :func:`cosine_pairs_lsh_sql` reproduces it bit-for-bit. Recall vs
    the exact all-pairs twin is tuned by tables x planes (OR-amplification);
    the exact form stays available as :func:`cosine_pairs` for
    verification scale."""
    vecs = vectors_with_norms(spark).cache()
    membership = lsh_membership(vecs, n_tables, planes_per_table)
    a = membership.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    b = membership.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    candidates = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = candidates.join(va, "id_a").join(vb, "id_b")
    cos_fast = _dot_fast(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    survivors = pairs.filter(cos_fast >= threshold - 1e-6)
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return survivors.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def cosine_pairs_lsh_sql(threshold: float, n_tables: int, planes_per_table: int) -> str:
    """DuckDB oracle for the BUCKETED pair miner: identical plane choice,
    sign bits, table buckets, candidate set, and exact cosine — a
    full-fidelity differential test of the bucketed algorithm itself."""
    return f"""
    WITH elems AS ({_SQL_ELEMS}),
    norms AS ({_SQL_NORMS}),
    {_lsh_planes_sql(n_tables, planes_per_table)},
    candidates AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM membership a
      JOIN membership b ON a.tbl = b.tbl AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CAST(ea.x * eb.x AS DECIMAL(30,12))) AS DOUBLE) AS dot
      FROM candidates c
      JOIN elems ea ON ea.vec_id = c.id_a
      JOIN elems eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON id_a = na.vec_id
    JOIN norms nb ON id_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= {threshold}
    """


def _lsh_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build (or fetch) the LSH index: normed vectors + multi-table bucket
    membership, materialized in the executor cache. At 100 TB the
    membership table is computed once at ingest (it is a column of the
    corpus, not per-query work)."""
    key = _session_key(spark, "lsh", sf_dir)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    vecs = vectors_with_norms(spark).cache()
    membership = lsh_membership(vecs, LSH_TABLES, LSH_PLANES_PER_TABLE).cache()
    membership.count()  # materialize the index
    _ANN_INDEX_CACHE[key] = {"vecs": vecs, "membership": membership}
    return _ANN_INDEX_CACHE[key]


def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via MULTI-TABLE sign-random-projection LSH — the scale path.

    Hyperplanes are data-derived deterministically (the ``LSH_PLANES``
    lowest vec_ids — no driver-side randomness). Each of ``LSH_TABLES``
    independent tables hashes on ``LSH_PLANES_PER_TABLE`` sign bits;
    candidates are same-bucket collisions in ANY table (OR-amplification —
    a single 8-bit table measured 4% recall@5; 4×4-bit tables ~50%; the
    current 12×3-bit config measures 0.84-1.00 across SFs, floor pinned at
    ≥0.6 in tests/test_ann_recall.py). Exact cosine re-ranks candidates.

    Approximate by construction, hence no SQL oracle: the driver records a
    rows-only check and ``sim_cosine_topk`` carries exact correctness. At
    scale: bit computation shuffles (vec_id, plane_id, bit) only; the
    per-table bucket membership explodes map-side (like the MinHash bands);
    the candidate join shuffles on (table, bucket), never the O(n^2) pair
    space; recall tunes via tables x planes. The membership table is the
    INDEX — built once per (session, data) and memoized; the query path
    below (bucket-collision candidates + exact re-rank) is the serving
    cost.
    """
    prepare(spark, sf_dir)
    idx = _lsh_index(spark, sf_dir)
    vecs, membership = idx["vecs"], idx["membership"]
    a = membership.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    b = membership.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    candidates = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    pairs = candidates.join(q, "query_id").join(c, "neighbor_id")
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
    )


# --------------------------------------------------------------------------
# ANN recall digest: the driver-visible contract for both approximate paths
# --------------------------------------------------------------------------

#: Floors pinned in tests/test_ann_recall.py; measured minima across
#: sf0.001/0.01/0.1 are 0.84 (LSH, 12x3-bit tables) and 0.88 (IVF,
#: 8-probe) — the floors sit a full step below the worst measurement so
#: only a real bucketing/probing regression trips them, not SF noise.
LSH_RECALL_FLOOR = 0.6
IVF_RECALL_FLOOR = 0.8


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> Column:
    """recall@k averaged over queries: |approx ∩ exact| / k per query."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .na.fill({"n_hits": 0})
    )
    return per_q.agg(F.avg(F.col("n_hits") / F.lit(TOPK)).alias("recall")).collect()[0][
        "recall"
    ]


@register(
    "sim_ann_digest",
    oracle=f"""
    SELECT 'ivf' AS method,
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT)
             AS n_queries,
           TRUE AS recall_floor_met
    UNION ALL
    SELECT 'lsh',
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT),
           TRUE
    """,
)
def sim_ann_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN ladder's oracle row: run BOTH approximate paths (multi-table
    sign-LSH and IVF cells) against the exact brute-force baseline and emit
    per-method (n_queries, recall@k >= floor). The recall values themselves
    are algorithm-specific (hence not SQL-expressible), but the floors —
    LSH >= {LSH_RECALL_FLOOR}, IVF >= {IVF_RECALL_FLOOR} — are the
    regression contract, computed from genuine recall, so a broken bucket
    join flips this digest red. Benchmarked via the split sim_ann_lsh /
    sim_ann_ivf workloads (exact baseline has its own sim_cosine_topk
    slot) — this digest verifies, it is not what the clock measures."""
    prepare(spark, sf_dir)
    exact = _exact_cosine_pairs(spark, sf_dir)  # memoized per (session, sf)
    lsh_recall = _recall_vs_exact(exact, sim_ann_lsh_topk(spark, sf_dir))
    ivf_recall = _recall_vs_exact(exact, sim_ann_ivf_topk(spark, sf_dir))
    n_queries = exact.select("query_id").distinct().count()
    return spark.createDataFrame(
        [
            ("ivf", n_queries, bool(ivf_recall >= IVF_RECALL_FLOOR)),
            ("lsh", n_queries, bool(lsh_recall >= LSH_RECALL_FLOOR)),
        ],
        schema="method string, n_queries bigint, recall_floor_met boolean",
    )


# --------------------------------------------------------------------------
# Embedding compression: int8 scalar quantization
# --------------------------------------------------------------------------

QUANT_LEVELS = 254  # codes 0..254 (255 values); keeps the arithmetic small


@component(
    "sim_quantize_int8",
    cols=[
        ("vec_id", "num"),
        ("i", "num"),
        ("code", "num"),
        ("vmin", "dbl"),
        ("vmax", "dbl"),
    ],
    oracle=f"""
    WITH stats AS (
      SELECT vec_id,
             CAST(list_min(embedding) AS DOUBLE) AS vmin,
             CAST(list_max(embedding) AS DOUBLE) AS vmax
      FROM embeddings
    ),
    elems AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT e.vec_id, CAST(e.i AS INT) AS i,
           CASE WHEN s.vmax = s.vmin THEN 0
                ELSE CAST(FLOOR(((e.x - s.vmin) * {QUANT_LEVELS}.0) / (s.vmax - s.vmin)) AS INT)
           END AS code,
           s.vmin, s.vmax
    FROM elems e JOIN stats s ON e.vec_id = s.vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the storage/
    bandwidth move every 100 TB vector corpus makes before ANN serving
    (4 bytes -> 1 byte per dimension; IVF/LSH candidate generation runs on
    codes, exact re-scoring on the float originals). Per-vector min/max
    scaling: code = floor((x - min) * L / (max - min)), L={QUANT_LEVELS}.

    Cross-engine determinism: every input widens float32 -> float64 (exact),
    and both engines evaluate the SAME double expression tree — subtraction,
    one multiply, one divide are each correctly-rounded IEEE ops, so the
    quotient is bit-identical and FLOOR of it is identical. No decimal
    detour needed because no accumulation crosses rows. Degenerate
    constant vectors (max = min) map to code 0 explicitly.

    Scale posture: narrow per-row transforms only (array min/max +
    posexplode) — NO shuffle anywhere in the operator; it pipelines over
    the embeddings scan. The long format (vec_id, i, code) is the
    verification view; a production sink would keep codes packed as
    array<tinyint>."""
    prepare(spark, sf_dir)
    e = spark.table("embeddings")
    vmin = F.array_min("embedding").cast("double")
    vmax = F.array_max("embedding").cast("double")
    with_stats = e.select("vec_id", "embedding", vmin.alias("vmin"), vmax.alias("vmax"))
    exploded = with_stats.select(
        "vec_id",
        "vmin",
        "vmax",
        F.posexplode("embedding").alias("i0", "x_f"),
    )
    x = F.col("x_f").cast("double")
    code = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.floor(((x - F.col("vmin")) * QUANT_LEVELS) / (F.col("vmax") - F.col("vmin"))).cast(
            "int"
        )
    )
    return exploded.select(
        "vec_id",
        (F.col("i0") + 1).cast("int").alias("i"),
        code.cast("int").alias("code"),
        "vmin",
        "vmax",
    )


# --------------------------------------------------------------------------
# Embedding clustering: distributed k-means (trained centroids)
# --------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_SEED = 42

#: Memoized fit per sf_dir (one entry — stale dirs evicted), so the
#: clustering component and the balanced-sample component share one
#: training pass instead of refitting per caller.
_KMEANS_CACHE: dict[str, object] = {}


def _kmeans_model(spark: SparkSession, sf_dir: str):
    """Fit (or reuse) k-means on the embedding corpus; returns
    (model, assignments DF of vec_id/prediction)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepare(spark, sf_dir)
    fv = spark.table("embeddings").select(
        "vec_id",
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features"),
    )
    if sf_dir not in _KMEANS_CACHE:
        for stale in [k for k in _KMEANS_CACHE if k != sf_dir]:
            del _KMEANS_CACHE[stale]
        _KMEANS_CACHE[sf_dir] = KMeans(
            k=KMEANS_K, seed=KMEANS_SEED, featuresCol="features"
        ).fit(fv)
    model = _KMEANS_CACHE[sf_dir]
    return model, model.transform(fv).select("vec_id", "prediction")


@component(
    "sim_kmeans_clusters",
    cols=[
        ("algo", "str"),
        ("k", "num"),
        ("n_assigned", "num"),
        ("assignments_in_range", "bool"),
        ("inertia_finite", "bool"),
    ],
    oracle=f"""
    SELECT 'kmeans_embeddings' AS algo,
           CAST({KMEANS_K} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM embeddings) AS n_assigned,
           TRUE AS assignments_in_range,
           TRUE AS inertia_finite
    """,
)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding corpus (MLlib, k-means||
    init) — the clustering step a curation pipeline uses for topic-balanced
    sampling and cluster-level dedup, and the TRAINED form of the IVF cell
    dictionary (sim_ann_ivf_topk derives its cells from hash-projections;
    production IVF uses exactly these centroids). Every vector is assigned
    to a cell; the contract row carries the SQL-derivable count (all
    vectors assigned) plus flags computed from the genuine fit: assignments
    in [0, k), finite training cost. Raw centroids are
    algorithm/partitioning-specific by construction, hence digest-checked
    (same class as ALS factors).

    Scale posture: MLlib k-means is the canonical distributed Lloyd's —
    broadcast centroids, map-side partial sums, one small reduce per
    iteration; cost O(n·k·d) per pass with no shuffle of the corpus
    itself. The only driver-side values are the bounded contract scalars."""
    import math

    model, pred = _kmeans_model(spark, sf_dir)
    stats = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                (F.col("prediction") < 0) | (F.col("prediction") >= KMEANS_K)
            ).cast("long")
        ).alias("bad"),
    ).collect()[0]
    inertia = float(model.summary.trainingCost)
    return spark.createDataFrame(
        [
            (
                "kmeans_embeddings",
                stats.n,
                bool((stats.bad or 0) == 0),
                bool(math.isfinite(inertia) and inertia >= 0.0),
            )
        ],
        schema="algo string, n_assigned bigint, assignments_in_range boolean, inertia_finite boolean",
    ).select(
        "algo",
        F.lit(KMEANS_K).cast("bigint").alias("k"),
        "n_assigned",
        "assignments_in_range",
        "inertia_finite",
    )


#: SemDeDup cosine threshold — aligned with COSINE_DUP_THRESHOLD's band
#: (the synthetic embeddings plant no exact duplicates; 0.35 is where
#: same-cluster vectors genuinely land), so the prune has real work at
#: both test SFs and the kept-purity postcondition checks a kept set
#: that actually excluded drops.
SEMDEDUP_TAU = 0.35


@component(
    "sim_semantic_dedup",
    cols=[
        ("algo", "str"),
        ("n_vectors", "num"),
        ("k", "num"),
        ("tau_micro", "num"),
        ("conservation", "bool"),
        ("kept_pure", "bool"),
        ("dropped_in_range", "bool"),
    ],
    oracle=f"""
    SELECT 'semantic_dedup' AS algo,
           (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           CAST({KMEANS_K} AS BIGINT) AS k,
           CAST({int(SEMDEDUP_TAU * 1_000_000)} AS BIGINT) AS tau_micro,
           TRUE AS conservation,
           TRUE AS kept_pure,
           TRUE AS dropped_in_range
    """,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus (the memoized k-means
    fit shared with sim_kmeans_clusters / the balanced sampler), then drop
    every vector that has a LOWER-id neighbor with cosine >= tau inside
    its own cluster — the keep-min-id rule makes the result deterministic,
    and restricting pairs to cells is the whole point of the algorithm:
    pair space is sum(|cell|^2) ~ n^2/k, never all-pairs (the exact
    counterpart, dedup_embedding_cosine, is the verification-scale
    baseline; this is the curation-scale path).

    Contract flags are computed from the genuine run, each from an
    INDEPENDENT frame so no flag is a tautology of its own join:
    conservation (kept + dropped == corpus, counted separately),
    kept_pure (a SECOND pair pass over the kept subset finds zero
    similar pairs — the algorithm's postcondition), dropped_in_range.
    Cluster populations and therefore kept/dropped counts are
    model-dependent (same digest class as the k-means fit); n_vectors is
    SQL-exact.

    Scale posture: norms and cells computed once (one narrow scan + the
    memoized fit's broadcast-centroid assignment); the within-cell
    self-join shuffles on the cell id; the double-precision dot prefilter
    (cosine_pairs' two-pass trick) prunes before the decimal-exact
    cosine. The purity recheck doubles the pair work and exists for
    verification — a production pipeline samples it."""
    model, pred = _kmeans_model(spark, sf_dir)
    cells = pred.select("vec_id", F.col("prediction").alias("cell"))
    m = vectors_with_norms(spark).join(cells, "vec_id").cache()
    n = m.count()

    def sim_pairs(frame: DataFrame) -> DataFrame:
        # r14 opt (guide §4.2): the within-cell pair join used to
        # MATERIALIZE every candidate pair row carrying both 64-dim arrays
        # (~251k pair rows at sf0.1) and run the interpreted double-fold
        # prefilter per pair — measured ~2.8 s per pass, twice per run.
        # Candidate MINING now happens per cell in one vectorized numpy
        # pass (each vector crosses the Python boundary once per cell, not
        # once per pair; the cell matmul is BLAS), emitting only the
        # (id_a, id_b) survivors of the SAME conservative prefilter
        # (tau - 1e-6: a 64-dim float64 accumulation cannot drift more
        # than that from the decimal value, the cosine_pairs bound). The
        # decimal-exact cosine still decides the final, oracle-matching
        # predicate on the survivors only, so the result set is identical.
        tau_floor = SEMDEDUP_TAU - 1e-6

        # r15 opt (guide §5 spill safety / r14 ADVICE): the r14 form
        # pd.concat'ed the WHOLE partition before grouping by cell —
        # peak worker memory was every vector of the partition, not of
        # one cell. Cells are made CONTIGUOUS by a Spark-side
        # sortWithinPartitions, so the worker streams batch-by-batch
        # holding one pandas batch plus the trailing partial cell.
        # The emitted (min,max) pair set is row-order-insensitive, so
        # the sort cannot change the result.
        def mine(batches):
            import numpy as np
            import pandas as pd

            def mine_cells(pdf):
                for _, g in pdf.groupby("cell", sort=False):
                    ids = g["vec_id"].to_numpy()
                    if len(ids) < 2:
                        continue
                    mat = np.vstack(g["v"].to_numpy())
                    nrm = g["nrm"].to_numpy()
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = (mat @ mat.T) / np.outer(nrm, nrm)
                    iu, ju = np.triu_indices(len(ids), k=1)
                    keep = cos[iu, ju] >= tau_floor  # NaN (zero norm) fails
                    a, b = ids[iu[keep]], ids[ju[keep]]
                    yield pd.DataFrame(
                        {
                            "id_a": np.minimum(a, b).astype("int64"),
                            "id_b": np.maximum(a, b).astype("int64"),
                        }
                    )

            carry = None
            for pdf in batches:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                    carry = None
                if len(pdf) == 0:
                    continue
                cells_col = pdf["cell"]
                # rows of the last cell may continue into the next batch:
                # hold them back (cell ascending — the Spark-side sort)
                cut = int(cells_col.searchsorted(cells_col.iat[-1], side="left"))
                carry = pdf.iloc[cut:]
                if cut == 0:
                    continue
                yield from mine_cells(pdf.iloc[:cut])
            if carry is not None and len(carry):
                yield from mine_cells(carry)

        cand = (
            frame.select("vec_id", "v", "nrm", "cell")
            .repartition(F.col("cell"))
            .sortWithinPartitions("cell")
            .mapInPandas(mine, schema="id_a bigint, id_b bigint")
        )
        va = frame.select(
            F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
        )
        vb = frame.select(
            F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        )
        cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .filter(cos >= SEMDEDUP_TAU)
            .select("id_a", "id_b")
        )

    dropped = sim_pairs(m).select(F.col("id_b").alias("vec_id")).distinct().cache()
    n_dropped = dropped.count()
    kept = m.join(dropped, "vec_id", "left_anti").cache()
    n_kept = kept.count()
    # independent postcondition: the kept set contains NO similar pair
    n_kept_pairs = sim_pairs(kept).count()
    return spark.createDataFrame(
        [
            (
                "semantic_dedup",
                n,
                KMEANS_K,
                int(SEMDEDUP_TAU * 1_000_000),
                bool(n_kept + n_dropped == n),
                bool(n_kept_pairs == 0),
                bool(0 <= n_dropped < max(n, 1)),
            )
        ],
        schema=(
            "algo string, n_vectors bigint, k bigint, tau_micro bigint, "
            "conservation boolean, kept_pure boolean, dropped_in_range boolean"
        ),
    )


CLUSTER_SAMPLE_CAP = 40


@component(
    "sim_cluster_balanced_sample",
    cols=[
        ("algo", "str"),
        ("cap", "num"),
        ("k", "num"),
        ("balanced", "bool"),
        ("cap_respected", "bool"),
        ("sample_is_subset", "bool"),
    ],
    oracle=f"""
    SELECT 'cluster_balanced_sample' AS algo,
           CAST({CLUSTER_SAMPLE_CAP} AS BIGINT) AS cap,
           CAST({KMEANS_K} AS BIGINT) AS k,
           TRUE AS balanced,
           TRUE AS cap_respected,
           TRUE AS sample_is_subset
    """,
)
def sim_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced sampling via the trained k-means cells: each cluster
    contributes at most CLUSTER_SAMPLE_CAP vectors, chosen deterministically
    by md5 rank within the cluster — the curation move that stops one
    dominant topic from flooding a training mix (the cluster-level
    counterpart of ``text_stratified_sample``'s per-language rates).

    Contract flags are computed from the genuine sample: per-cluster
    sampled count == min(cap, cluster size) for EVERY cluster (balanced),
    never above cap, and the sample joins back onto the assignments
    (subset). Cluster populations are model-dependent, hence digest-checked
    (same class as the k-means fit itself).

    Scale posture: the rank is a window PARTITIONED by cluster — bounded
    per-key state, no global sort (k-means shares the fit via
    ``_kmeans_model``, one training pass per sf_dir). The verification
    joins group on at most k keys."""
    from pyspark.sql.window import Window

    _, pred = _kmeans_model(spark, sf_dir)
    w = Window.partitionBy("prediction").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    sample = (
        pred.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= CLUSTER_SAMPLE_CAP)
        .drop("_rn")
    )
    sizes = pred.groupBy("prediction").agg(F.count(F.lit(1)).alias("n_in"))
    sampled = sample.groupBy("prediction").agg(F.count(F.lit(1)).alias("n_samp"))
    per_cluster = sizes.join(sampled, "prediction", "left").select(
        "prediction",
        "n_in",
        F.coalesce("n_samp", F.lit(0)).alias("n_samp"),
    )
    stats = per_cluster.agg(
        F.sum(
            (
                F.col("n_samp") != F.least(F.lit(CLUSTER_SAMPLE_CAP), F.col("n_in"))
            ).cast("long")
        ).alias("unbalanced"),
        F.max("n_samp").alias("max_samp"),
    ).collect()[0]
    n_orphans = sample.join(pred, ["vec_id", "prediction"], "left_anti").count()
    return spark.createDataFrame(
        [
            (
                "cluster_balanced_sample",
                bool((stats.unbalanced or 0) == 0),
                bool((stats.max_samp or 0) <= CLUSTER_SAMPLE_CAP),
                bool(n_orphans == 0),
            )
        ],
        schema="algo string, balanced boolean, cap_respected boolean, sample_is_subset boolean",
    ).select(
        "algo",
        F.lit(CLUSTER_SAMPLE_CAP).cast("bigint").alias("cap"),
        F.lit(KMEANS_K).cast("bigint").alias("k"),
        "balanced",
        "cap_respected",
        "sample_is_subset",
    )


# --------------------------------------------------------------------------
# Product quantization (PQ codebooks: the memory layout behind IVF-PQ ANN)
# --------------------------------------------------------------------------

PQ_M = 4  # subspaces: 64-dim vectors -> 4 x 16-dim subvectors
PQ_K = 16  # centroids per subspace codebook -> 4-bit codes
#: reconstruction must beat the trivial 1-centroid codebook (encoding every
#: subvector as its subspace mean) by a wide margin — the regression
#: tripwire that a broken codebook fit can't pass.
PQ_MSE_RATIO_MAX = 0.9


def _pq_codebooks(
    spark: SparkSession, sf_dir: str, n_sub: int = PQ_M, k: int = PQ_K
) -> "list[list[list[float]]]":
    """Fit one k-means codebook per subspace (memoized per (sf_dir, M, K)
    alongside the IVF/LSH indexes). Codebooks are M x K x (D/M) floats —
    bounded KBs regardless of corpus size, the broadcastable asset PQ is
    built around. The (M, K) knobs trade storage for distance resolution:
    the compression layout (sim_pq_codes) runs coarse; the ADC search path
    (sim_pq_adc_search) runs a finer search-grade codebook."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    key = ("pq", sf_dir, n_sub, k)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    prepare(spark, sf_dir)
    e = spark.table("embeddings")
    dim = len(e.select("embedding").first().embedding)
    dsub = dim // n_sub
    books = []
    for m in range(n_sub):
        sub = e.select(
            array_to_vector(
                F.transform(
                    F.slice("embedding", m * dsub + 1, dsub), lambda x: x.cast("double")
                )
            ).alias("features")
        )
        model = KMeans(k=k, seed=KMEANS_SEED + m, featuresCol="features").fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    _ANN_INDEX_CACHE[key] = books
    return books


def pq_encode(
    spark: SparkSession, sf_dir: str, books: "list[list[list[float]]] | None" = None
) -> DataFrame:
    """Encode every embedding as PQ codes: per subspace, the index of the
    nearest codebook centroid, plus that subspace's squared reconstruction
    error. Returns (vec_id, codes array<int>, sq_err double).

    Plan shape: the codebooks enter as a LITERAL nested array (KBs), so
    encoding is a pure map-side projection over the embeddings scan — JVM
    higher-order functions (zip_with/aggregate/array_position), zero
    shuffle, zero Python. This is the 100 TB property that makes PQ the
    standard vector-corpus memory layout: a 64-dim float32 vector (256 B)
    becomes M={PQ_M} 4-bit codes, and distance tables against the bounded
    codebook replace full-precision scans."""
    if books is None:
        books = _pq_codebooks(spark, sf_dir)
    e = spark.table("embeddings")
    dsub = len(books[0][0])
    code_cols, err_cols = [], []
    for m, book in enumerate(books):
        sub = F.transform(
            F.slice("embedding", m * dsub + 1, dsub), lambda x: x.cast("double")
        )
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array(*[F.lit(c) for c in cent]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cent in book
            ]
        )
        best = F.array_min(dists)
        code_cols.append((F.array_position(dists, best) - 1).cast("int"))
        err_cols.append(best)
    sq_err = err_cols[0]
    for c in err_cols[1:]:
        sq_err = sq_err + c
    return e.select(
        "vec_id", F.array(*code_cols).alias("codes"), sq_err.alias("sq_err")
    )


@component(
    "sim_pq_codes",
    cols=[("metric", "str"), ("value_num", "dbl")],
    oracle=f"""
    SELECT 'n_vectors' AS metric,
           CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) AS value_num
    UNION ALL SELECT 'm_subspaces', CAST({PQ_M} AS DOUBLE)
    UNION ALL SELECT 'codebook_k', CAST({PQ_K} AS DOUBLE)
    UNION ALL SELECT 'compression_x',
           (SELECT CAST(MAX(len(embedding)) * 4.0 / {PQ_M} AS DOUBLE) FROM embeddings)
    UNION ALL SELECT 'codes_in_range', CAST(1.0 AS DOUBLE)
    UNION ALL SELECT 'mse_beats_mean_code', CAST(1.0 AS DOUBLE)
    """,
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization over the embedding corpus — the compression
    layout production ANN serving (IVF-PQ) stores vectors in: M={PQ_M}
    per-subspace k-means codebooks of K={PQ_K} centroids, each vector
    encoded as M nearest-centroid indexes (64x smaller than float32 at
    these parameters; the int8 scalar twin is sim_quantize_int8).

    Digest contract: corpus size and compression ratio are SQL-derivable;
    the fit quality is flag-checked from genuine values — every code in
    [0, K), and total reconstruction MSE under {PQ_MSE_RATIO_MAX} of the
    1-centroid-codebook baseline (encoding each subvector as its subspace
    mean — the variance of the data), which a degenerate codebook cannot
    pass. Centroids themselves are algorithm-specific (same digest class
    as ALS factors / k-means cells).

    Scale: fit cost is M bounded k-means runs (broadcast centroids,
    map-side partials); encoding is shuffle-free map-side projection
    (pq_encode); the baseline variance pass is one partial-agg over
    (dim-bounded) exploded positions."""
    prepare(spark, sf_dir)
    encoded = pq_encode(spark, sf_dir)
    st = encoded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.exists("codes", lambda c: (c < 0) | (c >= PQ_K))
            ).cast("long")
        ).alias("bad"),
        F.sum("sq_err").alias("tot_err"),
    ).collect()[0]
    e = spark.table("embeddings")
    dim = len(e.select("embedding").first().embedding)
    # 1-centroid baseline = total variance around per-dim means
    pos = e.select(F.posexplode("embedding").alias("i", "x")).select(
        "i", F.col("x").cast("double").alias("x")
    )
    var = (
        pos.groupBy("i")
        .agg((F.sum(F.col("x") * F.col("x")) - F.pow(F.sum("x"), 2) / F.count("x")).alias("ss"))
        .agg(F.sum("ss").alias("tot_ss"))
        .collect()[0]
    )
    ratio = float(st.tot_err) / max(float(var.tot_ss), 1e-12)
    rows = [
        ("n_vectors", float(st.n)),
        ("m_subspaces", float(PQ_M)),
        ("codebook_k", float(PQ_K)),
        ("compression_x", dim * 4.0 / PQ_M),
        ("codes_in_range", 1.0 if (st.bad or 0) == 0 else 0.0),
        ("mse_beats_mean_code", 1.0 if ratio <= PQ_MSE_RATIO_MAX else 0.0),
    ]
    return spark.createDataFrame(rows, schema="metric string, value_num double")


# --------------------------------------------------------------------------
# PQ-ADC search: asymmetric-distance shortlist + exact rerank (IVF-PQ serving)
# --------------------------------------------------------------------------

#: ADC shortlist size before the exact rerank — the production IVF-PQ knob:
#: the code scan keeps SHORTLIST candidates per query on compressed codes
#: alone; only those SHORTLIST rows ever touch full-precision vectors.
PQ_SHORTLIST = 50
#: search-grade codebook: finer than the storage layout (sim_pq_codes runs
#: M=4 x 4-bit). 16 subspaces x 16 centroids = 4-dim subvectors at 4 bits
#: each — 16 B/vector, still 16x smaller than float32, with enough distance
#: resolution to rank. Storage-grade M=4 measured recall@5 of only
#: 0.07-0.20 on these near-isotropic synthetic vectors (ADC variance
#: swamps the signal at 16-dim subspaces); search-grade M=16 is the
#: standard production split (FAISS: OPQxx_64,IVFxx,PQ16 class indexes).
PQ_SEARCH_M = 16
PQ_SEARCH_K = 16
#: floors pinned a step below the measured minima so only a real
#: table/rerank regression trips them, not SF noise. Measured recall@5 on
#: the synthetic near-isotropic vectors (sf0.001 / sf0.01): ADC-only
#: 0.36 / 0.40 — distance concentration in 64-dim random data makes
#: code-only ranking genuinely noisy, which is WHY production IVF-PQ
#: reranks — and shortlist-50 rerank 1.000 / 1.000.
PQ_ADC_RECALL_FLOOR = 0.3
PQ_RERANK_RECALL_FLOOR = 0.9
#: rerank shortlist = max(PQ_SHORTLIST, corpus // PQ_SHORTLIST_DIV) — a
#: corpus-proportional candidate budget: the fixed 50 covered 10% of the
#: 500-vector corpora but only 2.5% at sf0.1's 2000 and rerank recall fell
#: to 0.79 (shortlist containment IS the rerank ceiling). 10% restores
#: containment 0.97 at sf0.1 (measured: 50→0.79, 100→0.93, 200→0.97,
#: 500→1.0) while leaving the small-SF budgets at the 50 floor. The
#: divisor is the tuning knob production trades against scan cost —
#: near-isotropic synthetic vectors are ADC's worst case, so this corpus
#: needs a fatter budget than a clustered real one would.
PQ_SHORTLIST_DIV = 10


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential double fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_l2_topk(spark: SparkSession) -> DataFrame:
    """Brute-force squared-L2 top-k over the deterministic query subset —
    the exact baseline ADC approximates (same shape as sim_cosine_topk's
    brute force, metric swapped)."""
    e = spark.table("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    queries = e.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    pairs = F.broadcast(queries).join(corpus, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", _sq_l2(F.col("qv"), F.col("cv")).alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= TOPK
    )


def _search_codes(
    spark: SparkSession, sf_dir: str, books: "list[list[list[float]]]"
) -> DataFrame:
    """Memoized PQ code table for the search-grade codebooks: the encode
    pass (M×K centroid distances per corpus row) is the scan the ADC and
    IVF-PQ digests share — encode once per (session, data, codebook), not
    once per search variant."""
    key = _session_key(spark, "pqcodes", sf_dir, len(books), len(books[0]))
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    df = pq_encode(spark, sf_dir, books=books).select("vec_id", "codes").cache()
    df.count()
    _ANN_INDEX_CACHE[key] = df
    return df


def _exact_l2_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized exact squared-L2 baseline (same registry as the IVF/LSH/PQ
    index assets): the PQ-ADC digest and the combined IVF-PQ digest both
    measure recall against it in one suite run — computing the brute force
    once per (session, data) instead of per digest."""
    key = _session_key(spark, "l2exact", sf_dir)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    df = _exact_l2_topk(spark).cache()
    df.count()
    _ANN_INDEX_CACHE[key] = df
    return df


def pq_adc_topk(spark: SparkSession, sf_dir: str, rerank: bool) -> DataFrame:
    """PQ asymmetric-distance top-k: per query, a distance TABLE (M x K
    query-subvector-to-centroid squared distances) is computed once from
    the full-precision query, then every corpus vector's approximate
    distance is M table lookups on its 4-bit codes — no corpus float math.
    With ``rerank`` the ADC order only builds a corpus-proportional
    shortlist — max({PQ_SHORTLIST}, corpus // {PQ_SHORTLIST_DIV}) candidates
    — and exact L2 on the shortlist decides the final top-k (the standard
    IVF-PQ serving pipeline; the proportional budget keeps shortlist
    containment, and thus rerank recall, from decaying as the corpus grows
    past the fixed floor).

    Scale: the query set rides a broadcast (tables are M*K doubles per
    query — KBs); the corpus side is the shuffle-free PQ-encode projection,
    so the scan cost per corpus row is M element_at lookups; the only
    shuffle is the per-query window over n_queries x corpus candidate rows
    (bounded by the same budget as the exact baseline, but each row carried
    codes, not 64 doubles), and the rerank touches full vectors for
    n_queries x shortlist rows only."""
    books = _pq_codebooks(spark, sf_dir, n_sub=PQ_SEARCH_M, k=PQ_SEARCH_K)
    n_sub = len(books)
    dsub = len(books[0][0])
    e = spark.table("embeddings")
    qsub = [
        F.transform(
            F.slice("embedding", m * dsub + 1, dsub), lambda x: x.cast("double")
        )
        for m in range(n_sub)
    ]
    qtabs = F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            qsub[m],
                            F.array(*[F.lit(c) for c in cent]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for cent in books[m]
                ]
            )
            for m in range(n_sub)
        ]
    )
    queries = e.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), qtabs.alias("qtabs")
    )
    codes = _search_codes(spark, sf_dir, books).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    cand = F.broadcast(queries).join(codes, F.col("query_id") != F.col("neighbor_id"))
    adc = None
    for m in range(n_sub):
        term = F.element_at(
            F.element_at(F.col("qtabs"), m + 1), F.col("codes").getItem(m) + 1
        )
        adc = term if adc is None else adc + term
    # memoize the scored scan: the digest measures BOTH the code-only and
    # the reranked variant in one suite run — the n_queries x corpus ADC
    # scan is their shared cost (production serves one variant and would
    # not cache this; the digest measures two from one scan)
    skey = _session_key(spark, "adcscored", sf_dir)
    if skey in _ANN_INDEX_CACHE:
        scored = _ANN_INDEX_CACHE[skey]
    else:
        scored = cand.select("query_id", "neighbor_id", adc.alias("adc_d2")).cache()
        _ANN_INDEX_CACHE[skey] = scored
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    if not rerank:
        return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
            F.col("rnk") <= TOPK
        )
    # corpus-proportional shortlist: a FIXED 50 covers 10% of a 500-vector
    # corpus but 1% at 5k, and shortlist misses cap rerank recall (measured
    # 0.79 at sf0.1 with the fixed form — the round-8 sf0.1 capstone catch).
    # FAISS practice scales the candidate budget with the corpus; 10% with
    # the old 50 as the floor keeps the small-SF behavior identical. The
    # count is a catalog statistic at production scale, not a scan.
    n_corpus = spark.table("embeddings").count()
    shortlist_k = max(PQ_SHORTLIST, n_corpus // PQ_SHORTLIST_DIV)
    shortlist = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= shortlist_k
    )
    vecs = spark.table("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    cv = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    exact = (
        shortlist.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", _sq_l2(F.col("qv"), F.col("cv")).alias("d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return exact.withColumn("rnk", F.row_number().over(w2).cast("int")).filter(
        F.col("rnk") <= TOPK
    )


@component(
    "sim_pq_adc_search",
    cols=[("method", "str"), ("n_queries", "num"), ("recall_floor_met", "bool")],
    oracle=f"""
    SELECT 'pq_adc' AS method,
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT) AS n_queries,
           TRUE AS recall_floor_met
    UNION ALL
    SELECT 'pq_adc_rerank',
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT),
           TRUE
    """,
)
def sim_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over the PQ codes — the serving path that completes the
    PQ story (sim_pq_codes certifies the layout; this certifies you can
    ANSWER QUERIES from it): code-only asymmetric-distance top-k, and the
    production form with an exact rerank over the corpus-proportional
    max({PQ_SHORTLIST}, corpus // {PQ_SHORTLIST_DIV})-candidate ADC
    shortlist. Same digest contract as sim_ann_digest: recall@{TOPK}
    against the exact squared-L2 brute force is measured from genuine
    results and checked against floors (ADC-only >=
    {PQ_ADC_RECALL_FLOOR} — code-only ranking is genuinely noisy on
    near-isotropic synthetic vectors, measured 0.36-0.40; rerank >=
    {PQ_RERANK_RECALL_FLOOR}, measured 1.000 at sf0.001/0.01 where the
    50 floor binds and 0.970 at sf0.1 where the proportional budget
    takes over — a fixed 50 measured 0.79 there — the floor that proves
    the shortlist contains the true neighbors and the rerank recovers
    them)."""
    prepare(spark, sf_dir)
    exact = _exact_l2_baseline(spark, sf_dir)
    adc_recall = _recall_vs_exact(exact, pq_adc_topk(spark, sf_dir, rerank=False))
    rr_recall = _recall_vs_exact(exact, pq_adc_topk(spark, sf_dir, rerank=True))
    n_queries = exact.select("query_id").distinct().count()
    return spark.createDataFrame(
        [
            ("pq_adc", n_queries, bool(adc_recall >= PQ_ADC_RECALL_FLOOR)),
            ("pq_adc_rerank", n_queries, bool(rr_recall >= PQ_RERANK_RECALL_FLOOR)),
        ],
        schema="method string, n_queries bigint, recall_floor_met boolean",
    )


# --------------------------------------------------------------------------
# IVF-PQ combined search: probe cells -> ADC on codes -> exact rerank
# --------------------------------------------------------------------------

#: floor pinned a step below the measured minimum (see docstring) so only
#: a real probe/table/rerank regression trips it, not SF noise.
IVFPQ_RECALL_FLOOR = 0.7


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN pipeline (FAISS IVFPQ class): IVF probe
    restricts the scan to the query's {IVF_PROBES} nearest cells, ADC on
    {PQ_SEARCH_M}x4-bit codes ranks the probed candidates without
    touching corpus floats, and exact L2 reranks the corpus-proportional
    max({PQ_SHORTLIST}, corpus // {PQ_SHORTLIST_DIV})-candidate shortlist
    (same budget rule as pq_adc_topk — a fixed shortlist caps rerank
    recall once the corpus outgrows it). Composes the two memoized
    index assets (IVF cell assignment, PQ codebooks) the standalone ops
    certify separately.

    Scale: candidate volume is corpus x probes/cells (the IVF knob),
    scanned at {PQ_SEARCH_M} bytes/vector (the PQ knob); full-precision
    vectors are read for n_queries x shortlist rows only. The
    distance tables are per-query KBs riding the probe broadcast; the
    only corpus-sized shuffle is the candidate join on cell id."""
    idx = _ivf_index(spark, sf_dir)
    assigned, centroids = idx["assigned"], idx["centroids"]
    books = _pq_codebooks(spark, sf_dir, n_sub=PQ_SEARCH_M, k=PQ_SEARCH_K)
    n_sub = len(books)
    dsub = len(books[0][0])
    # per-query ADC distance tables from the full-precision query vector
    # (assigned.v is already double — float->double is exact)
    qsub = [F.slice("qv", m * dsub + 1, dsub) for m in range(n_sub)]
    qtabs = F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            qsub[m],
                            F.array(*[F.lit(c) for c in cent]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for cent in books[m]
                ]
            )
            for m in range(n_sub)
        ]
    )
    queries = assigned.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "cell")
    probes = (
        queries.join(F.broadcast(centroids))
        .select("query_id", "qv", "cell", dist2.alias("d2"))
        .withColumn("probe_rnk", F.row_number().over(w_probe))
        .filter(F.col("probe_rnk") <= IVF_PROBES)
        .select("query_id", qtabs.alias("qtabs"), "cell")
    )
    codes = (
        _search_codes(spark, sf_dir, books)
        .select(F.col("vec_id").alias("neighbor_id"), "codes")
        .join(
            assigned.select(F.col("vec_id").alias("neighbor_id"), "cell"),
            "neighbor_id",
        )
    )
    cand = probes.join(codes, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    adc = None
    for m in range(n_sub):
        term = F.element_at(
            F.element_at(F.col("qtabs"), m + 1), F.col("codes").getItem(m) + 1
        )
        adc = term if adc is None else adc + term
    scored = cand.select("query_id", "neighbor_id", adc.alias("adc_d2")).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    # same corpus-proportional shortlist as pq_adc_topk: a fixed 50 caps
    # rerank recall once the corpus outgrows it (the sf0.1 failure mode the
    # ADC rerank already fixed); corpus // PQ_SHORTLIST_DIV with 50 as floor
    n_corpus = spark.table("embeddings").count()
    shortlist_k = max(PQ_SHORTLIST, n_corpus // PQ_SHORTLIST_DIV)
    shortlist = scored.withColumn("rnk", F.row_number().over(w_adc)).filter(
        F.col("rnk") <= shortlist_k
    )
    vecs = assigned.select("vec_id", "v")
    qv = vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    cv = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    exact = (
        shortlist.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", _sq_l2(F.col("qv"), F.col("cv")).alias("d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return exact.withColumn("rnk", F.row_number().over(w2).cast("int")).filter(
        F.col("rnk") <= TOPK
    )


@component(
    "sim_ivf_pq_search",
    cols=[("method", "str"), ("n_queries", "num"), ("recall_floor_met", "bool")],
    oracle=f"""
    SELECT 'ivf_pq_rerank' AS method,
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT) AS n_queries,
           TRUE AS recall_floor_met
    """,
)
def sim_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest for the combined IVF-PQ pipeline (ivf_pq_topk): recall@{TOPK}
    against the exact squared-L2 brute force, measured from genuine
    results, checked against the {IVFPQ_RECALL_FLOOR} floor. The
    composition can only lose recall where its parts do — cell probing
    misses (IVF leg, standalone floor {IVF_RECALL_FLOOR}) or shortlist
    misses (ADC leg, standalone rerank floor {PQ_RERANK_RECALL_FLOOR})
    — so the combined floor sits below the IVF leg's. Measured
    (sf0.001 / sf0.01 / sf0.1): 0.880 / 0.960 / 0.920 — the sf0.1 figure
    with the corpus-proportional rerank shortlist (r9)."""
    prepare(spark, sf_dir)
    exact = _exact_l2_baseline(spark, sf_dir)
    recall = _recall_vs_exact(exact, ivf_pq_topk(spark, sf_dir))
    n_queries = exact.select("query_id").distinct().count()
    return spark.createDataFrame(
        [("ivf_pq_rerank", n_queries, bool(recall >= IVFPQ_RECALL_FLOOR))],
        schema="method string, n_queries bigint, recall_floor_met boolean",
    )


# --------------------------------------------------------------------------
# Embedding drift monitor (per-dimension cohort mean shift)
# --------------------------------------------------------------------------


@component(
    "sim_embedding_drift",
    cols=[
        ("i", "num"),
        ("mean_ref", "dbl"),
        ("mean_cand", "dbl"),
        ("abs_shift", "dbl"),
    ],
    oracle="""
    WITH elems AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    g AS (
      SELECT CAST(i AS INT) AS i,
             CAST(SUM(CASE WHEN vec_id % 2 = 0
                           THEN CAST(x AS DECIMAL(30,12)) END) AS DOUBLE)
               / COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS mean_ref,
             CAST(SUM(CASE WHEN vec_id % 2 = 1
                           THEN CAST(x AS DECIMAL(30,12)) END) AS DOUBLE)
               / COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS mean_cand
      FROM elems GROUP BY i
    )
    SELECT i, mean_ref, mean_cand, ABS(mean_ref - mean_cand) AS abs_shift
    FROM g
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-dimension mean shift between a
    reference cohort and a candidate cohort (deterministic vec_id parity
    split here; in production: last week's corpus vs this week's, or
    training-time vs serving-time embeddings). A silent encoder change,
    normalization bug, or upstream distribution shift shows up as
    per-dimension mean displacement long before ANN recall visibly decays
    — this is the embedding-pipeline analog of the tabular DQ checks
    (dq_value_outliers for values, this for representations).

    Exactness: per-dim means accumulate through DECIMAL(30,12) (the same
    order-independent trick as the cosine oracles) and divide once in
    double, so both engines agree bit-for-bit and the check is a FULL
    oracle, not a digest. Shape: one posexplode (dim-bounded fan-out,
    map-side) + one partial-agg shuffle on the 64-value dim key; both
    cohort aggregates compute in the SAME pass via conditional
    aggregation — one scan however many cohorts."""
    prepare(spark, sf_dir)
    e = spark.table("embeddings")
    elems = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x_f")
    ).select(
        "vec_id",
        (F.col("i0") + 1).cast("int").alias("i"),
        F.col("x_f").cast("double").alias("x"),
    )
    ref = F.col("vec_id") % 2 == 0
    dec = F.col("x").cast("decimal(30,12)")
    g = elems.groupBy("i").agg(
        (
            F.sum(F.when(ref, dec)).cast("double")
            / F.count(F.when(ref, F.lit(1)))
        ).alias("mean_ref"),
        (
            F.sum(F.when(~ref, dec)).cast("double")
            / F.count(F.when(~ref, F.lit(1)))
        ).alias("mean_cand"),
    )
    return g.select(
        "i",
        "mean_ref",
        "mean_cand",
        F.abs(F.col("mean_ref") - F.col("mean_cand")).alias("abs_shift"),
    )


# --------------------------------------------------------------------------
# Chunk-to-document embedding pooling (round 11)
# --------------------------------------------------------------------------

#: consecutive chunks pooled into one document embedding (the
#: chunk->doc grouping a long-doc embedding pipeline produces: each doc's
#: chunks carry consecutive ids, so the group key is a range bucket).
POOL_CHUNKS_PER_DOC = 8


@component(
    "sim_chunk_pool_embeddings",
    cols=[
        ("group_id", "num"),
        ("n_chunks", "num"),
        ("head_sum", "dbl"),
        ("weighted_sum", "dbl"),
        ("total_sum", "dbl"),
    ],
    oracle=f"""
    WITH elems AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    per_vec AS (
      SELECT vec_id // {POOL_CHUNKS_PER_DOC} AS group_id, vec_id,
             SUM(CASE WHEN i = 1 THEN CAST(x AS DECIMAL(30,12)) END) AS h,
             SUM(CAST(x * i AS DECIMAL(30,12))) AS w,
             SUM(CAST(x AS DECIMAL(30,12))) AS t
      FROM elems GROUP BY 1, 2
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(h) AS DOUBLE) AS head_sum,
           CAST(SUM(w) AS DOUBLE) AS weighted_sum,
           CAST(SUM(t) AS DOUBLE) AS total_sum
    FROM per_vec GROUP BY group_id
    """,
)
def sim_chunk_pool_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding POOLING — the step between chunk-level
    embedding and doc-level retrieval/near-dup in a long-document
    pipeline: every {POOL_CHUNKS_PER_DOC} consecutive chunk vectors
    (vec_id range bucket — chunk ids are consecutive per doc by
    construction) mean-pool into one document embedding. The digest
    crosses the engine boundary as decimal-exact SUMS plus the chunk
    count (mean = sum/count — sums are the lossless form, the _dot
    convention: per-element double products, DECIMAL(30,12) accumulation,
    one terminal double cast): the FIRST component (alignment anchor),
    the index-weighted sum (catches any per-index misalignment the plain
    total would miss), and the grand total. Full pooled vectors stay
    distributed — array results don't hash portably.

    Scale: one map-side fold per vector (no explode — elements never
    become rows) + one hash groupBy on the range-bucket key; output is
    |corpus|/{POOL_CHUNKS_PER_DOC} fixed-width rows."""
    prepare(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    zero = F.lit(0).cast("decimal(30,12)")
    dec_fold = lambda col: F.aggregate(  # noqa: E731 — the _dot fold shape
        col, zero, lambda acc, x: _dec(acc + x)
    )
    weighted = F.zip_with(
        "embedding",
        F.sequence(F.lit(1), F.size("embedding")),
        lambda x, i: _dec(x.cast("double") * i),
    )
    plain = F.transform("embedding", lambda x: _dec(x.cast("double")))
    per_vec = emb.select(
        F.expr(f"vec_id div {POOL_CHUNKS_PER_DOC}").alias("group_id"),
        _dec(F.element_at("embedding", 1).cast("double")).alias("h"),
        dec_fold(weighted).alias("w"),
        dec_fold(plain).alias("t"),
    )
    return per_vec.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("h").cast("double").alias("head_sum"),
        F.sum("w").cast("double").alias("weighted_sum"),
        F.sum("t").cast("double").alias("total_sum"),
    )


# --------------------------------------------------------------------------
# ANN index persistence: the feature-store round-trip for the IVF index
# --------------------------------------------------------------------------


@component(
    "sim_ivf_index_persist",
    cols=[("label", "str"), ("value_num", "num")],
    oracle=f"""
    SELECT label, CAST(value_num AS BIGINT) AS value_num FROM (
      SELECT 'n_cells' AS label, {IVF_CELLS} AS value_num
      UNION ALL SELECT 'n_assigned', (SELECT COUNT(*) FROM embeddings)
      UNION ALL SELECT 'assignment_conserved_ok', 1
      UNION ALL SELECT 'reloaded_topk_identical_ok', 1
    )
    """,
)
def sim_ivf_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX PERSISTENCE: the S16 model-roundtrip contract lifted to
    the retrieval index — centroids + cell assignment land in a parquet
    store, a fresh session-independent reload drives the IDENTICAL
    multi-probe query plan (the shared ``_ivf_query``), and the served
    top-k must match the in-memory index's answer row-for-row (rank
    tuples AND cosines: a parquet double round-trips bit-exactly, so the
    same expression tree on the same values reproduces identical
    scores). This is the feature-store deployment shape: the index is
    built offline once, persisted, and every serving replica loads it —
    a drifted assignment or truncated store shows up as a flipped flag.

    Counts are SQL-exact (cells = the fixed k; assigned rows = the
    embeddings table); the parity flags are computed from genuine frame
    comparisons (per-cell count reconciliation; order-insensitive
    EXCEPT in both directions on the full top-k tuples).

    Scale: the persisted index is the cell-assigned corpus (one parquet
    table, partitionable by cell for probe-pruned reads) + KB-sized
    centroids; the comparison is two anti-joins on the k-bounded result."""
    import shutil
    import tempfile

    prepare(spark, sf_dir)
    idx = _ivf_index(spark, sf_dir)
    assigned, centroids = idx["assigned"], idx["centroids"]
    mem_topk = _ivf_query(assigned, centroids).localCheckpoint(eager=True)

    tmp = tempfile.mkdtemp(prefix="ecomdw_ivf_")
    try:
        assigned.write.parquet(f"{tmp}/assigned")
        centroids.write.parquet(f"{tmp}/centroids")
        r_assigned = spark.read.parquet(f"{tmp}/assigned")
        r_centroids = spark.read.parquet(f"{tmp}/centroids")
        n_cells = r_centroids.count()
        n_assigned = r_assigned.count()
        # assignment conservation: per-cell counts identical after reload
        mem_cells = {r["cell"]: r["n"] for r in
                     assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
        rel_cells = {r["cell"]: r["n"] for r in
                     r_assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
        conserved = mem_cells == rel_cells and n_assigned == assigned.count()
        reload_topk = _ivf_query(r_assigned, r_centroids).localCheckpoint(eager=True)
        diff = (
            mem_topk.exceptAll(reload_topk).count()
            + reload_topk.exceptAll(mem_topk).count()
        )
        identical = diff == 0 and mem_topk.count() == reload_topk.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rows = [
        ("n_cells", n_cells),
        ("n_assigned", n_assigned),
        ("assignment_conserved_ok", 1 if conserved else 0),
        ("reloaded_topk_identical_ok", 1 if identical else 0),
    ]
    return spark.createDataFrame(rows, schema="label string, value_num bigint")


# --------------------------------------------------------------------------
# ANN incremental ingestion: grow the IVF index without a refit
# --------------------------------------------------------------------------

#: residue rule for the "newly arrived" vector batch: vec_id % 10 == 0
#: (~10% of the corpus). Chosen so every query id (vec_id % 100 == 0) sits
#: INSIDE the batch by arithmetic — queries are unservable before the add
#: and servable after, making the ingestion visible in the contract.
IVF_INC_BATCH_MOD = 10


def _nearest_cell(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-side nearest-centroid assignment over the broadcast centroid
    table — the serving-replica form of index placement (no model object,
    just the KB-sized centroid frame): each vector joins IVF_CELLS
    centroid rows, squared distance folds element-wise in double, argmin
    ties break to the lowest cell id. Deterministic by construction, so
    incremental and one-shot assignment are THE SAME EXPRESSION."""
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        vecs.join(F.broadcast(centroids))
        .select("vec_id", "v", "nrm", "cell", d2.alias("d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "v", "nrm", "cell")
    )


def _incremental_fixtures(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized base/batch split + base-fitted centroids shared by the
    incremental-add contract component and the r14 lifecycle rung: the
    batch is the vec_id % IVF_INC_BATCH_MOD residue, centroids are fitted
    on the BASE slice only (a genuine out-of-training ingestion)."""
    key = _session_key(spark, "ivf_inc", sf_dir)
    if key not in _ANN_INDEX_CACHE:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = vectors_with_norms(spark).cache()
        base = vecs.filter(F.col("vec_id") % IVF_INC_BATCH_MOD != 0)
        batch = vecs.filter(F.col("vec_id") % IVF_INC_BATCH_MOD == 0)
        km = KMeans(k=IVF_CELLS, seed=42, featuresCol="fv", predictionCol="cell")
        model = km.fit(base.select(array_to_vector("v").alias("fv")))
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            schema="cell int, cv array<double>",
        )
        _ANN_INDEX_CACHE[key] = {
            "base": base,
            "batch": batch,
            "vecs": vecs,
            "centroids": centroids,
        }
    return _ANN_INDEX_CACHE[key]


@component(
    "sim_ivf_incremental_add",
    cols=[("label", "str"), ("value_num", "num")],
    oracle=f"""
    SELECT label, CAST(value_num AS BIGINT) AS value_num FROM (
      SELECT 'n_base' AS label,
             (SELECT COUNT(*) FROM embeddings
              WHERE vec_id % {IVF_INC_BATCH_MOD} <> 0) AS value_num
      UNION ALL SELECT 'n_batch',
             (SELECT COUNT(*) FROM embeddings
              WHERE vec_id % {IVF_INC_BATCH_MOD} = 0)
      UNION ALL SELECT 'n_queries_before', 0
      UNION ALL SELECT 'n_queries_after',
             (SELECT COUNT(*) FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0)
      UNION ALL SELECT 'assignment_additive_ok', 1
      UNION ALL SELECT 'serve_identical_ok', 1
    )
    """,
)
def sim_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index ingestion — the growing-vector-store contract:
    new vectors are placed into the EXISTING IVF index by assigning them
    to the frozen centroids (no k-means refit — the offline/online split
    every production ANN store runs: refits are scheduled maintenance,
    arrivals are continuous). The batch is the vec_id % {IVF_INC_BATCH_MOD}
    residue; centroids are fitted on the BASE slice only, so the add is a
    genuine out-of-training ingestion. Every query id sits inside the
    batch by arithmetic (% {QUERY_MODULUS} ⊂ % {IVF_INC_BATCH_MOD}), so
    the before/after query counts (0 → all) make the ingestion itself
    driver-visible, not just internally flagged.

    Contract flags, computed from genuine frame comparisons:
    ``assignment_additive_ok`` — per-cell counts of base-assignment +
    incremental batch equal a one-shot assignment of the full corpus
    against the same centroids (the same deterministic nearest-centroid
    expression, so any drift is real plumbing breakage: double-added
    rows, dropped ids, a stale centroid table); ``serve_identical_ok`` —
    the shared multi-probe query plan (``_ivf_query``) over the
    incrementally-grown index answers row-identically (ranks AND cosines,
    both-ways exceptAll) to the one-shot index.

    Scale: assignment is a map-side join against the broadcast KB-sized
    centroid table (per-vector fan-out = IVF_CELLS, then argmin) — the
    batch never shuffles against the corpus; the union is metadata; the
    serve comparison is k-bounded per query."""
    prepare(spark, sf_dir)
    idx = _incremental_fixtures(spark, sf_dir)
    base, batch, vecs, centroids = (
        idx["base"],
        idx["batch"],
        idx["vecs"],
        idx["centroids"],
    )
    base_assigned = _nearest_cell(base, centroids).localCheckpoint(eager=True)
    n_base = base_assigned.count()
    # queries live in the batch residue: before the add, the index serves
    # zero of them (genuine count over the pre-add index)
    n_queries_before = base_assigned.filter(
        F.col("vec_id") % QUERY_MODULUS == 0
    ).count()
    inc_assigned = _nearest_cell(batch, centroids)
    grown = base_assigned.unionByName(inc_assigned).localCheckpoint(eager=True)
    n_batch = grown.count() - n_base
    n_queries_after = grown.filter(F.col("vec_id") % QUERY_MODULUS == 0).count()
    oneshot = _nearest_cell(vecs, centroids).localCheckpoint(eager=True)
    # additivity: per-cell reconciliation (bounded: IVF_CELLS rows)
    g_cells = {
        r["cell"]: r["n"]
        for r in grown.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    o_cells = {
        r["cell"]: r["n"]
        for r in oneshot.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    additive = g_cells == o_cells and grown.count() == oneshot.count()
    grown_topk = _ivf_query(grown, centroids).localCheckpoint(eager=True)
    oneshot_topk = _ivf_query(oneshot, centroids).localCheckpoint(eager=True)
    diff = (
        grown_topk.exceptAll(oneshot_topk).count()
        + oneshot_topk.exceptAll(grown_topk).count()
    )
    identical = diff == 0 and grown_topk.count() == oneshot_topk.count()
    rows = [
        ("n_base", n_base),
        ("n_batch", n_batch),
        ("n_queries_before", n_queries_before),
        ("n_queries_after", n_queries_after),
        ("assignment_additive_ok", 1 if additive else 0),
        ("serve_identical_ok", 1 if identical else 0),
    ]
    return spark.createDataFrame(rows, schema="label string, value_num bigint")


# --------------------------------------------------------------------------
# IVF index maintenance: cell-balance census + hot-cell split (round 13)
# --------------------------------------------------------------------------

#: a cell is HOT when its size exceeds this percentage of the mean cell
#: size (100 * n * IVF_CELLS > PCT * n_vectors) — integer arithmetic so
#: the threshold is engine-portable. 125 % catches the measured skew at
#: every shipped SF (max/mean 1.92 / 2.14 / 1.42 at sf0.001/0.01/0.1).
IVF_HOT_CELL_PCT = 125


def _rebalance_assignments(
    spark: SparkSession,
    assigned: DataFrame,
    centroids: DataFrame,
    probes: int = IVF_PROBES,
) -> dict:
    """The rebalance CORE over any (assigned, centroids) index — the
    production one-shot index (sim_ivf_rebalance) or an incrementally
    grown one (sim_ivf_lifecycle, round 14): census the cell sizes, split
    every hot cell (> IVF_HOT_CELL_PCT% of the mean) with a seeded
    2-means over its own members, keep cold cells byte-identical.
    ``probes`` is the INPUT index's probe count (pass the count the input
    was actually served at — an already-rebalanced input has more than
    IVF_PROBES; r14 review) scaled (ceil) with the grown cell count —
    probed-mass fraction preserved."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sizes = {
        r["cell"]: r["n"]
        for r in assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # <= n_cells rows: the bounded-collect census class
    }
    n_vectors = sum(sizes.values())
    max_before = max(sizes.values())
    n_cells_before = centroids.count()
    hot = sorted(
        c
        for c, n in sizes.items()
        if 100 * n * n_cells_before > IVF_HOT_CELL_PCT * n_vectors
    )
    cold = assigned.filter(
        ~F.col("cell").isin([int(c) for c in hot]) if hot else F.lit(True)
    )
    all_centroids = centroids.collect()  # <= n_cells rows, collected ONCE
    kept_centroids = [
        r for r in all_centroids if int(r["cell"]) not in set(hot)
    ]
    new_rows = []
    # fresh cell ids start above every existing id (works whether the
    # input is the IVF_CELLS one-shot index or an already-split one)
    next_cell = 1 + max(int(r["cell"]) for r in all_centroids)
    rebalanced_parts = [cold]
    for c in hot:
        members = assigned.filter(F.col("cell") == int(c)).localCheckpoint(
            eager=True
        )  # one posting list
        km = KMeans(k=2, seed=42, featuresCol="fv", predictionCol="sub")
        model = km.fit(members.select(array_to_vector("v").alias("fv")))
        sub_centroids = spark.createDataFrame(
            [
                (next_cell + j, [float(x) for x in ctr])
                for j, ctr in enumerate(model.clusterCenters())
            ],
            schema="cell int, cv array<double>",
        )
        reassigned = _nearest_cell(
            members.select("vec_id", "v", "nrm"), sub_centroids
        )
        rebalanced_parts.append(reassigned)
        new_rows.extend(
            (int(r["cell"]), list(r["cv"])) for r in sub_centroids.collect()
        )  # 2 rows per hot cell
        next_cell += 2
    rebalanced = rebalanced_parts[0]
    for p in rebalanced_parts[1:]:
        rebalanced = rebalanced.unionByName(p)
    rebalanced = rebalanced.localCheckpoint(eager=True)
    new_centroids = spark.createDataFrame(
        [(int(r["cell"]), list(r["cv"])) for r in kept_centroids] + new_rows,
        schema="cell int, cv array<double>",
    )
    n_cells_after = n_cells_before + len(hot)
    return {
        "rebalanced": rebalanced,
        "centroids": new_centroids,
        "hot": hot,
        "n_vectors": n_vectors,
        "max_before": max_before,
        "n_cells_after": n_cells_after,
        "probes": -(-probes * n_cells_after // n_cells_before),  # ceil
    }


def _rebalanced_index(spark: SparkSession, sf_dir: str) -> dict:
    """Rebalance the PRODUCTION one-shot IVF index. Memoized so the
    maintenance component and the recall floor test drive the SAME
    index."""
    key = _session_key(spark, "ivf_rebal", sf_dir)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    idx = _ivf_index(spark, sf_dir)
    out = _rebalance_assignments(spark, idx["assigned"], idx["centroids"])
    _ANN_INDEX_CACHE[key] = out
    return out


def _sql_ivf_rebalance() -> str:
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id % {QUERY_MODULUS} = 0) AS BIGINT) AS n_queries,
           CAST({IVF_CELLS} AS BIGINT) AS n_cells_before,
           TRUE AS conservation_ok,
           TRUE AS only_hot_split_ok,
           TRUE AS max_not_worse_ok,
           TRUE AS serve_shape_ok
    FROM embeddings
    """


@component(
    "sim_ivf_rebalance",
    oracle=_sql_ivf_rebalance(),
    cols=[
        ("n_vectors", "num"),
        ("n_queries", "num"),
        ("n_cells_before", "num"),
        ("conservation_ok", "bool"),
        ("only_hot_split_ok", "bool"),
        ("max_not_worse_ok", "bool"),
        ("serve_shape_ok", "bool"),
    ],
)
def sim_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX MAINTENANCE — the scheduled-refit half of the
    offline/online split :func:`sim_ivf_incremental_add` documents:
    continuous frozen-centroid adds SKEW cells over time, and a skewed
    cell is a latency tail (every probe of it scans its whole posting
    list). This op is the maintenance pass a production vector store
    schedules: census the cell sizes (one bounded groupBy), mark cells
    over {IVF_HOT_CELL_PCT}% of the mean HOT, and split each hot cell
    with a seeded 2-means over ITS OWN members only — cold cells and
    their assignments are untouched (re-fitting the whole index would be
    the expensive full rebuild this pass exists to avoid; FAISS-style
    stores do exactly this local split).

    Contract flags, computed from genuine frame comparisons:
    ``conservation_ok`` — the rebalanced index holds exactly the original
    vector ids (both-ways anti-join on vec_id empty, counts equal);
    ``only_hot_split_ok`` — every vector of a cold cell kept its original
    cell id; ``max_not_worse_ok`` — the largest cell did not grow;
    ``serve_shape_ok`` — the multi-probe query path over the rebalanced
    index (probe count scaled with the grown cell count, so probed-mass
    fraction is preserved) returns exactly top-k rows per query. The
    recall floor before/after the split is pinned in pytest
    (tests/test_round13_ops.py) — measured values, not flags.

    Scale: the census is IVF_CELLS rows (bounded collect class); each
    hot-cell 2-means fits on ONE cell's members (the hot-cell count is
    bounded by IVF_CELLS, and at production scale each fit is a sampled
    mini-batch k-means over one posting list); reassignment is the
    map-side broadcast-centroid argmin over hot-cell members only —
    the corpus never reshuffles."""
    prepare(spark, sf_dir)
    idx = _ivf_index(spark, sf_dir)
    assigned = idx["assigned"]
    reb = _rebalanced_index(spark, sf_dir)
    rebalanced, new_centroids = reb["rebalanced"], reb["centroids"]
    hot, n_vectors, max_before = reb["hot"], reb["n_vectors"], reb["max_before"]
    # conservation: identical id sets, equal counts
    ids_a = assigned.select("vec_id")
    ids_b = rebalanced.select("vec_id")
    conservation = (
        rebalanced.count() == n_vectors
        and ids_a.exceptAll(ids_b).count() == 0
        and ids_b.exceptAll(ids_a).count() == 0
    )
    # cold cells untouched: every non-hot assignment identical
    cold_before = assigned.filter(
        ~F.col("cell").isin([int(c) for c in hot]) if hot else F.lit(True)
    ).select("vec_id", "cell")
    cold_after = rebalanced.filter(F.col("cell") < IVF_CELLS).select(
        "vec_id", "cell"
    )
    only_hot = (
        cold_before.exceptAll(cold_after).count() == 0
        and cold_after.exceptAll(cold_before).count() == 0
    )
    sizes_after = [
        r["n"]
        for r in rebalanced.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    max_not_worse = max(sizes_after) <= max_before
    # serve shape over the rebalanced index, probe fraction preserved
    topk = _ivf_query(rebalanced, new_centroids, probes=reb["probes"])
    per_q = topk.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    shape = per_q.agg(
        F.min("k").alias("mn"), F.max("k").alias("mx"), F.count(F.lit(1)).alias("nq")
    ).first()
    serve_shape = (
        shape["nq"] > 0 and shape["mn"] == TOPK and shape["mx"] == TOPK
    )
    return spark.createDataFrame(
        [
            (
                n_vectors,
                int(shape["nq"]),  # served query count — cross-engine exact
                IVF_CELLS,
                bool(conservation),
                bool(only_hot),
                bool(max_not_worse),
                bool(serve_shape),
            )
        ],
        schema="n_vectors bigint, n_queries bigint, n_cells_before bigint, "
        "conservation_ok boolean, only_hot_split_ok boolean, "
        "max_not_worse_ok boolean, serve_shape_ok boolean",
    )


# --------------------------------------------------------------------------
# IVF lifecycle: incremental add -> rebalance -> serve (round 14)
# --------------------------------------------------------------------------


def _exact_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force cosine top-k pairs, memoized per (session,
    sf_dir) — the _exact_l2_baseline convention (r14 review): the most
    expensive scan in the module runs once per session, not once per
    consumer (ANN digest + lifecycle recall both read it)."""
    key = _session_key(spark, "exact_cosine", sf_dir)
    if key not in _ANN_INDEX_CACHE:
        _ANN_INDEX_CACHE[key] = (
            sim_cosine_topk(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
    return _ANN_INDEX_CACHE[key]


def _lifecycle_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized end-to-end lifecycle artifacts (r13 verdict #6: the
    incremental-add -> rebalance -> serve chain was only pairwise tested):
    grow the base-fitted index with the frozen-centroid batch add, run the
    hot-cell-split maintenance pass ON THE GROWN index, and serve the SAME
    query set over both states, with recall measured against the exact
    brute-force top-k (:func:`sim_cosine_topk`). Shared by the driver
    component and the 3-SF pytest so both read the SAME measured recalls."""
    key = _session_key(spark, "ivf_lifecycle", sf_dir)
    if key in _ANN_INDEX_CACHE:
        return _ANN_INDEX_CACHE[key]
    fix = _incremental_fixtures(spark, sf_dir)
    grown = (
        _nearest_cell(fix["base"], fix["centroids"])
        .unionByName(_nearest_cell(fix["batch"], fix["centroids"]))
        .localCheckpoint(eager=True)
    )
    reb = _rebalance_assignments(spark, grown, fix["centroids"])
    exact = _exact_cosine_pairs(spark, sf_dir)  # memoized queries x k rows
    n_exact = exact.count()
    pre_topk = _ivf_query(grown, fix["centroids"])
    post_topk = _ivf_query(
        reb["rebalanced"], reb["centroids"], probes=reb["probes"]
    ).localCheckpoint(eager=True)  # shape check + recall reader
    hits_pre = pre_topk.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    hits_post = post_topk.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    out = {
        "grown": grown,
        "reb": reb,
        "post_topk": post_topk,
        "n_exact": n_exact,
        "recall_micro_before": 0 if n_exact == 0 else 1000000 * hits_pre // n_exact,
        "recall_micro_after": 0 if n_exact == 0 else 1000000 * hits_post // n_exact,
    }
    _ANN_INDEX_CACHE[key] = out
    return out


def _sql_ivf_lifecycle() -> str:
    return f"""
    SELECT label, CAST(value_num AS BIGINT) AS value_num FROM (
      SELECT 'n_base' AS label,
             (SELECT COUNT(*) FROM embeddings
              WHERE vec_id % {IVF_INC_BATCH_MOD} <> 0) AS value_num
      UNION ALL SELECT 'n_batch',
             (SELECT COUNT(*) FROM embeddings
              WHERE vec_id % {IVF_INC_BATCH_MOD} = 0)
      UNION ALL SELECT 'n_queries',
             (SELECT COUNT(*) FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0)
      UNION ALL SELECT 'conservation_ok', 1
      UNION ALL SELECT 'skew_not_worse_ok', 1
      UNION ALL SELECT 'recall_floor_met', 1
      UNION ALL SELECT 'serve_shape_ok', 1
    )
    """


@component(
    "sim_ivf_lifecycle",
    cols=[("label", "str"), ("value_num", "num")],
    oracle=_sql_ivf_lifecycle(),
)
def sim_ivf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL INDEX LIFECYCLE RUNG (r13 verdict #6): incremental add ->
    rebalance -> serve, end to end on one index. sim_ivf_incremental_add
    proves frozen-centroid ingestion and sim_ivf_rebalance proves hot-cell
    maintenance, but production runs them as a CHAIN — adds skew cells,
    the scheduled maintenance pass splits them, and the served quality
    after the pair must hold the same floor as a fresh index. This
    component drives that chain: grow the base-fitted index with the
    batch add, rebalance the GROWN index (the r14
    :func:`_rebalance_assignments` core — the r13 pass only rebalanced
    the one-shot index), serve the SAME query set over both states, and
    measure recall@{TOPK} against the exact brute-force top-k.

    Contract flags, computed from genuine frame comparisons:
    ``conservation_ok`` — the rebalanced index holds exactly the grown
    corpus's ids; ``skew_not_worse_ok`` — the largest cell did not grow
    under maintenance; ``recall_floor_met`` — post-maintenance recall >=
    IVF_RECALL_FLOOR ({IVF_RECALL_FLOOR}), the same serving-quality bar
    the production index is held to (tests/test_ann_recall.py
    convention); ``serve_shape_ok`` — exactly top-{TOPK} rows per query
    after maintenance. Measured recalls (before/after) are engine-valued
    and therefore recorded in COVERAGE.md + asserted at all three shipped
    SFs in tests/test_round14_ops.py, not hash-compared.

    Scale: the add is a broadcast-centroid argmin over the batch only;
    the rebalance censuses <= n_cells rows and fits 2-means per hot
    posting list (corpus never reshuffles); recall is two queries x k
    semi-joins against the exact pairs — every step inherits the posture
    of the component it chains."""
    prepare(spark, sf_dir)
    art = _lifecycle_artifacts(spark, sf_dir)
    grown, reb, post_topk = art["grown"], art["reb"], art["post_topk"]
    n_base = grown.filter(F.col("vec_id") % IVF_INC_BATCH_MOD != 0).count()
    n_batch = grown.count() - n_base
    n_queries = post_topk.select("query_id").distinct().count()
    ids_a = grown.select("vec_id")
    ids_b = reb["rebalanced"].select("vec_id")
    conservation = (
        reb["rebalanced"].count() == reb["n_vectors"]
        and ids_a.exceptAll(ids_b).count() == 0
        and ids_b.exceptAll(ids_a).count() == 0
    )
    sizes_after = [
        r["n"]
        for r in reb["rebalanced"]
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # <= n_cells rows: bounded census class
    ]
    skew_ok = max(sizes_after) <= reb["max_before"]
    recall_ok = art["recall_micro_after"] >= int(IVF_RECALL_FLOOR * 1000000)
    per_q = post_topk.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    shape = per_q.agg(
        F.min("k").alias("mn"), F.max("k").alias("mx"), F.count(F.lit(1)).alias("nq")
    ).first()  # 1-row scalar: bounded collect class
    serve_ok = shape["nq"] > 0 and shape["mn"] == TOPK and shape["mx"] == TOPK
    rows = [
        ("n_base", n_base),
        ("n_batch", n_batch),
        ("n_queries", n_queries),
        ("conservation_ok", 1 if conservation else 0),
        ("skew_not_worse_ok", 1 if skew_ok else 0),
        ("recall_floor_met", 1 if recall_ok else 0),
        ("serve_shape_ok", 1 if serve_ok else 0),
    ]
    return spark.createDataFrame(rows, schema="label string, value_num bigint")
