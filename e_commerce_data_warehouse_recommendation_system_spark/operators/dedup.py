"""Deduplication operators over ``documents``.

Beyond-reference extension (task brief): the dedup ladder a training-data
pipeline needs — exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.
The reference only has relational ``drop_duplicates`` (SURVEY.md SS2.5);
these generalize D1-D3 to fuzzy text.

Portability convention: every hash is ``md5`` (identical in Spark and
DuckDB), so even the MinHash/LSH pipeline is fully oracle-checkable —
signatures are the lexicographic min of md5 strings under k seeded
"permutations" (seed prefix ``{i}:``), bands are md5 of concatenated
signature slices.

Scale posture (100 TB): everything is expressed as explode -> hash ->
groupBy/join — embarrassingly parallel, shuffles only on shingle/band/bucket
keys. LSH is the scale path: candidate generation touches only
band-bucket collisions, never the O(n^2) pair space that the plain Jaccard
variant (kept for verification at test scale) enumerates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.operators.text import tokens
from e_commerce_data_warehouse_recommendation_system_spark.registry import (
    component,
    register,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

SHINGLE_N = 3
MINHASH_K = 16  # signature length
LSH_BANDS = 4  # 4 bands x 4 rows
JACCARD_THRESHOLD = 0.7

# --------------------------------------------------------------------------
# Shingling (shared): distinct word n-grams per document
# --------------------------------------------------------------------------


def shingles(col: Column | str, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles as an array column. Empty when the doc has
    fewer than n tokens (Spark's ``sequence`` would count DOWN for a
    negative span — guarded).

    NOTE: expression form for composability/tests. The hot path
    (``shingle_rows``) uses MLlib's NGram instead: Catalyst's
    CollapseProject inlines the ``tokens()`` split into every
    ``element_at`` lambda call here, re-running the regex split O(tokens)
    times per doc — measured 4x slower than NGram's single pass at sf0.1.
    """
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def shingle_rows(spark: SparkSession) -> DataFrame:
    """(doc_id, shingle) distinct — the long form every dedup op consumes.

    Tokenize once into an array column, then MLlib ``NGram`` (one JVM pass
    over the materialized array; excludes partial grams, so <n-token docs
    yield no rows — same semantics as ``shingles``)."""
    from pyspark.ml.feature import NGram

    d = spark.table("documents")
    toks = d.select("doc_id", tokens("text").alias("toks"))
    grams = NGram(n=SHINGLE_N, inputCol="toks", outputCol="grams").transform(toks)
    return grams.select("doc_id", F.explode("grams").alias("s")).distinct()


# DuckDB twin of shingle_rows (n=3).
_SQL_SHINGLES = """
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
"""


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id
    (keep-first under an explicit order — the D1 contract at scale).
    One shuffle on the hash; the md5 is computed map-side."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise — the verification-scale variant)
# --------------------------------------------------------------------------

_SQL_JACCARD_PAIRS = f"""
    WITH sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", oracle=_SQL_JACCARD_PAIRS)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: join docs on shared shingles,
    jaccard = |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing >=1 shingle are
    ever materialized (the shingle join prunes the O(n^2) space), but worst
    case is still quadratic — MinHash+LSH below is the 100 TB path."""
    prepare(spark, sf_dir)
    sh = shingle_rows(spark).cache()  # two consumers: sizes + self-join
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# --------------------------------------------------------------------------


def _sig_cols() -> list[Column]:
    """k seeded minhashes: lexicographic min of md5('{i}:' || shingle)."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]


def minhash_signatures(spark: SparkSession) -> DataFrame:
    """(doc_id, h0..h15): one groupBy over the shingle rows; all k hashes
    are computed map-side in the same pass (partial min aggregation)."""
    return shingle_rows(spark).groupBy("doc_id").agg(*_sig_cols())


def _band_expr(b: int) -> Column:
    rows = MINHASH_K // LSH_BANDS
    parts = [F.col(f"h{b * rows + j}") for j in range(rows)]
    return F.md5(F.concat_ws("|", *parts))


def _sql_minhash_lsh() -> str:
    rows = MINHASH_K // LSH_BANDS
    sig_cols = ",\n           ".join(
        f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(MINHASH_K)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'h{b * rows + j}' for j in range(rows))})) AS band_hash FROM sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS (
{band_selects}
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM candidates c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM verified
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_sql_minhash_lsh())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, fully deterministic and
    oracle-checkable (md5-based permutations).

    shingle -> k=16 minhash signature -> 4 bands of 4 -> candidates =
    band-bucket collisions -> exact-Jaccard verification of candidates only.
    At 100 TB: the band join shuffles only (band_hash) keys — collision
    groups — never the full pair space; the verify join touches only
    candidate docs' shingles. Bucket skew (a viral shingle set) is handled
    by AQE skew-join splitting.
    """
    prepare(spark, sf_dir)
    # The shingle table feeds three consumers (signatures, sizes, verify
    # join); cache it so the explode+distinct shuffle runs once. At 100 TB
    # this is "materialize the shingle table" — one pass over the corpus.
    sh = shingle_rows(spark).cache()
    # r14 opt: the per-doc shingle COUNT rides the signature aggregation
    # (one more map-side partial in the same groupBy) instead of a second
    # full aggregation pass over the shingle table, and the combined
    # doc-grain result is materialized ONCE (localCheckpoint) for its two
    # consumers (band explode + the size join) — before, the sizes path
    # re-aggregated 260k cached shingle rows per run. Identical values:
    # sh is distinct, so count(1) per doc is the old sizes frame verbatim.
    sigs = (
        sh.groupBy("doc_id")
        .agg(*_sig_cols(), F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    # one row per (doc, band) via a map-side explode — NOT a 4-way union,
    # which would re-run the signature aggregation once per band
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), _band_expr(b).alias("band_hash"))
            for b in range(LSH_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band_idx").alias("band_idx"), F.col("bb.band_hash").alias("band_hash")
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = sigs.select("doc_id", F.col("_n").alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa_s"))
    # the b-side keeps a distinct column name so the post-join frame has
    # exactly one doc_b in scope (joining on an expression, unlike USING,
    # retains both sides' columns)
    shb = sh.select(F.col("doc_id").alias("b_doc"), F.col("s").alias("sb_s"))
    verified = (
        candidates.join(sha, "doc_a")
        .join(shb, (F.col("doc_b") == F.col("b_doc")) & (F.col("sa_s") == F.col("sb_s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        verified.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------


def _sql_simhash() -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN substr(md5(tok), {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    bits = " || ".join(f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(16))
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash FROM sums
    """


@register("dedup_simhash", oracle=_sql_simhash())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 16-bit fingerprint from per-token md5 bit voting — bit j is
    the sign of the vote of hex digit j across the doc's distinct tokens.
    Near-dup docs differ in few bits (compare via hamming distance on the
    bit-string). One explode + one groupBy; vote sums are map-side partial."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok")).distinct()
    hexdigits = ["8", "9", "a", "b", "c", "d", "e", "f"]
    sums = [
        F.sum(
            F.when(F.substring(F.md5("tok"), j + 1, 1).isin(*hexdigits), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    voted = toks.groupBy("doc_id").agg(*sums)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(16)]
    )
    return voted.select("doc_id", bits.alias("simhash"))


# --------------------------------------------------------------------------
# Duplicate-cluster assignment (connected components over the near-dup graph)
# --------------------------------------------------------------------------

CC_MAX_ITERS = 40  # propagate+compress rounds: O(log diameter) suffices


def connected_components(nodes: DataFrame, edges: DataFrame, node_col: str = "node") -> DataFrame:
    """Min-label propagation connected components with path compression:
    every node's label converges to the smallest node id in its component —
    the cluster assignment step after near-dup pair mining (keep one doc
    per cluster).

    Spark has no native CC (GraphFrames isn't on the classpath), so each
    round does two join steps:

    1. **propagate**: a node adopts min(own label, neighbors' labels) —
       one shuffle join edges x labels + one aggregation;
    2. **compress** (pointer jumping): ``label <- label[label]`` — one
       labels-x-labels self-join, halving every label-chain.

    Plain propagation alone needs rounds = graph DIAMETER (a 1000-node
    chain would need 1000 rounds); with compression the chain length halves
    each round, so convergence is O(log diameter) — the same guarantee as
    the large-star/small-star formulation. Convergence is detected (no
    label changed), and ``CC_MAX_ITERS`` is a log-scale backstop, not a
    correctness bound for realistic graphs (2^40 diameter). Per round,
    ``localCheckpoint`` truncates lineage so the plan stays O(1) instead of
    growing with iterations.
    """
    sym = (
        edges.select(F.col("a"), F.col("b"))
        .union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            sym.join(labels, sym.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        propagated = (
            labels.withColumnRenamed("label", "_old")
            .join(neighbor_min, "node", "left")
            .select(
                "node",
                "_old",
                F.least(F.col("_old"), F.coalesce("nmin", F.col("_old"))).alias("_mid"),
            )
        )
        # pointer jumping: follow one hop through the label table (labels
        # are node ids, so label-of-label is well-defined); chains halve
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("_mid").alias("p_label")
        )
        compressed = (
            propagated.join(parent, propagated._mid == parent.p_node, "left")
            .select(
                "node",
                F.least(F.col("_mid"), F.coalesce("p_label", F.col("_mid"))).alias("label"),
                (F.least(F.col("_mid"), F.coalesce("p_label", F.col("_mid"))) < F.col("_old")).alias(
                    "_chg"
                ),
            )
        )
        compressed = compressed.localCheckpoint(eager=True)
        changed = compressed.filter(F.col("_chg")).count()
        labels = compressed.drop("_chg")
        if changed == 0:
            break
    return labels


@component(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_sql_minhash_lsh()}),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_root FROM reach GROUP BY node
    """,
    cols=[("doc_id", "num"), ("cluster_root", "num")],
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup ladder: MinHash-LSH near-dup pairs -> connected
    components -> (doc_id, cluster_root); downstream keeps
    ``doc_id == cluster_root`` (one representative per duplicate cluster,
    keep-smallest-id — the D1 contract lifted to fuzzy clusters). The
    oracle computes the same components with a DuckDB recursive CTE over
    the identical pair SQL, so the iterative Spark loop is hash-checked
    against declarative transitive closure."""
    prepare(spark, sf_dir)
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    docs = spark.table("documents").select("doc_id")
    labels = connected_components(docs, pairs, node_col="doc_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_root")
    )


def _sql_cluster_weights() -> str:
    return f"""
    WITH RECURSIVE
    pairs AS ({_sql_minhash_lsh()}),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS cluster_root
             FROM reach GROUP BY node),
    sizes AS (SELECT cluster_root, COUNT(*) AS n FROM comp GROUP BY cluster_root)
    SELECT c.doc_id, c.cluster_root,
           CAST(s.n AS BIGINT) AS cluster_size,
           CAST(1000000 // s.n AS BIGINT) AS weight_micro,
           c.doc_id = c.cluster_root AS is_keeper
    FROM comp c JOIN sizes s ON c.cluster_root = s.cluster_root
    """


@component(
    "dedup_cluster_weights",
    oracle=_sql_cluster_weights(),
    cols=[
        ("doc_id", "num"),
        ("cluster_root", "num"),
        ("cluster_size", "num"),
        ("weight_micro", "num"),
        ("is_keeper", "bool"),
    ],
)
def dedup_cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware SAMPLING WEIGHTS: every document weighted
    1e6 // |its duplicate cluster| — the soft alternative to hard removal
    that LLM data recipes use when near-dups carry signal (each duplicate
    FAMILY contributes one document's worth of training mass in
    expectation, so a 500-copy boilerplate family stops dominating the
    epoch while unique documents keep weight 1.0). Clusters are the
    MinHash-LSH connected components (dedup_clusters); the weight is an
    exact integer division, so the whole table hash-matches the recursive
    -CTE oracle; ``is_keeper`` marks the hard-dedup representative
    (doc_id == cluster_root) so one table serves both the weighted and
    the keep-one pipelines.

    Sum(weight_micro)/1e6 ≈ the DEDUPLICATED corpus size (exactly the
    cluster count when every member kept its floor weight) — the
    "effective tokens" number a data card reports.

    Scale: the component cost IS dedup_clusters' cost (banded pair
    mining + bounded label propagation); on top of it one groupBy on
    cluster_root + one join back on the same key."""
    prepare(spark, sf_dir)
    comp = dedup_clusters(spark, sf_dir)
    sizes = comp.groupBy("cluster_root").agg(F.count(F.lit(1)).alias("n"))
    return comp.join(sizes, "cluster_root").select(
        "doc_id",
        "cluster_root",
        F.col("n").cast("bigint").alias("cluster_size"),
        F.expr("div(1000000, n)").cast("bigint").alias("weight_micro"),
        (F.col("doc_id") == F.col("cluster_root")).alias("is_keeper"),
    )


def _sql_data_card() -> str:
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        _COMPONENTS,
    )

    gopher_sql = _COMPONENTS["text_gopher_rules"].oracle
    return f"""
    WITH RECURSIVE
    pairs AS ({_sql_minhash_lsh()}),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS cluster_root
             FROM reach GROUP BY node),
    csizes AS (SELECT cluster_root, COUNT(*) AS n FROM comp GROUP BY cluster_root),
    weights AS (
      SELECT c.doc_id, 1000000 // s.n AS weight_micro
      FROM comp c JOIN csizes s ON c.cluster_root = s.cluster_root
    ),
    gopher AS ({gopher_sql}),
    base AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5(text) AS h
      FROM documents
    )
    SELECT b.lang, b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(b.n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT b.h) AS BIGINT) AS n_exact_unique,
           CAST(SUM(w.weight_micro) AS BIGINT) AS effective_docs_micro,
           CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gopher_pass
    FROM base b
    JOIN weights w ON b.doc_id = w.doc_id
    JOIN gopher g ON b.doc_id = g.doc_id
    GROUP BY 1, 2
    """


@component(
    "text_data_card",
    oracle=_sql_data_card(),
    cols=[
        ("lang", "str"),
        ("source", "str"),
        ("n_docs", "num"),
        ("n_chars", "num"),
        ("n_tokens", "num"),
        ("n_exact_unique", "num"),
        ("effective_docs_micro", "num"),
        ("n_gopher_pass", "num"),
    ],
)
def text_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA CARD table a corpus release ships: one row per
    (language, source) with document/char/token counts, exact-unique
    document counts (content-hash distinct), the near-dup-weighted
    EFFECTIVE document mass (sum of dedup_cluster_weights' 1e6 //
    cluster-size — the "each duplicate family counts once" number a
    data card reports as deduplicated size), and the Gopher quality-gate
    pass count. Composes three existing oracles (LSH components, Gopher
    matrix, token convention shared with text_pack_sequences) into the
    release artifact, so the card is hash-exact cross-engine end to end
    — a drifted tokenizer, a broken cluster, or a loosened quality gate
    all flip a cell.

    Scale: the base pass is one scan with map-side expressions; the
    weight and gate joins are doc_id equi-joins against frames whose
    cost postures are their own components'; the final rollup groups on
    the bounded (lang, source) grain with map-side combine."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        text_gopher_rules,
        tokens,
    )

    prepare(spark, sf_dir)
    d = spark.table("documents")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    cw = dedup_cluster_weights(spark, sf_dir).select("doc_id", "weight_micro")
    g = text_gopher_rules(spark, sf_dir).select("doc_id", "gopher_keep")
    return (
        base.join(cw, "doc_id")
        .join(g, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("h").cast("bigint").alias("n_exact_unique"),
            F.sum("weight_micro").cast("bigint").alias("effective_docs_micro"),
            F.sum(F.when(F.col("gopher_keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_gopher_pass"),
        )
    )


# --------------------------------------------------------------------------
# Decontamination: n-gram overlap against a benchmark probe set
# --------------------------------------------------------------------------

CONTAM_PROBE_MODULUS = 100  # doc_id % 100 == 0 plays the benchmark set
CONTAM_THRESHOLD = 0.8  # >80% shingle overlap -> drop from training data


@component(
    "text_contamination",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    probe AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_PROBE_MODULUS} = 0
    ),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % {CONTAM_PROBE_MODULUS} <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_hit
      FROM train t JOIN probe p ON t.s = p.s
      GROUP BY t.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM train GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_overlapping,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n AS overlap_ratio,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n > {CONTAM_THRESHOLD}
             AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
    cols=[
        ("doc_id", "num"),
        ("n_shingles", "num"),
        ("n_overlapping", "num"),
        ("overlap_ratio", "dbl"),
        ("contaminated", "bool"),
    ],
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of its
    word 3-gram shingles that appear anywhere in the probe (benchmark) set —
    docs above the threshold are flagged for removal before training. The
    probe set is played by every 100th doc (deterministic stand-in for a
    real eval suite). Shape: the shared shingle table split once, probe
    shingles deduplicated (bounded by benchmark size — broadcastable in
    practice), one equi-join on the shingle, one per-doc aggregation. At
    100 TB the probe side is small by construction (benchmarks are MBs),
    so the join is a broadcast over a single corpus scan — the standard
    decontamination pass shape."""
    prepare(spark, sf_dir)
    sh = shingle_rows(spark).cache()  # two consumers: probe + train split
    is_probe = F.col("doc_id") % CONTAM_PROBE_MODULUS == 0
    probe = sh.filter(is_probe).select("s").distinct()
    train = sh.filter(~is_probe)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hits = (
        train.join(F.broadcast(probe), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n")
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_overlapping"),
            ratio.alias("overlap_ratio"),
            (ratio > CONTAM_THRESHOLD).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Fuzzy entity matching (blocked edit-distance join)
# --------------------------------------------------------------------------

#: candidate pairs must share this blocking key (last name token) — the
#: classic entity-resolution blocking step that keeps the pair space
#: per-block instead of all-pairs.
_FUZZY_MAX_DIST = 2


@component(
    "dedup_fuzzy_names",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n,
             string_split(p_name, ' ')[-1] AS blk
      FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2
    """,
    cols=[
        ("name_a", "str"),
        ("name_b", "str"),
        ("dist", "num"),
        ("n_a", "num"),
        ("n_b", "num"),
    ],
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching — the short-string complement of the shingle
    ladder: MinHash/Jaccard need enough shingles to be stable, so catalog
    names, brands, and addresses ("cold anvil" vs "old anvil") resolve via
    blocked edit distance instead. Shape: collapse to DISTINCT names with
    support counts first (the name DOMAIN is bounded — it does not grow
    with the 100 TB row count, so the pair space is fixed however large
    the fact tables get), block on the last name token, pair names within
    a block (a < b), keep Levenshtein 1..2 (0 = exact dup, already owned
    by dedup_exact). Levenshtein runs JVM-side (``F.levenshtein``); the
    distinct-name frame is dim-sized so Spark broadcasts the self-join.
    A mega-block (everything sharing one token) caps at distinct-name
    count, not row count — the same reason the two-phase domain cap exists
    for rows (text.py) is why this op blocks on NAMES."""
    prepare(spark, sf_dir)
    names = (
        spark.table("part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("blk", F.element_at(F.split("name", " "), -1))
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n").alias("n_a"), F.col("blk")
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n").alias("n_b"), F.col("blk")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, _FUZZY_MAX_DIST))
        .select("name_a", "name_b", dist.alias("dist"), "n_a", "n_b")
    )


def _sql_er_golden() -> str:
    """Transitive closure over the fuzzy-match edges + survivorship — the
    declarative mirror of connected_components + the canonical-pick
    window, sharing the exact pair predicate with dedup_fuzzy_names."""
    return f"""
    WITH RECURSIVE
    names AS (
      SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n,
             string_split(p_name, ' ')[-1] AS blk
      FROM part GROUP BY p_name
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) BETWEEN 1 AND {_FUZZY_MAX_DIST}
    ),
    sym AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION SELECT name_b, name_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT name, name FROM names
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node AS name, MIN(label) AS root FROM reach GROUP BY node),
    merged AS (
      SELECT c.root, n.name, n.n FROM comp c JOIN names n ON c.name = n.name
    ),
    ranked AS (
      SELECT root, name, n,
             ROW_NUMBER() OVER (PARTITION BY root ORDER BY n DESC, name) AS rk
      FROM merged
    )
    SELECT r.root AS entity_root,
           k.name AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(SUM(r.n) AS BIGINT) AS support
    FROM ranked r JOIN ranked k ON k.root = r.root AND k.rk = 1
    GROUP BY r.root, k.name
    """


@component(
    "er_golden_record",
    oracle=_sql_er_golden(),
    cols=[
        ("entity_root", "str"),
        ("canonical_name", "str"),
        ("n_variants", "num"),
        ("support", "num"),
    ],
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (the MDM "golden record" pipeline the
    reference's warehouse would sit downstream of): blocked fuzzy matching
    (dedup_fuzzy_names' exact pair predicate) -> connected components over
    the match graph (match edges are pairwise; an entity is the TRANSITIVE
    cluster: "cold anvil" ~ "old anvil" ~ "bold anvil" must resolve to ONE
    entity even though the ends differ by 3 edits) -> survivorship: the
    canonical record is the variant with the highest support count,
    ties broken lexicographically. One row per resolved entity with its
    canonical name, variant count, and total row support.

    Scale: the entity graph's nodes are DISTINCT names (bounded domain —
    does not grow with the 100 TB row count), edges come from the blocked
    pair join (never all-pairs), and the CC loop is the O(log diameter)
    propagate+compress iteration shared with dedup_clusters. Survivorship
    is one window over the name domain. Reference parity: the reference
    canonicalizes entity attributes row-wise in pandas
    (dags/transform_dim_customers.py:13-16 — str/zfill/title/upper
    normalization before the dim load) and resolves customers by a
    pre-assigned customer_unique_id; this is the distributed
    generalization for when no unique id exists and entities must be
    RESOLVED, with transitive match semantics."""
    prepare(spark, sf_dir)
    names = (
        spark.table("part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("blk", F.element_at(F.split("name", " "), -1))
        .localCheckpoint(eager=True)  # tiny (distinct-name domain); feeds
        # the pair join twice + the CC seed + survivorship — one scan each
    )
    a = names.select(F.col("name").alias("name_a"), F.col("blk"))
    b = names.select(F.col("name").alias("name_b"), F.col("blk"))
    dist = F.levenshtein("name_a", "name_b")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, _FUZZY_MAX_DIST))
        .select(F.col("name_a").alias("a"), F.col("name_b").alias("b"))
    )
    comp = connected_components(
        names.select("name"), pairs, node_col="name"
    ).select(F.col("node").alias("name"), F.col("label").alias("root"))
    merged = comp.join(names.select("name", "n"), "name")
    w = Window.partitionBy("root").orderBy(F.col("n").desc(), F.col("name"))
    ranked = merged.withColumn("rk", F.row_number().over(w))
    canon = ranked.filter(F.col("rk") == 1).select(
        F.col("root"), F.col("name").alias("canonical_name")
    )
    return (
        ranked.groupBy("root")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.sum("n").cast("bigint").alias("support"),
        )
        .join(canon, "root")
        .select(
            F.col("root").alias("entity_root"),
            "canonical_name",
            "n_variants",
            "support",
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup: probe a NEW batch against the historical corpus index
# --------------------------------------------------------------------------

#: deterministic batch split: every 4th doc is "newly crawled"
INCR_BATCH_MODULUS = 4


def _sql_incremental_dedup() -> str:
    rows = MINHASH_K // LSH_BANDS
    sig_cols = ",\n           ".join(
        f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(MINHASH_K)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'h{b * rows + j}' for j in range(rows))})) AS band_hash FROM sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
    WITH batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MODULUS} = 0
    ),
    hist AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MODULUS} <> 0
    ),
    exact AS (
      SELECT b.doc_id,
             EXISTS (SELECT 1 FROM hist h WHERE md5(h.text) = md5(b.text))
               AS exact_dup
      FROM batch b
    ),
    sh AS ({_SQL_SHINGLES}),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS (
{band_selects}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, h.doc_id AS hist_id
      FROM bands b JOIN bands h
        ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash
      WHERE b.doc_id % {INCR_BATCH_MODULUS} = 0
        AND h.doc_id % {INCR_BATCH_MODULUS} <> 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.batch_id, c.hist_id, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.batch_id
      JOIN sh b ON b.doc_id = c.hist_id AND a.s = b.s
      GROUP BY 1, 2
    ),
    near AS (
      SELECT v.batch_id,
             SUM(CASE WHEN CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i)
                           >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS n_verified
      FROM verified v
      JOIN sizes sa ON v.batch_id = sa.doc_id
      JOIN sizes sb ON v.hist_id = sb.doc_id
      GROUP BY v.batch_id
    ),
    cand_counts AS (
      SELECT batch_id, COUNT(*) AS n_cand FROM cand GROUP BY batch_id
    )
    SELECT e.doc_id,
           e.exact_dup,
           CAST(COALESCE(cc.n_cand, 0) AS BIGINT) AS n_band_candidates,
           CAST(COALESCE(nr.n_verified, 0) AS BIGINT) AS n_near_verified,
           (NOT e.exact_dup AND COALESCE(nr.n_verified, 0) = 0) AS keep
    FROM exact e
    LEFT JOIN cand_counts cc ON cc.batch_id = e.doc_id
    LEFT JOIN near nr ON nr.batch_id = e.doc_id
    """


@component(
    "text_incremental_dedup",
    oracle=_sql_incremental_dedup(),
    cols=[
        ("doc_id", "num"),
        ("exact_dup", "bool"),
        ("n_band_candidates", "num"),
        ("n_near_verified", "num"),
        ("keep", "bool"),
    ],
)
def text_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the continuous-crawl posture the
    whole-corpus ladder doesn't exercise: a NEW batch (every
    {INCR_BATCH_MODULUS}th doc) is deduplicated AGAINST the historical
    corpus, never against itself wholesale. Stage 1 drops exact dups by
    content hash; stage 2 probes the historical MinHash band index for
    candidates and verifies them with exact Jaccard ≥ {JACCARD_THRESHOLD}.
    Per batch doc: the exact flag, band-candidate count, verified
    near-dup count, and the final keep decision.

    The incremental property is the point: in production the historical
    side (content hashes + band table) is PERSISTED index state — the
    batch computes only ITS OWN signatures and probes, so ingest cost is
    O(|batch| + collisions), independent of corpus size; the corpus is
    only ever scanned when the index is first built. Here both sides
    derive from one table so the whole flow stays oracle-checkable.

    Scale: hash semi-join partitions on the content hash; band probe
    partitions on (band_idx, band_hash) with collision fan-out bounded by
    bucket sizes; Jaccard verification touches candidate pairs only —
    the same never-all-pairs discipline as dedup_minhash_lsh."""
    prepare(spark, sf_dir)
    docs = spark.table("documents")
    batch = docs.filter(F.col("doc_id") % INCR_BATCH_MODULUS == 0)
    hist = docs.filter(F.col("doc_id") % INCR_BATCH_MODULUS != 0)
    hist_hashes = hist.select(F.md5("text").alias("hsh")).distinct()
    exact = batch.select(
        "doc_id", F.md5("text").alias("hsh")
    ).join(
        hist_hashes.withColumn("exact_dup", F.lit(True)), "hsh", "left"
    ).select("doc_id", F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"))
    sigs = minhash_signatures(spark)
    bands = None
    for b in range(LSH_BANDS):
        part = sigs.select(
            "doc_id", F.lit(b).alias("band_idx"), _band_expr(b).alias("band_hash")
        )
        bands = part if bands is None else bands.unionAll(part)
    b_bands = bands.filter(F.col("doc_id") % INCR_BATCH_MODULUS == 0).select(
        F.col("doc_id").alias("batch_id"), "band_idx", "band_hash"
    )
    h_bands = bands.filter(F.col("doc_id") % INCR_BATCH_MODULUS != 0).select(
        F.col("doc_id").alias("hist_id"), "band_idx", "band_hash"
    )
    cand = (
        b_bands.join(h_bands, ["band_idx", "band_hash"])
        .select("batch_id", "hist_id")
        .distinct()
        .cache()  # two consumers: candidate counts + Jaccard verification
    )
    sh = shingle_rows(spark)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("batch_id"), "s"), "batch_id")
        .join(sh.select(F.col("doc_id").alias("hist_id"), "s"), ["hist_id", "s"])
        .groupBy("batch_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    near = (
        inter.join(
            sizes.select(F.col("doc_id").alias("batch_id"), F.col("n").alias("na")),
            "batch_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("hist_id"), F.col("n").alias("nb")),
            "hist_id",
        )
        .groupBy("batch_id")
        .agg(
            F.sum(
                F.when(
                    F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
                    >= JACCARD_THRESHOLD,
                    1,
                ).otherwise(0)
            ).alias("n_verified")
        )
    )
    cand_counts = cand.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        exact.join(
            cand_counts.select(F.col("batch_id").alias("doc_id"), "n_cand"),
            "doc_id",
            "left",
        )
        .join(
            near.select(F.col("batch_id").alias("doc_id"), "n_verified"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_band_candidates"),
            F.coalesce("n_verified", F.lit(0)).cast("long").alias("n_near_verified"),
            (
                (~F.col("exact_dup"))
                & (F.coalesce("n_verified", F.lit(0)) == 0)
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# SimHash Hamming-banded near-dup pair mining (the 64-bit-hash scale form)
# --------------------------------------------------------------------------

#: band layout over the 16-bit fingerprint: 4 bands x 4 bits. By the
#: pigeonhole principle any pair within Hamming distance 3 agrees exactly
#: on >= 1 band, so banding is LOSSLESS for the <=3 predicate (3 differing
#: bits cannot touch all 4 bands) — candidates are verified, never trusted.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 4
SIMHASH_HAMMING_MAX = 3


def _sql_simhash_pairs() -> str:
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, substr(simhash, {b * SIMHASH_BAND_BITS + 1},"
        f" {SIMHASH_BAND_BITS}) AS key FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    hamming = " + ".join(
        f"CASE WHEN substr(a.simhash, {j + 1}, 1) <> substr(b.simhash, {j + 1}, 1)"
        f" THEN 1 ELSE 0 END"
        for j in range(16)
    )
    return f"""
    WITH fp AS MATERIALIZED ({_sql_simhash()}),
    bands AS MATERIALIZED (
      {bands}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id <> y.doc_id
    ),
    near AS MATERIALIZED (
      SELECT c.doc_a AS doc_id, c.doc_b AS partner, CAST({hamming} AS BIGINT) AS hamming
      FROM cand c
      JOIN fp a ON a.doc_id = c.doc_a
      JOIN fp b ON b.doc_id = c.doc_b
      WHERE {hamming} <= {SIMHASH_HAMMING_MAX}
    )
    SELECT f.doc_id,
           CAST(COUNT(n.partner) AS BIGINT) AS n_near,
           MIN(n.hamming) AS min_hamming,
           COUNT(CASE WHEN n.partner < f.doc_id THEN 1 END) = 0 AS keep
    FROM fp f LEFT JOIN near n ON n.doc_id = f.doc_id
    GROUP BY f.doc_id
    """


@component(
    "dedup_simhash_pairs",
    oracle=_sql_simhash_pairs(),
    cols=[
        ("doc_id", "num"),
        ("n_near", "num"),
        ("min_hamming", "num"),
        ("keep", "bool"),
    ],
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup mining via Hamming banding — the missing rung
    between dedup_simhash (which only emits fingerprints) and the MinHash
    pair miner: split each 16-bit fingerprint into {SIMHASH_BANDS} bands
    of {SIMHASH_BAND_BITS} bits, candidates collide on (band, key), exact
    Hamming distance verifies collisions against the
    <= {SIMHASH_HAMMING_MAX} threshold, and the result rolls up PER DOC
    (near-dup partner count, closest distance, greedy keep-first verdict)
    — the Manku et al. 2007 Google-crawl simhash plan. The banding is
    LOSSLESS for the threshold by pigeonhole ({SIMHASH_HAMMING_MAX}
    differing bits cannot touch all {SIMHASH_BANDS} bands), so the banded
    rollup EQUALS the all-pairs rollup. Output is corpus-bounded (one row
    per doc), never pair-sized: the 16-bit hash collides heavily on
    same-distribution synthetic text, and emitting raw pairs would be
    quadratic inside collision classes in exactly the way a production
    pipeline avoids by rolling up to verdicts.

    Scale: the candidate join shuffles on (band, key) buckets, never the
    O(n²) pair space; at 100 TB the production form widens to 64-bit
    fingerprints with {SIMHASH_BANDS}x16-bit bands (65k bucket values per
    band, occupancy n/65k) and the identical plan — bit width is a
    constant in the expressions, not a structural change. Hamming
    verification touches candidate pairs only, as a pure Column
    expression over the two fingerprint strings."""
    prepare(spark, sf_dir)
    fp = dedup_simhash(spark, sf_dir).cache()
    band_frames = [
        fp.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.substring("simhash", b * SIMHASH_BAND_BITS + 1, SIMHASH_BAND_BITS).alias(
                "key"
            ),
        )
        for b in range(SIMHASH_BANDS)
    ]
    bands = band_frames[0]
    for bf in band_frames[1:]:
        bands = bands.unionByName(bf)
    x = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    y = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    cand = (
        x.join(y, ["band", "key"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    hamming = None
    for j in range(16):
        term = F.when(
            F.substring("ha", j + 1, 1) != F.substring("hb", j + 1, 1), 1
        ).otherwise(0)
        hamming = term if hamming is None else hamming + term
    near = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("partner"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )
    return (
        fp.select("doc_id")
        .join(near, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("partner").cast("long").alias("n_near"),
            F.min("hamming").alias("min_hamming"),
            (
                F.count(F.when(F.col("partner") < F.col("doc_id"), 1)) == 0
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Exact-substring shared spans (the suffix-array dedup statistic, by index)
# --------------------------------------------------------------------------

#: shingle width: spans shorter than this never surface (Lee et al. use 50
#: BPE tokens on web corpora; 8 whitespace tokens is the testdata-scaled
#: equivalent — long enough that chance k-grams are rare, short enough
#: that the planted near-dup spans are found)
SPAN_SHINGLE_K = 8
#: shingles occurring in more than this many docs are dropped BEFORE the
#: pair join — they are boilerplate (text_boilerplate_ngrams' object) and
#: would otherwise fan the join quadratically; the cap is what bounds the
#: operator at corpus scale. Measured max doc-freq on the testdata is 3,
#: so the cap changes nothing at test SFs — it exists for the 100 TB form.
SPAN_SHINGLE_DF_CAP = 16


def _sql_span_base() -> str:
    """Shared CTE chain through per-island runs (pa AND pb retained):
    tokenize → positional shingles → df-capped index → diagonal islands.
    Consumed by both the span statistic and the excision oracles."""
    k = SPAN_SHINGLE_K
    return f"""
    tok AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             array_to_string(t[i:i+{k - 1}], ' ') AS shingle
      FROM tok, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
    ),
    keepers AS MATERIALIZED (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_SHINGLE_DF_CAP}
    ),
    prs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a
      JOIN keepers kp ON a.shingle = kp.shingle
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    runs AS MATERIALIZED (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
      FROM prs
    )"""


def shingle_windows_expr(k: int) -> str:
    """Spark SQL expression producing the positional k-token shingle windows
    of a token array column ``t``: array<struct<pos:int, shingle:string>>,
    1-based positions, EMPTY for docs under k tokens. The filter is the
    short-doc guard: two-arg sequence(1, 0) DESCENDS on Spark (yielding
    [1, 0], and slice(t, 0, k) then throws), so out-of-range starts are
    filtered instead of relying on the sequence bound. Shared by the span
    statistic, excision and decontamination."""
    return (
        f"transform(filter(sequence(1, greatest(size(t) - {k - 1}, 1)),"
        f"                 i -> i <= size(t) - {k - 1}),"
        f" i -> struct(i AS pos, array_join(slice(t, i, {k}), ' ') AS shingle))"
    )


def _span_runs(spark: SparkSession) -> DataFrame:
    """Spark twin of :func:`_sql_span_base`: (doc_a, doc_b, pa, pb, diag,
    isl) — one row per matching shingle-position pair, island-labelled.
    Shared by the span statistic and the excision operator."""
    from pyspark.sql.window import Window

    k = SPAN_SHINGLE_K
    tok = spark.table("documents").select("doc_id", tokens("text").alias("t"))
    # windows of width k in n tokens: i = 1 .. n-(k-1) — DuckDB's
    # range(1, n-(k-2)) is END-EXCLUSIVE, so the Spark (inclusive)
    # sequence bound is n-(k-1); one more would emit a truncated
    # (k-1)-token end window that can spuriously extend runs by 1
    sh = tok.select(
        "doc_id", F.explode(F.expr(shingle_windows_expr(k))).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.shingle").alias("shingle"))
    keepers = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter((F.col("ndocs") >= 2) & (F.col("ndocs") <= SPAN_SHINGLE_DF_CAP))
        .select("shingle")
    )
    # r14 opt: the capped inverted index feeds BOTH sides of the pair
    # join, and without persistence each side re-ran the tokenize ->
    # shingle explode -> df-cap join lineage (the shingle explode executed
    # three times per run counting the keeper aggregation). cache() is the
    # dedup_minhash_lsh convention: one computation per session, spills
    # under pressure, and the slot's off-clock warmup absorbs the build.
    indexed = sh.join(keepers, "shingle").cache()
    a = indexed.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "shingle"
    )
    b = indexed.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "shingle"
    )
    prs = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy("pa")
    return prs.select(
        "doc_a",
        "doc_b",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(w)).alias("isl"),
    )


def _sql_shared_spans() -> str:
    k = SPAN_SHINGLE_K
    return f"""
    WITH {_sql_span_base()},
    spans AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) + {k - 1} AS BIGINT) AS span
      FROM runs GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span) AS BIGINT) AS max_span_tokens,
           CAST(SUM(span) AS BIGINT) AS total_span_tokens
    FROM spans GROUP BY doc_a, doc_b
    """


@component(
    "dedup_shared_spans",
    oracle=_sql_shared_spans(),
    cols=[
        ("doc_a", "num"),
        ("doc_b", "num"),
        ("n_spans", "num"),
        ("max_span_tokens", "num"),
        ("total_span_tokens", "num"),
    ],
)
def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication between document pairs — the statistic
    behind suffix-array dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): for every doc pair sharing at
    least one {SPAN_SHINGLE_K}-token window, the maximal shared token
    SPANS (length, count, total). This catches verbatim passage reuse
    that whole-doc methods miss (MinHash needs global similarity;
    sentence dedup needs sentence-aligned copies) and is the signal the
    Lee et al. pipeline CUTS on (they excise spans ≥ the threshold).

    Plan (the distributed replacement for a suffix array): positional
    {SPAN_SHINGLE_K}-shingles → inverted index; shingles in >
    {SPAN_SHINGLE_DF_CAP} docs are dropped before the pair join (they
    are cross-corpus boilerplate — text_boilerplate_ngrams' object — and
    the cap is what bounds the join at corpus scale, the whale-cap
    convention); matching positions land on diagonals (pos_a − pos_b
    constant), and a gaps-and-islands window turns consecutive diagonal
    hits into maximal spans: a run of r consecutive matching windows is
    a shared span of r + {SPAN_SHINGLE_K - 1} tokens.

    Scale: the index join shuffles on the shingle hash (per-shingle
    fan-out ≤ cap² by construction); the island window partitions on
    (pair, diagonal) — span-bounded, never corpus-bounded; per-pair
    rollups shuffle on the pair key. Nothing is ever all-pairs: pairs
    exist only where an exact {SPAN_SHINGLE_K}-gram match exists."""
    prepare(spark, sf_dir)
    k = SPAN_SHINGLE_K
    runs = _span_runs(spark)
    spans = runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        (F.count(F.lit(1)) + (k - 1)).cast("long").alias("span")
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span").cast("long").alias("max_span_tokens"),
        F.sum("span").cast("long").alias("total_span_tokens"),
    )


# --------------------------------------------------------------------------
# Span excision: CUT the duplicated spans from the later document
# --------------------------------------------------------------------------


def _sql_span_excision() -> str:
    k = SPAN_SHINGLE_K
    return f"""
    WITH {_sql_span_base()},
    drops AS MATERIALIZED (
      SELECT doc_b AS doc_id, MIN(pb) AS p0,
             COUNT(*) + {k - 1} AS len
      FROM runs GROUP BY doc_a, doc_b, diag, isl
    ),
    tokpos AS MATERIALIZED (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM tok, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    dropped AS MATERIALIZED (
      SELECT DISTINCT tp.doc_id, tp.pos
      FROM tokpos tp JOIN drops d
        ON tp.doc_id = d.doc_id AND tp.pos BETWEEN d.p0 AND d.p0 + d.len - 1
    ),
    affected AS (SELECT DISTINCT doc_id FROM dropped)
    SELECT tp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_before,
           CAST(COUNT(dr.pos) AS BIGINT) AS n_tokens_dropped,
           CAST(COUNT(*) - COUNT(dr.pos) AS BIGINT) AS n_tokens_after,
           md5(COALESCE(string_agg(CASE WHEN dr.pos IS NULL THEN tp.tok END,
                                   ' ' ORDER BY tp.pos), '')) AS clean_md5
    FROM tokpos tp
    JOIN affected af ON tp.doc_id = af.doc_id
    LEFT JOIN dropped dr ON tp.doc_id = dr.doc_id AND tp.pos = dr.pos
    GROUP BY tp.doc_id
    """


@component(
    "dedup_span_excision",
    oracle=_sql_span_excision(),
    cols=[
        ("doc_id", "num"),
        ("n_tokens_before", "num"),
        ("n_tokens_dropped", "num"),
        ("n_tokens_after", "num"),
        ("clean_md5", "str"),
    ],
)
def dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span EXCISION — the action half of exact-substring dedup
    (dedup_shared_spans is the statistic; Lee et al. 2022 cut the
    duplicated bytes, keeping one occurrence): for every document that
    shares a maximal span with an EARLIER document (keep-first: doc_a
    keeps its copy, doc_b loses its), drop the covered token range and
    re-emit the cleaned document. Output per affected doc: token counts
    before/dropped/after plus the md5 of the reassembled cleaned text —
    the full cleaned string is pinned cross-engine, not just its length.

    Overlapping ranges from different partners union naturally (a token
    is dropped if ANY excision range covers it). The md5 crosses engines
    because the token reassembly is order-pinned (positions) and the
    tokenization is the shared whitespace convention.

    Scale: everything through the island runs is dedup_shared_spans'
    bounded plan; the excision adds one range join (token positions vs
    per-doc drop ranges — ranges are span-bounded per doc) and one
    per-doc ordered reassembly, partitioned on doc_id. Affected docs
    only; untouched documents never shuffle."""
    prepare(spark, sf_dir)
    k = SPAN_SHINGLE_K
    runs = _span_runs(spark)
    drops = runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.min("pb").alias("p0"), (F.count(F.lit(1)) + (k - 1)).alias("len")
    ).select(F.col("doc_b").alias("doc_id"), "p0", "len")
    tokpos = (
        spark.table("documents")
        .select("doc_id", tokens("text").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)),"
                    " i -> struct(i AS pos, element_at(t, i) AS tok))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.tok").alias("tok"))
    )
    dropped = (
        tokpos.join(drops, "doc_id")
        .filter((F.col("pos") >= F.col("p0")) & (F.col("pos") <= F.col("p0") + F.col("len") - 1))
        .select("doc_id", "pos")
        .distinct()
    )
    affected = dropped.select("doc_id").distinct()
    marked = (
        tokpos.join(affected, "doc_id")
        .join(dropped.withColumn("is_drop", F.lit(True)), ["doc_id", "pos"], "left")
    )
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_list(CASE WHEN is_drop IS NULL"
        " THEN struct(pos, tok) END)), x -> x.tok), ' ')"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_before"),
        F.count("is_drop").cast("long").alias("n_tokens_dropped"),
        (F.count(F.lit(1)) - F.count("is_drop")).cast("long").alias("n_tokens_after"),
        F.md5(kept_sorted).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# Span-level decontamination (the GPT-3 13-gram collision rule)
# --------------------------------------------------------------------------

#: minimum shared-span length (tokens) that flags a training doc — the
#: GPT-3 appendix-C decontamination rule (13-gram collisions with eval
#: data); a span of >= 13 tokens is >= 13-8+1 = 6 consecutive 8-windows
DECONTAM_SPAN_TOKENS = 13


def _sql_span_decontam() -> str:
    k = SPAN_SHINGLE_K
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             array_to_string(t[i:i+{k - 1}], ' ') AS shingle
      FROM tok, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
    ),
    ev AS MATERIALIZED (
      SELECT doc_id, pos, shingle FROM sh
      WHERE doc_id % {CONTAM_PROBE_MODULUS} = 0
    ),
    tr AS MATERIALIZED (
      SELECT doc_id, pos, shingle FROM sh
      WHERE doc_id % {CONTAM_PROBE_MODULUS} <> 0
    ),
    prs AS MATERIALIZED (
      SELECT tr.doc_id AS doc_id, ev.doc_id AS eval_doc,
             tr.pos AS pt, ev.pos AS pe
      FROM tr JOIN ev ON tr.shingle = ev.shingle
    ),
    runs AS MATERIALIZED (
      SELECT doc_id, eval_doc, pt - pe AS diag,
             pt - ROW_NUMBER() OVER (
               PARTITION BY doc_id, eval_doc, pt - pe ORDER BY pt) AS isl
      FROM prs
    ),
    spans AS MATERIALIZED (
      SELECT doc_id, eval_doc, CAST(COUNT(*) + {k - 1} AS BIGINT) AS span
      FROM runs GROUP BY doc_id, eval_doc, diag, isl
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs,
             CAST(MAX(span) AS BIGINT) AS max_span_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(p.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
           p.max_span_tokens,
           COALESCE(p.max_span_tokens, 0) >= {DECONTAM_SPAN_TOKENS}
             AS contaminated
    FROM (SELECT doc_id FROM tok
          WHERE doc_id % {CONTAM_PROBE_MODULUS} <> 0) t
    LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """


@component(
    "text_span_decontamination",
    oracle=_sql_span_decontam(),
    cols=[
        ("doc_id", "num"),
        ("n_eval_docs", "num"),
        ("max_span_tokens", "num"),
        ("contaminated", "bool"),
    ],
)
def text_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination — the GPT-3 rule (appendix C:
    drop training documents sharing a 13-GRAM collision with eval data),
    complementing text_contamination's 3-gram overlap RATIO: a ratio
    filter catches near-copies of whole benchmark items, while the
    long-span rule catches a single verbatim eval passage quoted inside
    an otherwise-clean document (ratio ~0, but exactly the leak that
    inflates benchmark scores). Eval set = every
    {CONTAM_PROBE_MODULUS}th doc (the deterministic stand-in, same split
    as text_contamination); a training doc is contaminated iff its
    longest shared span with ANY eval doc reaches
    {DECONTAM_SPAN_TOKENS} tokens (= {DECONTAM_SPAN_TOKENS - SPAN_SHINGLE_K + 1}
    consecutive {SPAN_SHINGLE_K}-token windows on the match diagonal).
    Emits every training doc with its verdict, hit count, and longest
    matched span.

    Scale: the shingle join's fan-out is bounded by the EVAL side
    (benchmarks are MBs at any corpus size — the join broadcasts in
    practice); islands partition on (train doc, eval doc, diagonal);
    the per-doc rollup shuffles on doc_id. Same diagonal-island algebra
    as dedup_shared_spans, pointed at a reference set instead of the
    corpus itself."""
    prepare(spark, sf_dir)
    from pyspark.sql.window import Window

    k = SPAN_SHINGLE_K
    tok = spark.table("documents").select("doc_id", tokens("text").alias("t"))
    sh = tok.select(
        "doc_id", F.explode(F.expr(shingle_windows_expr(k))).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.shingle").alias("shingle"))
    is_eval = F.col("doc_id") % CONTAM_PROBE_MODULUS == 0
    ev = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"), F.col("pos").alias("pe"), "shingle"
    )
    tr = sh.filter(~is_eval).select(
        "doc_id", F.col("pos").alias("pt"), "shingle"
    )
    prs = tr.join(F.broadcast(ev), "shingle")
    w = Window.partitionBy(
        "doc_id", "eval_doc", F.col("pt") - F.col("pe")
    ).orderBy("pt")
    runs = prs.select(
        "doc_id",
        "eval_doc",
        (F.col("pt") - F.col("pe")).alias("diag"),
        (F.col("pt") - F.row_number().over(w)).alias("isl"),
    )
    spans = runs.groupBy("doc_id", "eval_doc", "diag", "isl").agg(
        (F.count(F.lit(1)) + (k - 1)).cast("long").alias("span")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.countDistinct("eval_doc").cast("long").alias("n_eval_docs"),
        F.max("span").cast("long").alias("max_span_tokens"),
    )
    train_docs = tok.filter(~is_eval).select("doc_id")
    return train_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_eval_docs", F.lit(0)).cast("long").alias("n_eval_docs"),
        F.col("max_span_tokens").cast("long").alias("max_span_tokens"),
        (
            F.coalesce("max_span_tokens", F.lit(0)) >= DECONTAM_SPAN_TOKENS
        ).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# Split-leakage audit: near-dup pairs crossing the train/val/test boundary
# --------------------------------------------------------------------------


def _sql_split_case(key_expr: str) -> str:
    """DuckDB CASE assigning train/val/test from the md5 first hex digit of
    ``key_expr`` — the exact rule of text_group_holdout_split (bounds 9/c)."""
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        GROUP_SPLIT_BOUNDS,
    )

    lo, hi = GROUP_SPLIT_BOUNDS
    return (
        f"CASE WHEN substr(md5({key_expr}), 1, 1) <= '{lo}' THEN 'train' "
        f"WHEN substr(md5({key_expr}), 1, 1) <= '{hi}' THEN 'val' "
        f"ELSE 'test' END"
    )


def _sql_split_leakage() -> str:
    return f"""
    WITH p AS ({_sql_minhash_lsh()}),
    s AS (
      SELECT doc_id,
             {_sql_split_case("CAST(doc_id AS VARCHAR)")} AS doc_split,
             {_sql_split_case("source")} AS src_split
      FROM documents
    ),
    joined AS (
      SELECT sa.doc_split AS a_doc, sb.doc_split AS b_doc,
             sa.src_split AS a_src, sb.src_split AS b_src
      FROM p JOIN s sa ON p.doc_a = sa.doc_id
             JOIN s sb ON p.doc_b = sb.doc_id
    ),
    tagged AS (
      SELECT 'doc_level' AS strategy,
             least(a_doc, b_doc) AS split_a, greatest(a_doc, b_doc) AS split_b
      FROM joined
      UNION ALL
      SELECT 'group_level', least(a_src, b_src), greatest(a_src, b_src)
      FROM joined
    )
    SELECT strategy, split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leak
    FROM tagged GROUP BY 1, 2, 3
    """


@component(
    "dedup_split_leakage",
    oracle=_sql_split_leakage(),
    cols=[
        ("strategy", "str"),
        ("split_a", "str"),
        ("split_b", "str"),
        ("n_pairs", "num"),
        ("is_leak", "bool"),
    ],
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout-split LEAKAGE AUDIT: for every verified near-dup pair
    (MinHash-LSH candidates, exact-Jaccard >= 0.7 — the dedup_minhash_lsh
    output), tag both ends with the train/val/test assignment under TWO
    split strategies — the row-level split (md5 of doc_id, what a naive
    pipeline does) and the group-aware split (md5 of source, the
    text_group_holdout_split rule) — and report the pair census per
    (strategy, split_a, split_b) with ``is_leak`` marking boundaries
    crossed. This is the eval-contamination number a training-data release
    publishes: near-duplicate pairs straddling train/test mean the holdout
    is partially memorizable, and comparing the two strategies' leak rows
    quantifies how much the group split actually buys (same-source dups
    can never leak under it; cross-source near-dups still can and show up
    here as residual rows).

    Scale: the pair table is the LSH-verified near-dup set (collision
    groups only, never all-pairs — dedup_minhash_lsh's posture); the split
    tags are map-side md5 expressions, so the audit adds two equi-joins on
    doc_id plus a groupBy over <= 12 (strategy, split, split) keys with
    map-side partial aggregation. Both strategies are tagged in ONE pass
    via an array-of-structs explode, not a union re-running the pair
    mining."""
    prepare(spark, sf_dir)
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        GROUP_SPLIT_BOUNDS,
    )

    def split_of(digit: Column) -> Column:
        return (
            F.when(digit <= GROUP_SPLIT_BOUNDS[0], "train")
            .when(digit <= GROUP_SPLIT_BOUNDS[1], "val")
            .otherwise("test")
        )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    s = spark.table("documents").select(
        "doc_id",
        split_of(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)).alias(
            "doc_split"
        ),
        split_of(F.substring(F.md5(F.col("source")), 1, 1)).alias("src_split"),
    )
    sa = s.select(
        F.col("doc_id").alias("doc_a"),
        F.col("doc_split").alias("a_doc"),
        F.col("src_split").alias("a_src"),
    )
    sb = s.select(
        F.col("doc_id").alias("doc_b"),
        F.col("doc_split").alias("b_doc"),
        F.col("src_split").alias("b_src"),
    )
    tagged = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("doc_level").alias("strategy"),
                        F.least("a_doc", "b_doc").alias("split_a"),
                        F.greatest("a_doc", "b_doc").alias("split_b"),
                    ),
                    F.struct(
                        F.lit("group_level").alias("strategy"),
                        F.least("a_src", "b_src").alias("split_a"),
                        F.greatest("a_src", "b_src").alias("split_b"),
                    ),
                )
            ).alias("t")
        )
        .select("t.strategy", "t.split_a", "t.split_b")
    )
    return (
        tagged.groupBy("strategy", "split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "strategy",
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
    )


# --------------------------------------------------------------------------
# LSH quality eval: banding recall against the exact-Jaccard truth
# --------------------------------------------------------------------------


def _sql_lsh_quality() -> str:
    return f"""
    WITH exact AS ({_SQL_JACCARD_PAIRS}),
    lsh AS ({_sql_minhash_lsh()}),
    missed AS (
      SELECT doc_a, doc_b FROM exact
      EXCEPT SELECT doc_a, doc_b FROM lsh
    ),
    spurious AS (
      SELECT doc_a, doc_b FROM lsh
      EXCEPT SELECT doc_a, doc_b FROM exact
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact_pairs,
           CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh_pairs,
           CAST((SELECT COUNT(*) FROM missed) AS BIGINT) AS n_missed_pairs,
           CAST(CASE WHEN (SELECT COUNT(*) FROM lsh) = 0 THEN 1000000
                ELSE 1000000 * ((SELECT COUNT(*) FROM lsh)
                                - (SELECT COUNT(*) FROM spurious))
                     // (SELECT COUNT(*) FROM lsh) END AS BIGINT)
             AS precision_micro,
           CAST(CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN 1000000
                ELSE 1000000 * ((SELECT COUNT(*) FROM exact)
                                - (SELECT COUNT(*) FROM missed))
                     // (SELECT COUNT(*) FROM exact) END AS BIGINT)
             AS recall_micro
    """


@component(
    "dedup_lsh_quality",
    oracle=_sql_lsh_quality(),
    cols=[
        ("n_exact_pairs", "num"),
        ("n_lsh_pairs", "num"),
        ("n_missed_pairs", "num"),
        ("precision_micro", "num"),
        ("recall_micro", "num"),
    ],
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH QUALITY EVAL: the banding scheme's measured recall against the
    exact-Jaccard truth at the same threshold — the number that justifies
    shipping MinHash-LSH as the 100 TB dedup path. Precision is 1.0 BY
    CONSTRUCTION (every LSH candidate is verified with the exact Jaccard
    before it surfaces — dedup_minhash_lsh's last stage), and the emitted
    precision_micro is COMPUTED from the spurious-pair anti-join in both
    engines (not pinned as a constant), so a broken verify stage that let
    unverified candidates through would read as precision < 1.0 here. Recall
    < 1 quantifies pairs whose 16-hash signatures happened to collide in
    no band (at J >= 0.7 with 4x4 banding the expected miss rate is
    ~(1 - (1-(1-0.7^4)^4)) — a few percent, data-dependent; the exact
    integer counts hash-match cross-engine either way).

    Scale: the EXACT side is the verification-scale all-shared-shingle
    join (dedup_ngram_jaccard's documented bound) — this eval runs at
    audit scale on samples, while production dedup runs the LSH side
    only; both sides share the cached shingle table."""
    prepare(spark, sf_dir)
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti").count()
    n_spurious = lsh.join(exact, ["doc_a", "doc_b"], "left_anti").count()
    precision_micro = (
        1000000 if n_lsh == 0 else 1000000 * (n_lsh - n_spurious) // n_lsh
    )
    # True-positive recall: (exact - missed) / exact — NOT n_lsh / n_exact,
    # which would only coincide while lsh ⊆ exact holds; a regressed verify
    # stage (spurious pairs) must depress precision without inflating recall.
    recall_micro = (
        1000000 if n_exact == 0 else 1000000 * (n_exact - n_missed) // n_exact
    )
    return spark.createDataFrame(
        [(n_exact, n_lsh, n_missed, precision_micro, recall_micro)],
        schema="n_exact_pairs bigint, n_lsh_pairs bigint, n_missed_pairs bigint, "
        "precision_micro bigint, recall_micro bigint",
    )
