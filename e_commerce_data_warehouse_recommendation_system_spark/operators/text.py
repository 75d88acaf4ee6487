"""Text-analysis operators over the ``documents`` table.

Beyond-reference extension (task brief): the operators a large-scale
training-data pipeline needs — language ID, quality scoring, token counting,
document fingerprinting. All pure Column expressions / joins (JVM-side,
whole-stage codegen); nothing row-at-a-time.

Scale posture: every operator is a single scan + narrow transforms; the only
shuffles are the final aggregations (language-ID argmax) — at 100 TB the
``documents`` scan dominates and these all pipeline over it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.registry import component, register
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

# Canonical tokenization shared by the text operators: trim, split on
# whitespace runs. DuckDB twin: string_split_regex(trim(text), '\s+').
def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"

# BPE-ish word-piece pattern: alpha runs, digit runs, single punctuation.
# Kept RE2-compatible so Spark (Java regex) and DuckDB (RE2) agree.
_PIECE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic, broadcastable, trivially extensible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "value", "table"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")


@component(
    "text_token_count",
    cols=[
        ("doc_id", "num"),
        ("n_ws_tokens", "num"),
        ("n_pieces", "num"),
        ("n_chars_measured", "num"),
    ],
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_PIECE_PATTERN}')) AS BIGINT) AS n_pieces,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish word-piece count.
    Pure expressions — ``split``/``regexp_count`` are codegen'd; no UDF."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(_PIECE_PATTERN)).cast("long").alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@component(
    "text_quality_score",
    cols=[
        ("doc_id", "num"),
        ("n_tokens", "num"),
        ("mean_token_len", "dbl"),
        ("stopword_ratio", "dbl"),
        ("quality_score", "dbl"),
    ],
    oracle=f"""
    SELECT doc_id, n_tokens, mean_token_len, stopword_ratio,
           CAST(CASE WHEN n_tokens >= 20 AND stopword_ratio BETWEEN 0.01 AND 0.6
                          AND mean_token_len BETWEEN 2.0 AND 12.0
                THEN 1.0 ELSE 0.0 END AS DOUBLE) AS quality_score
    FROM (
      SELECT doc_id,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
               / len({_SQL_TOKENS}) AS mean_token_len,
             CAST(len(list_filter({_SQL_TOKENS},
                  t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
               / len({_SQL_TOKENS}) AS stopword_ratio
      FROM documents
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / mean-token-length / stopword-ratio heuristics
    (the C4-style quality gate shape). Ratios are exact rationals of integer
    counts — deterministic across engines."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    mean_len = F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    ) / F.size(toks)
    score = (
        F.when(
            (n_tokens >= 20)
            & stop_ratio.between(0.01, 0.6)
            & mean_len.between(2.0, 12.0),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def _markers_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in sorted(LANG_MARKERS.items()) for w in words
    )
    return f"(VALUES {rows}) AS m(lang_code, marker)"


def _sql_lang_id() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    scores AS (
      SELECT t.doc_id, m.lang_code, COUNT(*) AS hits
      FROM toks t JOIN {_markers_values_sql()} ON t.tok = m.marker
      GROUP BY t.doc_id, m.lang_code
    ),
    best AS (
      SELECT doc_id, lang_code, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang_code) AS rn
      FROM scores
    )
    SELECT d.doc_id,
           coalesce(b.lang_code, 'und') AS predicted_lang,
           coalesce(b.hits, 0) AS marker_hits
    FROM documents d
    LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """


@register("text_lang_id", oracle=_sql_lang_id())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-token voting (n-gram heuristic family).
    Tokens explode -> broadcast join against the marker lexicon -> per-doc
    argmax. At 100 TB the lexicon is broadcast (KBs) and the explode is
    map-local; the single shuffle is the per-doc aggregation."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    markers = spark.createDataFrame(
        [(lang, w) for lang, words in sorted(LANG_MARKERS.items()) for w in words],
        "lang_code string, marker string",
    )
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    scores = (
        toks.join(F.broadcast(markers), toks.tok == markers.marker)
        .groupBy("doc_id", "lang_code")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang_code"))
    best = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return d.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lang_code", F.lit("und")).alias("predicted_lang"),
        F.coalesce("hits", F.lit(0)).alias("marker_hits"),
    )


@component(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS ({_sql_lang_id()})
    SELECT d.lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           d.lang = p.predicted_lang AS is_correct
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.predicted_lang
    """,
    cols=[
        ("lang", "str"),
        ("predicted_lang", "str"),
        ("n_docs", "num"),
        ("is_correct", "bool"),
    ],
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANG-ID QUALITY EVAL — the classifier-vs-labels confusion census
    of the marker-voting language ID against the labeled ``lang``
    column: one row per (true, predicted) pair with document counts and
    a correctness flag. Per-language
    precision/recall/accuracy all derive from these cells; a lexicon
    regression (dropped markers, a tie-break change) moves counts between
    cells and flips the suite digest red. Everything is a join + count,
    hash-exact cross-engine.

    Scale: the lang-ID side keeps its posture (broadcast lexicon,
    map-local explode, one per-doc aggregation); the census adds one
    doc_id equi-join and a rollup onto the bounded langs² grain."""
    prepare(spark, sf_dir)
    pred = text_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    d = spark.table("documents").select("doc_id", "lang")
    return (
        d.join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "lang",
            "predicted_lang",
            "n_docs",
            (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
        )
    )


PACK_BUDGET = 2048  # tokens per packed training sequence

#: docs per tape bucket for the two-phase packing prefix sum. doc_ids are
#: dense, so ``doc_id div WIDTH`` yields ordered, bounded range buckets.
#: Tuned low so the local SFs exercise MANY buckets per language (500 docs
#: -> 4 buckets, 5000 -> 40); a 100 TB run sets this to the window-buffer
#: scale (~1e6 docs/bucket -> ~1e4 bucket rows per shard in phase 1, still
#: a broadcastable prefix table).
#: doc_id range-bucket width for the two-phase tape prefix sum. Tunable
#: freely (production at 100 TB runs ~1e6): row-identity to the naive
#: window is pinned at BOTH degenerate extremes — WIDTH=1 and
#: WIDTH>corpus — in tests/test_round11_ops.py
#: (test_tape_offsets_degenerate_bucket_regimes), so retuning can change
#: cost shape but never results.
PACK_TAPE_BUCKET_DOCS = 128


def two_phase_tape_offsets(
    counted: DataFrame,
    shard_col: str = "lang",
    count_col: str = "n_tokens",
) -> DataFrame:
    """Per-shard running start offsets (tape layout) WITHOUT a corpus-sized
    single-partition sort.

    The naive plan — ``SUM(count) OVER (PARTITION BY shard ORDER BY doc_id
    ROWS UNBOUNDED PRECEDING .. 1 PRECEDING)`` — puts one task per shard
    over the whole shard; with a low-cardinality Zipf-skewed shard key
    (language), that is ~90% of a 100 TB corpus through ONE task. This is
    the same two-phase integer prefix sum as ``w8_interval_concurrency``
    (relational.py) and the W1b surrogate keys, keyed on doc_id range
    buckets:

    - phase 1: per-(shard, bucket) token sums (one hash groupBy), then the
      exclusive bucket prefix per shard via a window over the BUCKET table
      — |corpus| / PACK_TAPE_BUCKET_DOCS rows per shard, broadcastable;
    - phase 2: within-(shard, bucket) exclusive cumsum — every window
      partition is at most PACK_TAPE_BUCKET_DOCS rows.

    prefix(shard, bucket) + within-bucket cumsum == the global per-shard
    cumsum, exactly, in integers: bucket = ``doc_id div WIDTH`` is monotone
    in doc_id, so (bucket, doc_id) order IS doc_id order. Row-identical to
    the single-window form (oracle-checked at sf0.01/sf0.1; plan-pinned in
    tests/test_plans.py).

    Cost shape: phase 1's bucket sums partial-aggregate MAP-SIDE (only
    bucket-count rows cross its exchange); the one corpus-sized shuffle is
    phase 2's (shard, bucket) clustering — well-spread keys, no skew.

    Single-scan CONTRACT (r11 verdict #6, was a docstring caveat): both
    phases consume the input, so the helper stages it ITSELF with an eager
    localCheckpoint — the input lineage executes exactly once no matter
    what the caller passes, and the blocks are ContextCleaner-reclaimed
    when the result frame drops (unlike a cache, nothing accumulates).
    Callers no longer pre-cache the per-doc length table."""
    counted = counted.localCheckpoint(eager=True)
    bucketed = counted.withColumn(
        "_tb", F.expr(f"doc_id div {PACK_TAPE_BUCKET_DOCS}")
    )
    w_buckets = (
        Window.partitionBy(shard_col)
        .orderBy("_tb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_prefix = (
        bucketed.groupBy(shard_col, "_tb")
        .agg(F.sum(count_col).alias("_bsum"))
        .select(
            shard_col,
            "_tb",
            F.coalesce(F.sum("_bsum").over(w_buckets), F.lit(0)).alias("_prefix"),
        )
    )
    w_within = (
        Window.partitionBy(shard_col, "_tb")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        bucketed.join(F.broadcast(bucket_prefix), [shard_col, "_tb"])
        .withColumn(
            "start_offset",
            (
                F.col("_prefix")
                + F.coalesce(F.sum(count_col).over(w_within), F.lit(0))
            ).cast("long"),
        )
        .drop("_tb", "_prefix")
    )


def pack_seq_id(offset_col: str = "start_offset"):
    """seq_id = start_offset div PACK_BUDGET in INTEGER arithmetic —
    ``F.floor(col / budget)`` goes through doubles and diverges from the
    oracle's ``//`` once cumulative offsets pass 2^53 (a real number at
    100 TB tape scale)."""
    return F.expr(f"{offset_col} div {PACK_BUDGET}").cast("long")


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, lang, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_offset
      FROM counted
    )
    SELECT lang, CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM offsets
    GROUP BY 1, 2
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training pipelines: documents are laid out on a
    contiguous token tape per shard (here: per language, ordered by doc_id)
    and assigned to fixed-budget sequences by their start offset — the
    streaming-tokenizer packing scheme (docs may straddle a boundary; the
    tokenizer splits them at materialization). Cumulative offsets use the
    TWO-PHASE tape prefix sum (:func:`two_phase_tape_offsets`): the shard
    key is language — low-cardinality and Zipf-skewed, so the single
    per-shard window the oracle writes would push ~90% of a 100 TB corpus
    through one task; the two-phase plan is row-identical with every
    window partition bounded by PACK_TAPE_BUCKET_DOCS. Digest = docs and
    tokens per packed sequence."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    # the helper stages the fixed-width per-doc length table itself
    # (single-scan contract) — no caller-side cache needed
    counted = d.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    offsets = two_phase_tape_offsets(counted, "lang", "n_tokens")
    return (
        offsets.groupBy("lang", pack_seq_id().alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


@component(
    "text_pack_manifest",
    cols=[
        ("doc_id", "num"),
        ("lang", "str"),
        ("start_offset", "num"),
        ("seq_id", "num"),
        ("seq_offset", "num"),
        ("end_seq_id", "num"),
        ("straddles", "bool"),
    ],
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, lang, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_offset
      FROM counted
    )
    SELECT doc_id, lang,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(start_offset % {PACK_BUDGET} AS BIGINT) AS seq_offset,
           CAST((start_offset + n_tokens - 1) // {PACK_BUDGET} AS BIGINT)
             AS end_seq_id,
           (start_offset // {PACK_BUDGET})
             <> ((start_offset + n_tokens - 1) // {PACK_BUDGET}) AS straddles
    FROM offsets
    """,
)
def text_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PER-DOCUMENT tape manifest (round 11) — what a training job
    actually consumes from the packing layout: for every doc its absolute
    start offset on the per-language tape, the sequence it starts in, its
    offset WITHIN that sequence, the sequence it ends in, and whether it
    straddles a context-window boundary (the split the tokenizer performs
    at materialization). text_pack_sequences verifies the layout only
    through per-sequence rollups; this pins the two-phase offsets ROW BY
    ROW against the oracle's single-window form — the strongest equality
    the cross-engine check can express for the tape. All arithmetic is
    integer (div/%), exact at any offset magnitude.

    Scale: exactly :func:`two_phase_tape_offsets`'s cost (no per-shard
    window; one well-spread (lang, bucket) shuffle) plus map-side column
    arithmetic; output is one fixed-width row per doc."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    # the helper stages the per-doc length table (single-scan contract)
    counted = d.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    off = two_phase_tape_offsets(counted, "lang", "n_tokens")
    end_seq = F.expr(f"(start_offset + n_tokens - 1) div {PACK_BUDGET}").cast("long")
    return off.select(
        "doc_id",
        "lang",
        "start_offset",
        pack_seq_id().alias("seq_id"),
        F.expr(f"start_offset % {PACK_BUDGET}").cast("long").alias("seq_offset"),
        end_seq.alias("end_seq_id"),
        (pack_seq_id() != end_seq).alias("straddles"),
    )


@component(
    "text_pack_segments",
    cols=[
        ("doc_id", "num"),
        ("lang", "str"),
        ("seq_id", "num"),
        ("doc_tok_start", "num"),
        ("seq_offset", "num"),
        ("seg_len", "num"),
    ],
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, lang, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_offset
      FROM counted
    ),
    spans AS (
      -- window SUM yields HUGEINT; range() needs BIGINT bounds
      SELECT doc_id, lang, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
             CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_first,
             CAST((start_offset + n_tokens - 1) // {PACK_BUDGET} AS BIGINT)
               AS seq_last
      FROM offsets
    )
    SELECT doc_id, lang, CAST(s AS BIGINT) AS seq_id,
           CAST(GREATEST(start_offset, s * {PACK_BUDGET}) - start_offset AS BIGINT)
             AS doc_tok_start,
           CAST(GREATEST(start_offset, s * {PACK_BUDGET}) - s * {PACK_BUDGET} AS BIGINT)
             AS seq_offset,
           CAST(LEAST(start_offset + n_tokens, (s + 1) * {PACK_BUDGET})
                - GREATEST(start_offset, s * {PACK_BUDGET}) AS BIGINT) AS seg_len
    FROM spans, UNNEST(range(seq_first, seq_last + 1)) AS u(s)
    """,
)
def text_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED tape split (round 11): every packing rung so far
    says "docs may straddle a boundary; the tokenizer splits them at
    materialization" — this operator IS that split. Each document explodes
    into one segment per context window it touches: the segment's token
    range within the doc (``doc_tok_start``/``seg_len``) and its placement
    within the sequence (``seq_offset``). Conservation falls out of the
    algebra (Σ seg_len per doc = n_tokens; Σ seg_len per non-terminal
    sequence = {PACK_BUDGET}) and the full-result oracle checks every
    segment row cross-engine in pure integer arithmetic.

    Scale: the two-phase tape offsets plus a MAP-SIDE explode bounded by
    n_tokens/{PACK_BUDGET}+1 segments per doc — no new shuffle; output
    rows ≈ n_docs + corpus_tokens/{PACK_BUDGET}."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    # the helper stages the per-doc length table (single-scan contract)
    counted = d.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    off = two_phase_tape_offsets(counted, "lang", "n_tokens")
    spans = off.select(
        "doc_id",
        "lang",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {PACK_BUDGET}").alias("seq_first"),
        F.expr(f"(start_offset + n_tokens - 1) div {PACK_BUDGET}").alias("seq_last"),
    )
    gstart = F.greatest(F.col("start_offset"), F.col("s") * PACK_BUDGET)
    gend = F.least(
        F.col("start_offset") + F.col("n_tokens"), (F.col("s") + 1) * PACK_BUDGET
    )
    return spans.select(
        "doc_id",
        "lang",
        "start_offset",
        "n_tokens",
        F.explode(F.sequence(F.col("seq_first"), F.col("seq_last"))).alias("s"),
    ).select(
        "doc_id",
        "lang",
        F.col("s").cast("long").alias("seq_id"),
        (gstart - F.col("start_offset")).cast("long").alias("doc_tok_start"),
        (gstart - F.col("s") * PACK_BUDGET).cast("long").alias("seq_offset"),
        (gend - gstart).cast("long").alias("seg_len"),
    )


#: per-language sampling rates for the stratified sample (16ths of the md5
#: first hex digit: en keeps 8/16, others 4/16)
STRATA_FRACTIONS: dict[str, int] = {"en": 8, "es": 4, "fr": 4, "de": 4, "zh": 4}


@component(
    "text_stratified_sample",
    cols=[("lang", "str"), ("n_sampled", "num"), ("n_docs", "num")],
    oracle=f"""
    SELECT lang, COUNT(*) AS n_sampled, COUNT(DISTINCT doc_id) AS n_docs
    FROM documents
    WHERE CASE lang
            {' '.join(f"WHEN '{k}' THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))"
                      f" % 16 < {v}" for k, v in sorted(STRATA_FRACTIONS.items()))}
            ELSE FALSE END
    GROUP BY lang
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (M10 generalized): per-stratum
    keep-fractions decided by a hash of the row key — reproducible on any
    cluster topology and trivially SQL-expressible, unlike seeded
    ``sample()`` whose output depends on partitioning. The training-data
    move: downsample dominant languages, keep the tail. One scan, no
    shuffle before the digest aggregation."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 16
    keep = F.lit(False)
    for lang, frac in sorted(STRATA_FRACTIONS.items()):
        keep = F.when(F.col("lang") == lang, bucket < frac).otherwise(keep)
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.countDistinct("doc_id").alias("n_docs"))
    )


#: shard fan-out for the deterministic global shuffle. 16 here because the
#: single-hex-digit bucket is portably computable in both engines; at real
#: scale widen the key slice (e.g. 4 hex chars -> 65536 shards) — the plan
#: shape is identical.
N_SHUFFLE_SHARDS = 16


@component(
    "text_shuffle_shards",
    cols=[
        ("shard", "num"),
        ("n_docs", "num"),
        ("sum_chars", "num"),
        ("first_key", "str"),
        ("last_key", "str"),
    ],
    # shard = value of the first hex DIGIT (0..15 uniform), not ascii%16 —
    # ascii of '0'-'9','a'-'f' mod 16 collapses to 10 skewed buckets
    oracle="""
    SELECT strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(md5(CAST(doc_id AS VARCHAR))) AS first_key,
           MAX(md5(CAST(doc_id AS VARCHAR))) AS last_key
    FROM documents
    GROUP BY 1
    """,
)
def text_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into fixed training shards — the
    "shuffle the corpus before training" step every pre-training pipeline
    needs. Each doc's shard and its within-shard order both derive from
    md5(doc_id): reproducible on any cluster topology (unlike ``rand()`` or
    ``repartition`` alone, whose layout depends on partition count and task
    scheduling), decorrelated from any source ordering (crawl order, URL
    locality), and stable under re-runs — a replayed pipeline produces
    byte-identical shards.

    The materialization form is
    ``df.repartition(N, shard).sortWithinPartitions(order_key).write
    .partitionBy(shard)`` — ONE shuffle on the shard key, linear sort
    within each shard. The queryable form here digests the permutation:
    per-shard doc count (balance), char mass, and the first/last order keys
    (pins the exact within-shard ordering, since any membership or order
    change moves a min/max)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    key = F.md5(F.col("doc_id").cast("string"))
    # first hex digit's VALUE (0..15, uniform) — both engines via string
    # position; ascii%16 would fold 16 digits onto 10 skewed buckets
    shard = F.expr(
        "locate(substr(md5(cast(doc_id as string)), 1, 1), '0123456789abcdef') - 1"
    )
    return (
        d.select(shard.alias("shard"), key.alias("k"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
        )
    )


#: context-window chunking: tokens per chunk / tokens shared between
#: consecutive chunks (stride = size - overlap).
CHUNK_SIZE = 40
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


@component(
    "text_chunk_windows",
    cols=[
        ("doc_id", "num"),
        ("chunk_idx", "num"),
        ("start_tok", "num"),
        ("chunk_len", "num"),
        ("first_tok", "str"),
        ("last_tok", "str"),
    ],
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t, len({_SQL_TOKENS}) AS n FROM documents
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_SIZE}, n - s) AS BIGINT) AS chunk_len,
           t[CAST(s + 1 AS INT)] AS first_tok,
           t[CAST(s + LEAST({CHUNK_SIZE}, n - s) AS INT)] AS last_tok
    FROM toks, UNNEST(range(0, n, {_CHUNK_STRIDE})) AS u(s)
    WHERE n > 0
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap — the long-document fan-out
    every pre-training pipeline runs between cleaning and packing: a doc
    longer than the model context becomes overlapping token windows
    (stride = CHUNK_SIZE − CHUNK_OVERLAP, so each boundary keeps
    CHUNK_OVERLAP tokens of continuity), each window one training row.
    The complement of ``text_pack_sequences`` (which fills windows with
    SHORT docs; this splits LONG ones).

    The verification view emits per-chunk geometry plus the first/last
    token (pins the exact token slicing — any off-by-one in the window
    arithmetic moves a string). A production sink would carry the sliced
    token array itself.

    Scale posture: tokenize + ``sequence``/``posexplode`` are map-side
    narrow ops — the fan-out pipelines over the documents scan with NO
    shuffle anywhere (plan-pinned: zero Exchange); a 10^6-token doc
    becomes rows without any executor holding more than its Arrow batch."""
    prepare(spark, sf_dir)
    return chunk_token_windows(spark.table("documents"))


def chunk_token_windows(docs: DataFrame) -> DataFrame:
    """Core chunker over any (doc_id, text) frame — see
    :func:`text_chunk_windows` for semantics. Split out so invariant tests
    can drive it with synthesized documents of exact token counts."""
    d = (
        docs.select("doc_id", tokens("text").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    exploded = d.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_STRIDE))).alias("s"),
    )
    chunk_len = F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("s"))
    return exploded.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_tok"),
        chunk_len.cast("long").alias("chunk_len"),
        F.element_at("t", F.col("s").cast("int") + 1).alias("first_tok"),
        F.element_at("t", (F.col("s") + chunk_len).cast("int")).alias("last_tok"),
    )


#: per-domain document cap (C4/RefinedWeb-style "limit docs per domain").
DOMAIN_CAP = 15

#: domains with more docs than this route through the salted two-phase cap
#: instead of one per-domain window. Semantics: "bigger than one task
#: should sort in a single window buffer". Tuned low for the testdata SFs
#: (25 docs/domain at sf0.01 -> windowed path; 250 at sf0.1 -> two-phase
#: path, so BOTH paths run against the oracle locally); production at
#: 100 TB sets this to the window-buffer scale (~1e6 rows).
MEGA_DOMAIN_THRESHOLD = 100

#: fan-out of the salted first phase for mega-domains: each mega-domain is
#: split into this many independent sub-windows before the exact rank.
DOMAIN_CAP_SALTS = 8


def _domain_cap_windowed(docs: DataFrame) -> DataFrame:
    """Single-window cap (small domains): one shuffle on the domain key +
    bounded per-group rank; Catalyst's rank-limit pushdown plans a map-side
    ``WindowGroupLimit`` before the exchange (plan-pinned)."""
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= DOMAIN_CAP)
    )


def _domain_cap_two_phase(docs: DataFrame) -> DataFrame:
    """Salted two-phase cap (mega domains): phase 1 ranks each (domain,
    salt) sub-group independently — the mega-domain's rows spread over
    DOMAIN_CAP_SALTS partitions, so no single task ever sorts the whole
    domain — and keeps each sub-group's top K. Phase 2 ranks the surviving
    candidates (≤ K·SALTS rows per domain — bounded however large the
    domain) with the exact per-domain window. Exactness: the global top-K
    of a domain is contained in the union of its per-salt top-Ks, so the
    result is row-identical to the single-window form."""
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("_k"),
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(DOMAIN_CAP_SALTS)).alias("_salt"),
    )
    w1 = Window.partitionBy("source", "_salt").orderBy("_k", "doc_id")
    cand = (
        keyed.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= DOMAIN_CAP)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("source").orderBy("_k", "doc_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= DOMAIN_CAP)
        .select("doc_id", "source", "rnk")
    )


#: hex-prefix width of the md5 rank-bucket key for the two-phase exact
#: rank: 1 hex char = 16 range buckets. Local SFs (25 docs/source at
#: sf0.01, 250 at sf0.1) exercise multi-row buckets AND the bucket-prefix
#: arithmetic; a 100 TB run widens to 3-4 chars (4096-65536 buckets) so the
#: largest (group, bucket) window partition stays ~|group|/65536 rows. The
#: phase-1 stats table is |groups| x 16^width rows — broadcastable at any
#: realistic width.
#: leading-hex-char count keying the md5 rank/cumsum buckets (16^n
#: buckets). Tunable freely (production runs 3-4 hex chars): identity to
#: the naive window is pinned at the production width and at 16^7 >>
#: corpus (one doc per bucket) in tests/test_round11_ops.py
#: (test_md5_rank_and_cumsum_degenerate_bucket_regimes); widths above 7
#: overflow the int32 bucket id cast.
MD5_RANK_BUCKET_HEX = 1


def two_phase_md5_rank(df: DataFrame, group_col: str = "source") -> DataFrame:
    """EXACT per-group rank by the md5 order key (the M10 deterministic
    selection convention: ORDER BY md5(doc_id), doc_id) with NO group-sized
    window — the variable-quota companion to ``_domain_cap_two_phase``.

    The salted two-phase cap is exact only for a SMALL FIXED K (the global
    top-K lives in the union of per-salt top-Ks, ≤ K·SALTS candidates); a
    mixture downsample keeps a per-group quota that can approach |group|,
    so its phase-2 window would sort SALTS×quota ≈ corpus-sized rows in one
    task — worse than the window it replaces. Instead this is the
    range-partitioned selection form of the w8 two-phase prefix sum: bucket
    the rank key by its leading hex chars (bucket order IS key order, since
    the bucket is a monotone prefix of the key), count per (group, bucket)
    — one hash groupBy — take the exclusive bucket prefix over the tiny
    per-group bucket table, broadcast it, and rank within each
    (group, bucket) window: global_rank = bucket_prefix + within_bucket
    row_number, exactly, for EVERY row. Each window partition holds
    ~|group|/16^width rows; nothing group-sized crosses one task.

    Returns the input frame + an ``rk`` column identical to
    ``ROW_NUMBER() OVER (PARTITION BY group ORDER BY md5(doc_id), doc_id)``
    (pinned against the single window in tests/test_round11_ops.py;
    plan-pinned in tests/test_plans.py). Phase 1 is the bucket
    HISTOGRAM — it reads only (group, doc_id), partial-counts map-side,
    and shuffles bucket-count
    rows; phase 2's (group, bucket) clustering is the one corpus-sized
    shuffle, on well-spread keys. The input is scanned by both phases
    (phase 1 column-pruned to the two key columns) — expensive inputs are
    staged by the caller."""
    keyed = df.withColumn(
        "_k", F.md5(F.col("doc_id").cast("string"))
    ).withColumn(
        "_rb",
        F.conv(F.substring("_k", 1, MD5_RANK_BUCKET_HEX), 16, 10).cast("int"),
    )
    w_buckets = (
        Window.partitionBy(group_col)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.select(group_col, "_rb")
        .groupBy(group_col, "_rb")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            group_col,
            "_rb",
            F.coalesce(F.sum("_c").over(w_buckets), F.lit(0)).alias("_off"),
        )
    )
    w_within = Window.partitionBy(group_col, "_rb").orderBy("_k", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), [group_col, "_rb"])
        .withColumn("rk", F.col("_off") + F.row_number().over(w_within))
        .drop("_k", "_rb", "_off")
    )


def two_phase_md5_cumsum(
    df: DataFrame, group_col: str, count_col: str
) -> DataFrame:
    """Per-group EXCLUSIVE cumulative sum of ``count_col`` in the
    deterministic md5 order (ORDER BY md5(doc_id), doc_id) — the third
    instantiation of the range-bucket prefix machinery (tape offsets
    cumsum in doc_id order; md5 RANK counts rows in md5 order; this sums
    an arbitrary per-row metric in md5 order, which is what a token-budget
    sampler needs: "how many tokens precede me in the shuffle order").
    Same plan shape: md5-prefix buckets (monotone in the order key), one
    map-side-combined bucket-sum shuffle, a broadcast bucket prefix, and
    bounded within-(group, bucket) windows. Adds ``cum_before`` (long) to
    the input frame; row-identical to the single
    ``SUM(count) OVER (PARTITION BY group ORDER BY md5(doc_id), doc_id
    ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`` window."""
    keyed = df.withColumn(
        "_k", F.md5(F.col("doc_id").cast("string"))
    ).withColumn(
        "_rb",
        F.conv(F.substring("_k", 1, MD5_RANK_BUCKET_HEX), 16, 10).cast("int"),
    )
    w_buckets = (
        Window.partitionBy(group_col)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.select(group_col, "_rb", count_col)
        .groupBy(group_col, "_rb")
        .agg(F.sum(count_col).alias("_bsum"))
        .select(
            group_col,
            "_rb",
            F.coalesce(F.sum("_bsum").over(w_buckets), F.lit(0)).alias("_off"),
        )
    )
    w_within = (
        Window.partitionBy(group_col, "_rb")
        .orderBy("_k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        keyed.join(F.broadcast(offsets), [group_col, "_rb"])
        .withColumn(
            "cum_before",
            (
                F.col("_off") + F.coalesce(F.sum(count_col).over(w_within), F.lit(0))
            ).cast("long"),
        )
        .drop("_k", "_rb", "_off")
    )


#: per-source token budget for the deterministic token-budget sample.
#: Sized so BOTH local SFs exercise the boundary in every source (sf0.01:
#: ~25 docs x ~54 tokens ≈ 1350 tokens/source -> ~60% kept; sf0.1: ~13500
#: tokens/source -> ~6% kept); production sets it to the mixture's token
#: target per source.
TOKEN_BUDGET_PER_SOURCE = 800


@component(
    "text_token_budget_sample",
    cols=[
        ("source", "str"),
        ("n_docs_kept", "num"),
        ("tokens_kept", "num"),
        ("docs_checksum", "num"),
        ("budget_crossed", "bool"),
    ],
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM counted
    ),
    kept AS (
      SELECT * FROM cum WHERE cum_before < {TOKEN_BUDGET_PER_SOURCE}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(SUM(doc_id) AS BIGINT) AS docs_checksum,
           MAX(cum_before + n_tokens) >= {TOKEN_BUDGET_PER_SOURCE}
             AS budget_crossed
    FROM kept GROUP BY source
    """,
)
def text_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-budget sampling per source (round 11) — the form mixture
    targets actually take in training pipelines ("keep ~N TOKENS per
    source", not N documents): docs are taken in the deterministic md5
    shuffle order (the M10 convention) while the tokens BEFORE the doc
    stay under the budget, so the crossing doc is included (the Pile /
    C4 "finish the document" rule) and the sample is replay-identical.
    The selection needs "how many tokens precede me in md5 order per
    source" — :func:`two_phase_md5_cumsum`, the variable-metric sibling
    of the downsampler's rank (a per-source WINDOW would be one task per
    mega-source at 100 TB; a fixed-K cap doesn't express a token budget
    at all). Digest = per-source kept docs/tokens/checksum + the
    budget-crossed flag (every source must cross at the tuned local
    budgets — a silently-undersized corpus reads false and flips red).

    Scale: one map-side-combined bucket-sum shuffle + bounded
    within-bucket windows + a map-side filter; nothing group-sized
    crosses one task."""
    prepare(spark, sf_dir)
    counted = spark.table("documents").select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    cum = two_phase_md5_cumsum(counted, "source", "n_tokens")
    kept = cum.filter(F.col("cum_before") < TOKEN_BUDGET_PER_SOURCE)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.sum("doc_id").cast("long").alias("docs_checksum"),
        (
            F.max(F.col("cum_before") + F.col("n_tokens"))
            >= TOKEN_BUDGET_PER_SOURCE
        ).alias("budget_crossed"),
    )


@component(
    "text_domain_cap",
    cols=[("doc_id", "num"), ("source", "str"), ("rnk", "num")],
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    )
    SELECT doc_id, source, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {DOMAIN_CAP}
    """,
)
def text_domain_cap(
    spark: SparkSession, sf_dir: str, mega_threshold: int = MEGA_DOMAIN_THRESHOLD
) -> DataFrame:
    """Per-domain document cap — the C4/RefinedWeb anti-bias step that stops
    a handful of giant domains dominating the training mixture. Priority
    within a domain is the md5 order key (= "shuffle the domain, keep the
    first K"): deterministic, topology-independent, and uncorrelated with
    crawl order, so replays keep byte-identical docs.

    COUNT-THEN-CAP routing: a cheap per-domain count (map-side combine, one
    shuffle of domain-cardinality rows) splits the corpus into small
    domains — capped by ONE per-domain window, where Catalyst's rank-limit
    pushdown plans a map-side ``WindowGroupLimit`` before the exchange — and
    mega domains (> mega_threshold docs), capped by the salted two-phase
    plan (``_domain_cap_two_phase``): per-(domain, salt) partial top-K, then
    the exact rank over ≤ K·SALTS candidates. The mega-domain ID list is a
    heavy-hitter set (few by definition) and broadcasts into semi/anti
    routing joins, so routing never shuffles the corpus. Both paths produce
    row-identical output (same oracle); at 100 TB the two-phase path is what
    keeps a one-host-equals-10%-of-corpus domain from pinning a single task:
    its rows sort in SALTS independent sub-windows, and no executor ever
    holds window state larger than K·SALTS rows per domain. Plan-pinned in
    tests/test_plans.py (WindowGroupLimit on the small path; salted window
    + bounded exact window, and no full-domain single window, on the mega
    path)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    mega_ids = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > mega_threshold)
        .select("source")
    )
    small = d.join(F.broadcast(mega_ids), "source", "left_anti")
    mega = d.join(F.broadcast(mega_ids), "source", "left_semi")
    return _domain_cap_windowed(small).unionByName(_domain_cap_two_phase(mega))


@component(
    "text_fingerprint",
    cols=[("doc_id", "num"), ("fingerprint", "str")],
    oracle="""
    SELECT doc_id,
           md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase text
    (the exact-dedup key; rolling-hash family). md5 is identical across
    engines, making fingerprints portable oracle-checkable values."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    normalized = F.array_join(tokens(F.lower(F.col("text"))), " ")
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


TFIDF_TOP_TERMS = 3


@component(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rnk
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP_TERMS}
    """,
    cols=[
        ("doc_id", "num"),
        ("tok", "str"),
        ("tf", "num"),
        ("df", "num"),
        ("score", "dbl"),
        ("rnk", "num"),
    ],
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top distinctive terms, tf-idf family: rank by
    (tf DESC, df ASC, term ASC) — an all-integer ordering, so ranking never
    depends on float log rounding — and report score = tf x (N/df)
    (rational normalized frequency: one exact-rounded division, identical
    in both engines, unlike ln-based idf whose libm rounding is
    platform-specific). Shape: explode -> two aggregations (tf per
    doc-term, df per term) -> broadcastable df table join -> per-doc
    window. At 100 TB df is the only corpus-global state (vocabulary-sized,
    bounded); everything else shuffles on doc_id once."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "tok", "tf", "df", "score", "rnk")
    )


@component(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok,
             generate_subscripts({_SQL_TOKENS}, 1) AS i
      FROM documents
    ),
    bigrams AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    counts AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    ),
    stats AS (
      SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_count,
             COUNT(*) AS n_distinct
      FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(s.top_count, 0) AS BIGINT) AS top_bigram_count,
           CASE WHEN s.n_bigrams > 0
                THEN CAST(s.top_count AS DOUBLE) / s.n_bigrams ELSE 0.0 END
             AS top_bigram_ratio,
           CASE WHEN s.n_bigrams > 0
                THEN 1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_bigrams ELSE 0.0 END
             AS dup_bigram_fraction
    FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
    """,
    cols=[
        ("doc_id", "num"),
        ("n_bigrams", "num"),
        ("top_bigram_count", "num"),
        ("top_bigram_ratio", "dbl"),
        ("dup_bigram_fraction", "dbl"),
    ],
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (the Gopher-style quality rule family): per doc,
    the most-frequent bigram's share of all bigrams and the fraction of
    duplicated bigrams — high values flag boilerplate/spam for training-data
    filtering. One NGram pass + two aggregations, all shuffling on doc_id;
    ratios are exact rationals of integer counts (engine-identical)."""
    from pyspark.ml.feature import NGram

    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", tokens("text").alias("toks"))
    grams = NGram(n=2, inputCol="toks", outputCol="grams").transform(toks)
    counts = (
        grams.select("doc_id", F.explode("grams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_count"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    nb = F.col("n_bigrams")
    return (
        d.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(nb, F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("top_count", F.lit(0)).cast("bigint").alias("top_bigram_count"),
            F.when(nb > 0, F.col("top_count").cast("double") / nb)
            .otherwise(0.0)
            .alias("top_bigram_ratio"),
            F.when(nb > 0, 1.0 - F.col("n_distinct").cast("double") / nb)
            .otherwise(0.0)
            .alias("dup_bigram_fraction"),
        )
    )


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

#: PII patterns kept RE2-compatible (no lookaround, ASCII \b) so Spark
#: (java.util.regex) and DuckDB (RE2) match identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@component(
    "text_pii_scrub",
    cols=[
        ("doc_id", "num"),
        ("n_emails", "num"),
        ("n_phones", "num"),
        ("n_ips", "num"),
        ("scrub_md5", "str"),
    ],
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             text || CASE doc_id % 3
               WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN 1 THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
             END AS etext
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(etext, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(etext, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(etext, '{PII_IP_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(etext,
               '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
               '{PII_PHONE_RE}', '[PHONE]', 'g'),
               '{PII_IP_RE}', '[IP]', 'g')) AS scrub_md5
    FROM enriched
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before anything else sees the text. The synthetic corpus
    carries no organic PII, so the operator first injects a DETERMINISTIC
    marker per doc (email / phone / IPv4 by doc_id % 3 — identical
    construction in the oracle), then counts and redacts with the shared
    RE2-compatible patterns. Redaction is verified by value: the md5 of the
    scrubbed text must match DuckDB's byte-for-byte.

    Scale posture: pure ``regexp_count``/``regexp_replace`` column
    expressions — narrow, codegen'd, pipelined over the documents scan; no
    shuffle at all (the digest aggregation is the only one)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    injected = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" tel 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        )
        .otherwise(
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            )
        )
    )
    etext = F.concat(F.col("text"), injected)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(etext, PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ),
        PII_IP_RE,
        "[IP]",
    )
    return d.select(
        "doc_id",
        F.regexp_count(etext, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(etext, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(etext, F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


# --------------------------------------------------------------------------
# Document filter funnel (C4-style cleaning pipeline)
# --------------------------------------------------------------------------

#: Sequential cleaning rules: (name, min-chars / token-count / mean-token-
#: length / stopword-ratio / language gates). Thresholds chosen to bite on
#: the synthetic corpus (47-558 chars, 10-99 tokens, 5 languages).
FUNNEL_MIN_CHARS = 100
FUNNEL_TOKENS = (20, 10_000)
FUNNEL_MEAN_TOKLEN = (3.0, 12.0)
FUNNEL_MIN_STOPWORD_FRAC = 0.02
FUNNEL_LANG = "en"


@component(
    "text_filter_funnel",
    cols=[("rule", "str"), ("n_in", "num"), ("n_kept", "num")],
    oracle=f"""
    WITH d AS (
      SELECT length(text) AS L,
             len({_SQL_TOKENS}) AS T,
             len(list_filter({_SQL_TOKENS},
                 x -> x IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS SW,
             lang
      FROM documents
    ),
    flags AS (
      SELECT (L >= {FUNNEL_MIN_CHARS}) AS p1,
             (T BETWEEN {FUNNEL_TOKENS[0]} AND {FUNNEL_TOKENS[1]}) AS p2,
             (CAST(L AS DOUBLE) / T BETWEEN {FUNNEL_MEAN_TOKLEN[0]} AND {FUNNEL_MEAN_TOKLEN[1]}) AS p3,
             (CAST(SW AS DOUBLE) / T >= {FUNNEL_MIN_STOPWORD_FRAC}) AS p4,
             (lang = '{FUNNEL_LANG}') AS p5
      FROM d
    ),
    agg AS (
      SELECT COUNT(*) AS n0,
             CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS k4,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 THEN 1 ELSE 0 END) AS BIGINT) AS k5
      FROM flags
    )
    SELECT 'r1_min_chars' AS rule, n0 AS n_in, k1 AS n_kept FROM agg
    UNION ALL SELECT 'r2_token_count', k1, k2 FROM agg
    UNION ALL SELECT 'r3_mean_token_len', k2, k3 FROM agg
    UNION ALL SELECT 'r4_stopword_frac', k3, k4 FROM agg
    UNION ALL SELECT 'r5_language', k4, k5 FROM agg
    """,
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style document-cleaning funnel: five sequential keep rules
    (min length, token count, mean token length, stopword ratio, language),
    reported as (rule, n_in, n_kept) — the per-stage survivor counts every
    corpus-cleaning run publishes. All five rules compile into ONE
    aggregation pass (the dq_orders_checks pattern): a 100 TB corpus pays
    one scan + one tiny shuffle for the whole funnel, with map-side partial
    aggregation doing the counting.

    Ratios compare in IEEE double from exact integer counts — identical in
    both engines, so the funnel is hash-checkable end to end."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = tokens("text")
    L = F.length("text")
    T = F.size(toks)
    SW = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    p1 = L >= FUNNEL_MIN_CHARS
    p2 = T.between(*FUNNEL_TOKENS)
    p3 = (L.cast("double") / T).between(*FUNNEL_MEAN_TOKLEN)
    p4 = (SW.cast("double") / T) >= FUNNEL_MIN_STOPWORD_FRAC
    p5 = F.col("lang") == FUNNEL_LANG
    conj = [p1, p1 & p2, p1 & p2 & p3, p1 & p2 & p3 & p4, p1 & p2 & p3 & p4 & p5]
    agg = d.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.coalesce(F.sum(c.cast("long")), F.lit(0)).alias(f"k{i + 1}")
            for i, c in enumerate(conj)
        ],
    )
    names = [
        "r1_min_chars",
        "r2_token_count",
        "r3_mean_token_len",
        "r4_stopword_frac",
        "r5_language",
    ]
    stacked = ", ".join(
        f"'{name}', k{i}, k{i + 1}" if i > 0 else f"'{name}', n0, k1"
        for i, name in enumerate(names)
    )
    return agg.selectExpr(f"stack({len(names)}, {stacked}) AS (rule, n_in, n_kept)")


@component(
    "text_funnel_reasons",
    cols=[("doc_id", "num"), ("verdict", "str")],
    oracle=f"""
    WITH d AS (
      SELECT doc_id, length(text) AS L, len({_SQL_TOKENS}) AS T,
             len(list_filter({_SQL_TOKENS},
                 x -> x IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS SW,
             lang
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN NOT (L >= {FUNNEL_MIN_CHARS}) THEN 'r1_min_chars'
             WHEN NOT (T BETWEEN {FUNNEL_TOKENS[0]} AND {FUNNEL_TOKENS[1]})
               THEN 'r2_token_count'
             WHEN NOT (CAST(L AS DOUBLE) / T
                       BETWEEN {FUNNEL_MEAN_TOKLEN[0]} AND {FUNNEL_MEAN_TOKLEN[1]})
               THEN 'r3_mean_token_len'
             WHEN NOT (CAST(SW AS DOUBLE) / T >= {FUNNEL_MIN_STOPWORD_FRAC})
               THEN 'r4_stopword_frac'
             WHEN NOT (lang = '{FUNNEL_LANG}') THEN 'r5_language'
             ELSE 'kept'
           END AS verdict
    FROM d
    """,
)
def text_funnel_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT funnel attribution (round 11) — the "why was my
    document dropped" diagnostic every curation run publishes next to the
    aggregate funnel: each doc gets the FIRST failing C4 rule in the
    funnel's fixed order (or ``kept``). text_filter_funnel checks the
    survivor COUNTS; this pins the per-doc routing itself, so a rule
    evaluated out of order or with a flipped bound shows up as a
    row-level verdict mismatch, not a count coincidence. Provenance
    columns like this are also what a takedown/audit workflow queries.

    Scale: one map-side CASE over the corpus scan — no shuffle at all
    (pure Column expressions; ratios compare in IEEE double from exact
    integer counts, identical in both engines)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = tokens("text")
    L = F.length("text")
    T = F.size(toks)
    SW = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    verdict = (
        F.when(~(L >= FUNNEL_MIN_CHARS), F.lit("r1_min_chars"))
        .when(~T.between(*FUNNEL_TOKENS), F.lit("r2_token_count"))
        .when(
            ~(L.cast("double") / T).between(*FUNNEL_MEAN_TOKLEN),
            F.lit("r3_mean_token_len"),
        )
        .when(
            ~((SW.cast("double") / T) >= FUNNEL_MIN_STOPWORD_FRAC),
            F.lit("r4_stopword_frac"),
        )
        .when(~(F.col("lang") == FUNNEL_LANG), F.lit("r5_language"))
        .otherwise(F.lit("kept"))
    )
    return d.select("doc_id", verdict.alias("verdict"))


@component(
    "text_length_bucket_batching",
    cols=[
        ("band", "num"),
        ("n_docs", "num"),
        ("min_len", "num"),
        ("max_len", "num"),
        ("sum_tokens", "num"),
        ("padding_waste", "num"),
        ("waste_share_micro", "num"),
    ],
    oracle="""
    WITH counted AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS T
      FROM documents
    )
    SELECT CAST(length(bin(T)) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(T) AS BIGINT) AS min_len,
           CAST(MAX(T) AS BIGINT) AS max_len,
           CAST(SUM(T) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(T) - SUM(T) AS BIGINT) AS padding_waste,
           CAST((1000000 * (COUNT(*) * MAX(T) - SUM(T)))
                // (COUNT(*) * MAX(T)) AS BIGINT) AS waste_share_micro
    FROM counted GROUP BY 1
    """,
)
def text_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit (round 11) — the padding-efficiency
    question every fixed-shape training batch assembler answers: group
    docs into power-of-two token-length bands (band = bit_length(T), an
    INTEGER banding — no percentile interpolation to diverge across
    engines) and report, per band, the padding waste if batches pad to
    the band's max length: waste = n_docs·max_len − Σlen, and its share
    in integer micro-units. Comparing a band's waste share against the
    corpus-wide single-bucket figure (the widest band's max applied to
    everything) is exactly the "bucketed batching vs naive padding"
    argument; all arithmetic is integer-exact cross-engine.

    Scale: one map-side banding expression + one hash groupBy with
    map-side partial aggregation over ≤ ~40 bands — the funnel's cost
    shape."""
    prepare(spark, sf_dir)
    counted = spark.table("documents").select(
        F.size(tokens("text")).cast("long").alias("T")
    )
    g = counted.groupBy(
        F.length(F.bin("T")).cast("long").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("T").alias("min_len"),
        F.max("T").alias("max_len"),
        F.sum("T").alias("sum_tokens"),
    )
    waste = F.col("n_docs") * F.col("max_len") - F.col("sum_tokens")
    return g.select(
        "band",
        "n_docs",
        "min_len",
        "max_len",
        "sum_tokens",
        waste.cast("long").alias("padding_waste"),
        F.expr("div(1000000 * (n_docs * max_len - sum_tokens), n_docs * max_len)")
        .cast("long")
        .alias("waste_share_micro"),
    )


# --------------------------------------------------------------------------
# Vocabulary build + OOV-rate scoring (tokenizer-prep family)
# --------------------------------------------------------------------------

VOCAB_TOP_K = 20  # reported vocabulary slice
OOV_VOCAB_SIZE = 16  # in-vocab cut for the OOV-rate quality signal


@component(
    "text_vocab_topk",
    cols=[("tok", "str"), ("cnt", "num"), ("df", "num"), ("rnk", "num")],
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT tok, cnt, df,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM counts
    )
    SELECT tok, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {VOCAB_TOP_K}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (the tokenizer-training prep step): corpus-global
    token frequencies + document frequencies, top-K by the all-integer
    ordering (count DESC, token ASC) so ranking never depends on floats.

    Scale posture: explode is map-local; ONE shuffle on token builds the
    vocab table (vocabulary-bounded, millions of rows at 100 TB — tiny next
    to the corpus); the top-K is sort+limit (TakeOrderedAndProject, no
    global window over the full vocab), and the rank window then runs on
    only K rows (bounded; the WindowExec single-partition path is
    intentional and K-sized)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("df")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))  # K rows only (bounded)
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


@component(
    "text_oov_rate",
    cols=[
        ("doc_id", "num"),
        ("n_tokens", "num"),
        ("n_oov", "num"),
        ("oov_rate", "dbl"),
    ],
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rnk
        FROM toks GROUP BY tok
      ) WHERE rnk <= {OOV_VOCAB_SIZE}
    ),
    per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
    FROM per_doc
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document — the unigram-LM-lite quality
    signal: documents whose tokens fall outside the top-V corpus vocabulary
    are flagged as noisy/foreign (training-data filtering heuristic). The
    rate is an exact rational of integer counts, engine-identical.

    Scale posture: the vocab is sort+limit over the token-bounded count
    table and is BROADCAST to the explode stream (vocab ≪ corpus); the only
    full shuffle is the per-doc aggregation on doc_id. No window over
    unbounded data."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(OOV_VOCAB_SIZE)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


#: Mixture weights by source-index class (idx % 4): epochs per source in a
#: training-data mix. Split into integer full repeats + a fractional part
#: expressed in 16ths (decided per-doc by an md5 bucket), so w=2.25 means
#: "2 full epochs + a deterministic 25% of docs get a 3rd copy".
MIXTURE_FULL_REPEATS = (0, 1, 2, 3)
MIXTURE_FRAC16 = (8, 0, 4, 8)  # -> weights 0.5, 1.0, 2.25, 3.5


@component(
    "text_mixture_upsample",
    oracle=f"""
    WITH rep AS (
      SELECT doc_id, source,
             (CASE CAST(substr(source, 4) AS INT) % 4
                {' '.join(f"WHEN {i} THEN {r}" for i, r in enumerate(MIXTURE_FULL_REPEATS))}
              END)
             + (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 16 <
                     (CASE CAST(substr(source, 4) AS INT) % 4
                        {' '.join(f"WHEN {i} THEN {f}" for i, f in enumerate(MIXTURE_FRAC16))}
                      END)
                THEN 1 ELSE 0 END) AS n_rep
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs_in,  -- doc_id unique per documents row
           CAST(SUM(n_rep) AS BIGINT) AS n_emitted
    FROM rep WHERE n_rep > 0 GROUP BY source
    """,
    cols=[("source", "str"), ("n_docs_in", "num"), ("n_emitted", "num")],
)
def text_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture by source weights, with UP-sampling: each
    source gets a target epoch weight (0.5x … 3.5x); integer part = full
    corpus repeats, fractional part = a deterministic md5-bucketed subset
    getting one extra copy. This is the "mix web at 0.5 epochs, books at
    2.25" step of LLM pre-training data assembly — the complement of
    ``text_stratified_sample`` (which only downsamples). Emission is a real
    row-multiplying ``explode(sequence(1, n_rep))`` so downstream sees the
    physically repeated dataset, digested per source.

    Scale posture: one scan, map-side expressions, explode multiplies rows
    without any shuffle (fan-out stays inside the partition), then ONE
    aggregation shuffle on source — doc membership is counted as
    "copy_no == 1" rows instead of countDistinct(doc_id), which would add
    a second, (source, doc_id)-keyed expand shuffle for a count the unique
    doc_id already guarantees. Hash-decided fractional membership is
    topology-independent — same mixture on any cluster or partitioning."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    idx4 = F.substring("source", 4, 10).cast("int") % 4
    full = F.lit(None).cast("int")
    frac16 = F.lit(None).cast("int")
    for i in range(3, -1, -1):
        full = F.when(idx4 == i, MIXTURE_FULL_REPEATS[i]).otherwise(full)
        frac16 = F.when(idx4 == i, MIXTURE_FRAC16[i]).otherwise(frac16)
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 16
    n_rep = full + F.when(bucket < frac16, 1).otherwise(0)
    emitted = (
        d.withColumn("n_rep", n_rep)
        .filter(F.col("n_rep") > 0)
        .withColumn("copy_no", F.explode(F.sequence(F.lit(1), F.col("n_rep"))))
    )
    return emitted.groupBy("source").agg(
        F.sum((F.col("copy_no") == 1).cast("long")).alias("n_docs_in"),
        F.count(F.lit(1)).alias("n_emitted"),
    )


# --------------------------------------------------------------------------
# Temperature-based mixture weights (alpha = 0.5 sampling, mBERT/XLM-R)
# --------------------------------------------------------------------------


@component(
    "text_mixture_temperature",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    m AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS sqrt_micro
      FROM s
    ),
    t AS (
      SELECT CAST(SUM(sqrt_micro) AS BIGINT) AS tot,
             CAST(SUM(n_docs) AS BIGINT) AS n
      FROM m
    )
    SELECT source, n_docs,
           CAST((1000000 * sqrt_micro) // t.tot AS BIGINT) AS share_micro,
           CAST((t.n * ((1000000 * sqrt_micro) // t.tot)) // 1000000 AS BIGINT)
             AS target_docs,
           (t.n * ((1000000 * sqrt_micro) // t.tot)) // 1000000 > n_docs
             AS upsampled
    FROM m, t
    """,
    cols=[
        ("source", "str"),
        ("n_docs", "num"),
        ("share_micro", "num"),
        ("target_docs", "num"),
        ("upsampled", "bool"),
    ],
)
def text_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights, the multilingual
    pre-training recipe (mBERT / XLM-R exponent alpha on source priors):
    sampling share ∝ p_i^alpha flattens the source distribution — dominant
    sources are downweighted, tail sources upweighted — at alpha = 0.5,
    where p^alpha = sqrt(p) and the N denominators cancel, so the share is
    sqrt(n_i)/Σ sqrt(n_j). This computes the WEIGHTS the fixed-constant
    mixture (text_mixture_upsample) would consume; together they are the
    plan-then-emit halves of mixture assembly.

    Exactness without libm: p^alpha for general alpha is pow() (whose
    rounding is libm-/platform-specific and never crosses the engine
    boundary in this repo — the tf-idf/BM25/NDCG convention); alpha = 0.5
    is exactly sqrt, which IEEE 754 REQUIRES correctly rounded in both
    engines. Each sqrt is floored to integer micro-units before any
    aggregation, so the cross-source sum, the share division, and the
    target count are all exact int64 arithmetic (Spark ``div`` ≡ DuckDB
    ``//``) — order-independent and bit-identical.

    Scale: one map-side-combined source rollup (source domain is
    catalog-bounded), one 2-scalar broadcast, integer math — O(sources)
    after the single corpus aggregation."""
    prepare(spark, sf_dir)
    s = spark.table("documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    m = s.withColumn(
        "sqrt_micro",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0).cast("long"),
    )
    t = m.agg(
        F.sum("sqrt_micro").cast("long").alias("tot"),
        F.sum("n_docs").cast("long").alias("n"),
    )
    share = F.expr("div(1000000 * sqrt_micro, tot)")
    target = F.expr("div(n * div(1000000 * sqrt_micro, tot), 1000000)")
    return m.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        share.cast("long").alias("share_micro"),
        target.cast("long").alias("target_docs"),
        (target > F.col("n_docs")).alias("upsampled"),
    )


# --------------------------------------------------------------------------
# Inverted-index conjunctive search (full-text AND query)
# --------------------------------------------------------------------------

#: the demo conjunctive query — three mid-frequency corpus terms
SEARCH_TERMS = ("hash", "merge", "window")


_SEARCH_IN = ", ".join(f"'{t}'" for t in SEARCH_TERMS)


@component(
    "text_search_conjunctive",
    oracle=f"""
    WITH postings AS (
      SELECT doc_id, t.term, COUNT(*) AS tf
      FROM documents,
           LATERAL (SELECT unnest({_SQL_TOKENS}) AS term) t
      WHERE t.term IN ({_SEARCH_IN})
      GROUP BY doc_id, t.term
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM postings
    GROUP BY doc_id
    HAVING COUNT(*) = {len(SEARCH_TERMS)}
    """,
    cols=[("doc_id", "num"), ("n_terms_matched", "num"), ("total_tf", "num")],
)
def text_search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-text search over the inverted-index shape: docs
    containing ALL of {SEARCH_TERMS}, with the summed term frequency as
    the ranking signal — the posting-list-intersection query a product
    search or doc-retrieval layer runs (the retrieval twin of the
    tf-idf/vocab statistics this module already computes).

    Plan shape: the term filter applies DURING the explode (only query
    terms survive — posting-list rows, not the token stream), then one
    partial-agg shuffle on (doc, term) and a per-doc conjunction count;
    HAVING count = |terms| IS the list intersection. At 100 TB the
    postings would be a MATERIALIZED term-bucketed table (write once,
    query many) and this query prunes to the query terms' buckets —
    identical plan from the postings on."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    postings = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        postings.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
        )
        .filter(F.col("n_terms_matched") == len(SEARCH_TERMS))
        .select(
            "doc_id",
            F.col("n_terms_matched").cast("bigint").alias("n_terms_matched"),
            F.col("total_tf").cast("bigint").alias("total_tf"),
        )
    )


# --------------------------------------------------------------------------
# Positional phrase search (exact adjacency via positional postings)
# --------------------------------------------------------------------------

PHRASE = ("table", "value")  # the demo exact phrase "table value"


@component(
    "text_search_phrase",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, t.term, t.p
      FROM documents,
           LATERAL (
             SELECT unnest({_SQL_TOKENS}) AS term,
                    generate_subscripts({_SQL_TOKENS}, 1) AS p
           ) t
      WHERE t.term IN ('{PHRASE[0]}', '{PHRASE[1]}')
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id AND b.p = a.p + 1
     AND a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    cols=[("doc_id", "num"), ("n_occurrences", "num")],
)
def text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ("table value") via POSITIONAL postings — the
    adjacency query a plain inverted index can't answer
    (text_search_conjunctive finds co-occurrence anywhere; this finds the
    terms at consecutive positions). posexplode keeps each token's
    ordinal; only the phrase's terms survive the explode, and adjacency
    is a self-join on (doc, position+1) over those posting rows — the
    standard positional-index probe, with the join space bounded by the
    query terms' posting lists, never the token stream.

    At 100 TB the positional postings are materialized term-bucketed
    (like the conjunctive index, plus the position column); phrase cost
    stays |postings(term_a)| ⋈ |postings(term_b)|."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    pos = (
        d.select("doc_id", F.posexplode(tokens("text")).alias("p0", "term"))
        .filter(F.col("term").isin(*PHRASE))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "term")
    )
    a = pos.filter(F.col("term") == PHRASE[0]).select(
        F.col("doc_id").alias("doc_a"), F.col("p").alias("pa")
    )
    b = pos.filter(F.col("term") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    return (
        a.join(b, (F.col("doc_a") == F.col("doc_b")) & (F.col("pb") == F.col("pa") + 1))
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select("doc_id", F.col("n_occurrences").cast("bigint").alias("n_occurrences"))
    )


# --------------------------------------------------------------------------
# Python UDTF surface: token-stream run-length encoding (§2.11 completion)
# --------------------------------------------------------------------------


def _register_rle_udtf(spark: SparkSession) -> None:
    """Register the run-length-encoding table function. A UDTF is the right
    tool here because RLE is inherently SEQUENTIAL per input row (each
    output row depends on where the previous run ended) and emits a
    VARIABLE number of rows per doc — the one §2.11 shape neither a scalar
    pandas UDF (1:1) nor applyInPandas (per-group) expresses directly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string, run_len: int, start_pos: int")
    class RleTokens:
        def eval(self, text: str):
            toks = text.split() if text is not None else []
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                yield toks[i], j - i, i + 1  # 1-based, matching posexplode+1
                i = j

    spark.udtf.register("rle_tokens", RleTokens)


@component(
    "text_rle_udtf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.tok, t.p
      FROM documents,
           LATERAL (
             SELECT unnest({_SQL_TOKENS}) AS tok,
                    generate_subscripts({_SQL_TOKENS}, 1) AS p
           ) t
    ),
    isl AS (
      SELECT doc_id, tok, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY p) AS grp
      FROM toks
    )
    SELECT doc_id, tok AS token, CAST(COUNT(*) AS INT) AS run_len,
           CAST(MIN(p) AS INT) AS start_pos
    FROM isl GROUP BY doc_id, tok, grp
    """,
    cols=[
        ("doc_id", "num"),
        ("token", "str"),
        ("run_len", "num"),
        ("start_pos", "num"),
    ],
)
def text_rle_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each doc's token stream through a PYTHON
    UDTF (lateral table function) — completing the §2.11 surface: scalar
    pandas UDF (functions/scalar.pandas_title), grouped applyInPandas
    (MMR), mapInPandas (the ALS Gram partials), and now a UDTF for the
    sequential-scan, variable-arity shape (the repetition profile
    text_repetition summarizes; this emits the actual runs). The oracle
    reproduces RLE relationally — the DuckDB gaps-islands idiom over
    positional tokens — so the Python boundary is value-checked row for
    row, not just counted.

    Scale: the UDTF streams through Arrow batches like every Python stage
    here; one doc in, its runs out — no state across docs, no shuffle in
    the encode (the lateral join is per-row)."""
    prepare(spark, sf_dir)
    _register_rle_udtf(spark)
    return spark.sql(
        """
        SELECT d.doc_id, r.token, r.run_len, r.start_pos
        FROM documents d, LATERAL rle_tokens(d.text) r
        """
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval (rational IDF — deterministic cross-engine)
# --------------------------------------------------------------------------

#: Okapi BM25 shape parameters (standard defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 15

#: Rational-IDF convention (same reasoning as text_tfidf_topterms): the
#: classic ln((N-df+0.5)/(df+0.5)) is monotone in its argument, so ranking
#: by the RAW rational (N-df+0.5)/(df+0.5) preserves per-term ordering
#: while staying a chain of exactly-rounded IEEE ops — identical bits in
#: Spark and DuckDB, where ln's libm rounding is platform-specific.
#: Scores cross engines as FLOOR(score*1e6) per (doc, term) summed as
#: BIGINT — order-independent and exact (the module's micro-unit rule).


@component(
    "text_search_bm25",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl FROM documents
    ),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
      FROM dl
    ),
    postings AS (
      SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents, LATERAL (SELECT unnest({_SQL_TOKENS}) AS term) t
      WHERE t.term IN ({_SEARCH_IN})
      GROUP BY doc_id, t.term
    ),
    dft AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM postings GROUP BY term
    ),
    term_scored AS (
      SELECT p.doc_id,
             CAST(FLOOR(
               ((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                   + CAST(0.5 AS DOUBLE))
                / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
               * ((CAST(p.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
                  / (CAST(p.tf AS DOUBLE)
                     + CAST({BM25_K1!r} AS DOUBLE)
                       * (CAST(1.0 AS DOUBLE) - CAST({BM25_B!r} AS DOUBLE)
                          + CAST({BM25_B!r} AS DOUBLE)
                            * (CAST(l.dl AS DOUBLE)
                               / (CAST(c.total_dl AS DOUBLE)
                                  / CAST(c.n_docs AS DOUBLE))))))
               * CAST(1000000.0 AS DOUBLE)
             ) AS BIGINT) AS term_score_micro
      FROM postings p
      JOIN dft d ON p.term = d.term
      JOIN dl l ON p.doc_id = l.doc_id
      CROSS JOIN corpus c
    ),
    doc_scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
      FROM term_scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched, score_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS INT)
             AS rnk
    FROM doc_scored
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT {BM25_TOP_K}
    """,
    cols=[
        ("doc_id", "num"),
        ("n_terms_matched", "num"),
        ("score_micro", "num"),
        ("rnk", "num"),
    ],
)
def text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked disjunctive retrieval over {SEARCH_TERMS} — the RANKED
    completion of the search trio (conjunctive = boolean AND, phrase =
    positional adjacency, this = scored OR). Standard Okapi shape
    (k1={BM25_K1}, b={BM25_B}) with the rational-IDF convention documented
    above: every arithmetic step is an exactly-rounded IEEE double op
    written in the SAME association order as the oracle, and per-term
    scores cross the engine boundary as floored micro-units summed in
    exact integers — bit-identical by construction, no libm anywhere.

    Plan shape: postings = explode pruned to the query terms (posting-list
    rows only), df per term (|query|-row broadcast), doc lengths from a
    second scan folded to (doc_id, dl), corpus stats a 1-row broadcast;
    one shuffle each for postings/dl/doc-grouping, then a global top-k
    (orderBy+limit, which Spark executes as per-partition TakeOrdered +
    driver merge of K — never a full sort) re-ranked on the K-row result.
    At 100 TB the postings and dl frames are materialized term-/doc-
    bucketed tables (the conjunctive component's documented posture) and
    cost stays bounded by the query terms' posting lists."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    dl = d.select("doc_id", F.size(tokens("text")).cast("long").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    postings = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = postings.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dd = lambda c: c.cast("double")  # noqa: E731 — mirrors the oracle's CASTs
    avgdl = dd(F.col("total_dl")) / dd(F.col("n_docs"))
    idf = (dd(F.col("n_docs")) - dd(F.col("df")) + F.lit(0.5)) / (
        dd(F.col("df")) + F.lit(0.5)
    )
    tfnorm = (dd(F.col("tf")) * F.lit(BM25_K1 + 1.0)) / (
        dd(F.col("tf"))
        + F.lit(BM25_K1)
        * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * (dd(F.col("dl")) / avgdl))
    )
    term_scored = (
        postings.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(idf * tfnorm * F.lit(1000000.0)).cast("long").alias(
                "term_score_micro"
            ),
        )
    )
    doc_scored = term_scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.sum("term_score_micro").cast("long").alias("score_micro"),
    )
    topk = doc_scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(
        BM25_TOP_K
    )
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return topk.withColumn("rnk", F.row_number().over(w).cast("int"))


# --------------------------------------------------------------------------
# Leakage-safe group-aware holdout split
# --------------------------------------------------------------------------

#: md5-first-hex-digit split of the GROUP key: 0-9 -> train (10/16),
#: a-c -> val (3/16), d-f -> test (3/16).
GROUP_SPLIT_BOUNDS = ("9", "c")


@component(
    "text_group_holdout_split",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN substr(md5(source), 1, 1) <= '{GROUP_SPLIT_BOUNDS[0]}'
                  THEN 'train'
                WHEN substr(md5(source), 1, 1) <= '{GROUP_SPLIT_BOUNDS[1]}'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    cols=[("doc_id", "num"), ("source", "str"), ("split", "str")],
)
def text_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/val/test split: the split is a pure function of
    the md5 of the GROUP key (``source``), so every document of a group
    lands in the same split by construction — the leakage guard the
    row-level M10 split (rec_train_test_split, md5 of user:item) cannot
    give: evaluating on held-out docs whose near-duplicates from the same
    source sit in train is the classic contamination path for web-scale
    corpora; splitting by source closes it.

    Scale: map-only — no shuffle, no group materialization, no
    coordination state; any executor computes any row's split
    independently, and the assignment is stable under corpus growth
    (adding documents never moves an existing group's split). Hex-digit
    bounds give 10/3/3 sixteenths; finer ratios take more digits."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    digit = F.substring(F.md5(F.col("source")), 1, 1)
    return d.select(
        "doc_id",
        "source",
        F.when(digit <= GROUP_SPLIT_BOUNDS[0], "train")
        .when(digit <= GROUP_SPLIT_BOUNDS[1], "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# Content-safety blocklist filter (C4's "bad words" rule, the mechanism)
# --------------------------------------------------------------------------

#: Stand-in blocklist drawn from the synthetic corpus vocabulary so the
#: filter has real work at test scale; in production this is the
#: LDNOOBW-class content-safety list — same mechanism, bigger broadcast.
BLOCKLIST: tuple[str, ...] = ("dup", "drop")
_SQL_BLOCKLIST = ", ".join(f"'{t}'" for t in BLOCKLIST)


@component(
    "text_blocklist_filter",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id,
             CAST(len(list_filter({_SQL_TOKENS},
                  t -> t IN ({_SQL_BLOCKLIST}))) AS BIGINT) AS n_blocked_hits,
             list_min(list_filter({_SQL_TOKENS},
                  t -> t IN ({_SQL_BLOCKLIST}))) AS first_blocked_term
      FROM documents
    )
    SELECT doc_id, n_blocked_hits,
           coalesce(first_blocked_term, '') AS blocked_term,
           (n_blocked_hits = 0) AS keep
    FROM hits
    """,
    cols=[
        ("doc_id", "num"),
        ("n_blocked_hits", "num"),
        ("blocked_term", "str"),
        ("keep", "bool"),
    ],
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-safety blocklist filtering — the C4 "bad words" rule the
    cleaning funnel (text_filter_funnel) doesn't cover: a document
    containing ANY blocklisted token is dropped, with the hit count and
    the (deterministic, lexicographically smallest) offending term
    reported for audit. The blocklist here is a corpus-vocabulary
    stand-in; production swaps in the LDNOOBW-class list — the mechanism
    (broadcast term set probed inside a token-array filter, pure Column
    expressions, no explode and no UDF) is what the component certifies.

    Scale: the blocklist is a broadcast literal set; the check is a
    map-side array filter inside whole-stage codegen — zero shuffles,
    cost O(tokens) per doc exactly like the quality gates it composes
    with."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    blocked_arr = F.array(*[F.lit(t) for t in BLOCKLIST])
    blocked = F.filter(tokens("text"), lambda t: F.array_contains(blocked_arr, t))
    return d.select(
        "doc_id",
        F.size(blocked).cast("long").alias("n_blocked_hits"),
        F.coalesce(F.array_min(blocked), F.lit("")).alias("blocked_term"),
        (F.size(blocked) == 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# Corpus-trained bigram LM fluency score (CCNet-class LM filtering)
# --------------------------------------------------------------------------


_SQL_LM_SCORE = """
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS s
      FROM tok
    ),
    c12 AS (SELECT s, COUNT(*) AS c12 FROM bi GROUP BY s),
    c1 AS (SELECT split_part(s, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           FROM c12 GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT u) AS vocab
          FROM (SELECT unnest(t) AS u FROM tok)),
    terms AS (
      SELECT bi.doc_id,
             FLOOR(((c12.c12 + 1) * 1000000.0) / (c1.c1 + v.vocab)) AS term
      FROM bi
      JOIN c12 USING (s)
      JOIN c1 ON split_part(bi.s, ' ', 1) = c1.w1, v
    ),
    agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(term) AS st
            FROM terms GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(FLOOR(a.st / a.n_bigrams) AS BIGINT) AS lm_micro
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@component(
    "text_lm_score",
    oracle=_SQL_LM_SCORE,
    cols=[("doc_id", "num"), ("n_bigrams", "num"), ("lm_micro", "num")],
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model fluency scoring, the CCNet-class LM quality filter
    (documents whose word sequences the corpus LM finds improbable are
    noise/spam candidates): an add-one-smoothed word-bigram model is
    trained on the corpus itself and every document is scored by its mean
    conditional probability P(w2|w1) = (c12+1)/(c1+V).

    The statistic stays in PROBABILITY-space integer micro-units — each
    bigram's term is FLOOR(1e6*(c12+1)/(c1+V)) and the doc score is the
    floored mean of those integers — rather than the textbook log-space
    perplexity: ln() is not guaranteed correctly-rounded in either engine
    (java.lang.Math.log vs libm differ by 1 ulp on some inputs), while
    integer-ratio FLOOR micro-units cross engines bit-exactly, the repo's
    proven form. Monotonicity per term is preserved, so filtering
    thresholds translate directly.

    Scale: bigram extraction is a map-side array transform (no
    posexplode self-join); the model is two map-side-combined groupBys
    (bigram counts, then context counts derived FROM the bigram table —
    vocabulary-bounded, not corpus-bounded); V rides a broadcast cross
    join; scoring is one shuffle join of doc-bigrams against the count
    tables and one per-doc rollup. At 100 TB the bigram-count table is
    bounded by vocab² and the scoring join partitions on the bigram key."""
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", tokens("text").alias("t"))
    bi = (
        docs.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = docs.select(F.explode("t").alias("u")).agg(
        F.countDistinct("u").alias("vocab")
    )
    terms = (
        bi.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                ((F.col("c12") + 1) * 1000000.0) / (F.col("c1") + F.col("vocab"))
            ).alias("term"),
        )
    )
    agg = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("term").alias("st")
    )
    return (
        spark.table("documents")
        .select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.floor(F.col("st") / F.col("n_bigrams")).cast("long").alias("lm_micro"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge statistics (tokenizer-induction first-merge ranking)
# --------------------------------------------------------------------------

#: how many top adjacent-pair candidates the ranking emits
BPE_TOP_PAIRS = 20


@component(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH tok AS (SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents),
    w AS (SELECT u AS w, COUNT(*) AS wcnt
          FROM (SELECT unnest(t) AS u FROM tok) GROUP BY u),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair,
             wcnt
      FROM w WHERE length(w) >= 2
    ),
    agg AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS weight FROM p GROUP BY pair),
    r AS (SELECT pair, weight,
                 ROW_NUMBER() OVER (ORDER BY weight DESC, pair) AS rnk
          FROM agg)
    SELECT pair, weight, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= {BPE_TOP_PAIRS}
    """,
    cols=[("pair", "str"), ("weight", "num"), ("rnk", "num")],
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction, the merge-selection statistic: the
    frequency of every adjacent character pair across the corpus, weighted
    by word frequency — the quantity byte-pair encoding maximizes when it
    picks its next merge. Emits the top-{BPE_TOP_PAIRS} ranking (ties
    broken lexicographically), i.e. the candidate order the first merge
    round would consume. Training a full vocabulary is sequential merge
    rounds of exactly this statistic recomputed over re-segmented words;
    each round is this same bounded-size plan, so the corpus-scale cost
    lives entirely in the ONE word-frequency pass below.

    Scale: the corpus-sized work is one token explode + word groupBy
    (map-side combined); everything after runs on the DISTINCT word
    table, which is vocabulary-bounded — pairs are generated by a
    map-side substring transform (substr(w, i, 2) — identical 1-based
    semantics in Spark and DuckDB, no char-split needed) and the final
    single-partition ranking window orders a pair table bounded by
    alphabet², never by corpus rows."""
    prepare(spark, sf_dir)
    words = (
        spark.table("documents")
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )
    pairs = (
        words.filter(F.char_length("w") >= 2)
        .select(
            "wcnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wcnt").cast("long").alias("weight"))
    )
    w = Window.orderBy(F.desc("weight"), F.asc("pair"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= BPE_TOP_PAIRS)
        .select("pair", "weight", "rnk")
    )


# --------------------------------------------------------------------------
# BPE encode: apply a pretrained merge list to the corpus (tokenizer apply)
# --------------------------------------------------------------------------

#: The pretrained merge table, applied IN RANK ORDER — the artifact a real
#: pipeline ships (tokenizer.json's `merges`): induction is
#: text_bpe_pair_stats; application uses a pinned list exactly like
#: production applies a frozen tokenizer to every new corpus batch rather
#: than re-inducing per batch. Entries pair SYMBOLS (later rules consume
#: earlier rules' outputs — ("th","e") merges merge-0's "th"), mirroring a
#: genuine BPE ladder. Constants embedded on BOTH engine sides from this
#: one list (the _NDCG_W convention), so the sides cannot drift.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("o", "r"),
    ("s", "t"),
]
#: token delimiter inside the per-word fold state: ASCII unit separator,
#: guaranteed absent from whitespace-split words
_BPE_SEP = "\x1f"


def _bpe_merge_fold_sql(rule_a: str, rule_b: str, inner: str) -> str:
    """One merge rule as a DuckDB list_reduce over the token list of the
    previous rule's encoding: merge iff the accumulated string's LAST token
    is exactly ``rule_a`` (ends_with on the separator-bounded suffix — the
    separator never occurs inside a token, so the check is exact) and the
    incoming token is ``rule_b``."""
    sep = "chr(31)"
    return (
        f"list_reduce(string_split({inner}, {sep}), (acc, x) -> CASE "
        f"WHEN (acc = '{rule_a}' OR ends_with(acc, {sep} || '{rule_a}')) "
        f"AND x = '{rule_b}' THEN acc || '{rule_b}' "
        f"ELSE acc || {sep} || x END)"
    )


def bpe_merge_rule(a: str, b: str):
    """One BPE merge rule as a fold step for ``F.aggregate`` over a
    separator-joined token string: merge iff the accumulated string's LAST
    token is exactly ``a`` and the incoming token is ``b`` (the canonical
    greedy non-overlapping left-fold). Used by the pretrained encoder
    (:func:`bpe_segments`)."""

    # bind the rule's symbols in a closure: PySpark introspects the
    # lambda arity, so extra default args are not an option here
    def step(acc, x):
        return (
            F.when(acc == "", x)
            .when(
                ((acc == a) | acc.endswith(_BPE_SEP + a)) & (x == b),
                F.concat(acc, F.lit(b)),
            )
            .otherwise(F.concat(acc, F.lit(_BPE_SEP), x))
        )

    return step


def bpe_segments(col: Column | str) -> Column:
    """The pretrained BPE merge list applied to a word column: returns the
    word's BPE token ARRAY. Each rule is a LEFT FOLD over the word's current
    token sequence (merge iff the accumulated string's last token equals the
    rule's left symbol and the incoming token equals its right symbol — the
    canonical greedy non-overlapping semantics), applied rule-by-rule in
    rank order. Pure Column expressions, zero Python; meant to run on the
    Zipf-bounded DISTINCT word table. Shared by text_bpe_encode and
    text_bpe_roundtrip."""
    enc = F.array_join(F.split(col, ""), _BPE_SEP)
    for a, b in BPE_MERGES:
        enc = F.aggregate(F.split(enc, _BPE_SEP), F.lit(""), bpe_merge_rule(a, b))
    return F.split(enc, _BPE_SEP)


def _bpe_encode_sql() -> str:
    enc = f"array_to_string(string_split(w, ''), chr(31))"
    for a, b in BPE_MERGES:
        enc = _bpe_merge_fold_sql(a, b, enc)
    return f"""
    WITH tw AS MATERIALIZED (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents
      ) WHERE w <> ''
    ),
    words AS MATERIALIZED (SELECT DISTINCT w FROM tw),
    enc AS MATERIALIZED (SELECT w, {enc} AS s FROM words),
    wtok AS MATERIALIZED (
      SELECT w, unnest(string_split(s, chr(31))) AS token FROM enc
    ),
    vocab AS MATERIALIZED (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS token_id
      FROM (SELECT DISTINCT token FROM wtok)
    ),
    wstats AS MATERIALIZED (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(v.token_id) AS BIGINT) AS id_sum
      FROM wtok JOIN vocab v USING (token) GROUP BY w
    )
    SELECT tw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(tw.w)) AS BIGINT) AS n_chars,
           CAST(SUM(ws.n_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(ws.id_sum) AS BIGINT) AS ids_checksum
    FROM tw JOIN wstats ws ON tw.w = ws.w
    GROUP BY tw.doc_id
    """


@component(
    "text_bpe_encode",
    oracle=_bpe_encode_sql(),
    cols=[
        ("doc_id", "num"),
        ("n_words", "num"),
        ("n_chars", "num"),
        ("n_bpe_tokens", "num"),
        ("ids_checksum", "num"),
    ],
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at scale — the missing rung between inducing
    merge statistics (text_bpe_pair_stats) and consuming token counts
    (text_pack_sequences): apply the pretrained {len(BPE_MERGES)}-rule
    merge list to every document and emit per-doc BPE token lengths plus
    an exact token-id checksum. Each rule is a LEFT FOLD over the word's
    current token sequence (merge iff the last emitted token equals the
    rule's left symbol and the incoming token equals its right symbol) —
    the canonical greedy non-overlapping semantics ("aaa" under (a,a) →
    [aa, a]), applied rule-by-rule in rank order so later rules consume
    earlier rules' outputs. Token ids are the dense rank of the token
    string over the realized vocabulary (the rec_label_encode convention),
    and the per-doc id checksum pins the full id sequence cross-engine
    without shipping arrays.

    Scale: the merge fold runs on the DISTINCT word table (vocab-bounded,
    pure Column expressions, zero Python); the realized vocabulary and its
    id table are token-bounded; corpus-sized work is ONE token explode +
    word groupBy and ONE per-doc rollup joining the broadcast word-stats
    table — no corpus-scale shuffle beyond those two, and the merge table
    itself rides the plan as literals (broadcast by construction). At
    100 TB the word table is Zipf-bounded (vocabulary grows ~n^0.5), so
    the fold cost is corpus-size-independent."""
    prepare(spark, sf_dir)
    toks = (
        spark.table("documents")
        .select("doc_id", F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
    )
    words = toks.select("w").distinct()
    wtok = words.select("w", F.explode(bpe_segments("w")).alias("token"))
    vocab = (
        wtok.select("token")
        .distinct()
        .withColumn(
            "token_id", F.row_number().over(Window.orderBy("token")).cast("long")
        )
    )
    wstats = (
        wtok.join(F.broadcast(vocab), "token")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("token_id").cast("long").alias("id_sum"),
        )
    )
    return (
        toks.join(F.broadcast(wstats), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.char_length("w")).cast("long").alias("n_chars"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
            F.sum("id_sum").cast("long").alias("ids_checksum"),
        )
    )


# --------------------------------------------------------------------------
# BPE decode round-trip: decode(encode(x)) = x, through the ID space
# --------------------------------------------------------------------------


def _bpe_roundtrip_sql() -> str:
    enc = "array_to_string(string_split(w, ''), chr(31))"
    for a, b in BPE_MERGES:
        enc = _bpe_merge_fold_sql(a, b, enc)
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    tw AS MATERIALIZED (
      SELECT doc_id, i AS pos, t[i] AS w
      FROM tok, UNNEST(range(1, len(t) + 1)) AS u(i)
      WHERE t[i] <> ''
    ),
    words AS MATERIALIZED (SELECT DISTINCT w FROM tw),
    encw AS MATERIALIZED (SELECT w, string_split({enc}, chr(31)) AS segs FROM words),
    wtok AS MATERIALIZED (
      SELECT w, j AS sp, segs[j] AS token
      FROM encw, UNNEST(range(1, len(segs) + 1)) AS u(j)
    ),
    vocab AS MATERIALIZED (
      SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS token_id
      FROM (SELECT DISTINCT token FROM wtok)
    ),
    encids AS MATERIALIZED (
      SELECT w, sp, v.token_id FROM wtok JOIN vocab v USING (token)
    ),
    dec AS MATERIALIZED (
      SELECT e.w, e.sp, v.token AS dtok FROM encids e JOIN vocab v USING (token_id)
    ),
    rw AS MATERIALIZED (
      SELECT w, string_agg(dtok, '' ORDER BY sp) AS rw,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM dec GROUP BY w
    )
    SELECT tw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(r.n_tokens) AS BIGINT) AS n_bpe_tokens,
           md5(string_agg(tw.w, ' ' ORDER BY tw.pos)) AS original_md5,
           md5(string_agg(r.rw, ' ' ORDER BY tw.pos)) AS reconstructed_md5,
           md5(string_agg(tw.w, ' ' ORDER BY tw.pos))
             = md5(string_agg(r.rw, ' ' ORDER BY tw.pos)) AS roundtrip_ok
    FROM tw JOIN rw r USING (w)
    GROUP BY tw.doc_id
    """


@component(
    "text_bpe_roundtrip",
    oracle=_bpe_roundtrip_sql(),
    cols=[
        ("doc_id", "num"),
        ("n_words", "num"),
        ("n_bpe_tokens", "num"),
        ("original_md5", "str"),
        ("reconstructed_md5", "str"),
        ("roundtrip_ok", "bool"),
    ],
)
def text_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-usability invariant text_bpe_encode's checksum can't
    pin: decode(encode(x)) = x per document, THROUGH THE ID SPACE — words
    are segmented by the merge fold, segments mapped to vocabulary ids,
    ids mapped BACK to token strings via the same vocab table, and the
    per-position concatenation reassembles each word and then the whole
    document; the md5 of the reassembled text must equal the original's.
    A fold that drops, duplicates, or reorders characters (or a vocab
    whose id mapping isn't a bijection) flips roundtrip_ok — and because
    the oracle replays the identical inverse on the bounded vocab, a
    consistent-but-lossy engine still fails the cross-engine hash.

    Scale: everything except the per-doc rollup is vocab-bounded — the
    fold, the segment explode, the id table, and the decode join all run
    on the DISTINCT word/token tables (Zipf-bounded); corpus-sized work is
    the one token explode and the one per-doc ordered reassembly
    (text_bpe_encode's exact cost shape plus one broadcast join)."""
    prepare(spark, sf_dir)
    tw = (
        spark.table("documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos0", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    wtok = (
        tw.select("w")
        .distinct()
        .select("w", F.posexplode(bpe_segments("w")).alias("sp", "token"))
    )
    vocab = (
        wtok.select("token")
        .distinct()
        .withColumn(
            "token_id", F.row_number().over(Window.orderBy("token")).cast("long")
        )
    )
    encids = wtok.join(F.broadcast(vocab), "token").select("w", "sp", "token_id")
    dec = encids.join(
        F.broadcast(vocab.select("token_id", F.col("token").alias("dtok"))),
        "token_id",
    )
    rw = dec.groupBy("w").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(sp, dtok))),"
            " x -> x.dtok), '')"
        ).alias("rw"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    joined = tw.join(F.broadcast(rw), "w")
    orig = F.md5(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        )
    )
    recon = F.md5(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, rw))),"
            " x -> x.rw), ' ')"
        )
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        orig.alias("original_md5"),
        recon.alias("reconstructed_md5"),
        (orig == recon).alias("roundtrip_ok"),
    )


# --------------------------------------------------------------------------
# BPE-aware sequence packing (the complete tokenize -> pack chain)
# --------------------------------------------------------------------------


@component(
    "text_pack_bpe",
    oracle=f"""
    WITH bpe AS MATERIALIZED ({_bpe_encode_sql()}),
    counted AS (
      SELECT d.doc_id, d.lang, b.n_bpe_tokens
      FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
    ),
    offsets AS (
      SELECT doc_id, lang, n_bpe_tokens,
             COALESCE(SUM(n_bpe_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM counted
    )
    SELECT lang, CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
    FROM offsets
    GROUP BY 1, 2
    """,
    cols=[
        ("lang", "str"),
        ("seq_id", "num"),
        ("n_docs", "num"),
        ("n_bpe_tokens", "num"),
    ],
)
def text_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE tokenize→pack chain: sequence packing driven by REAL
    BPE token counts (text_bpe_encode's per-doc lengths) instead of the
    whitespace proxy text_pack_sequences uses — the composition a training
    pipeline actually runs (tokenizer application decides how many tokens
    a doc costs; packing fills fixed context windows with those costs).
    Same tape layout as text_pack_sequences: per-language shard, doc_id
    order, fixed {PACK_BUDGET}-token budget, docs may straddle a boundary.

    Scale: text_bpe_encode's corpus cost (one token groupBy + one rollup
    over a broadcast vocab-bounded join) plus the TWO-PHASE tape prefix sum
    (:func:`two_phase_tape_offsets` — the per-language single-window form
    the oracle writes would serialize a skewed shard through one task at
    100 TB; the two-phase plan is row-identical with bounded windows).
    Nothing new materializes beyond the per-doc length table."""
    prepare(spark, sf_dir)
    lengths = text_bpe_encode(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    # the helper's single-scan contract stages the per-doc length table, so
    # the encode chain (token groupBy + vocab join) runs exactly once
    counted = (
        spark.table("documents").select("doc_id", "lang").join(lengths, "doc_id")
    )
    offsets = two_phase_tape_offsets(counted, "lang", "n_bpe_tokens")
    return (
        offsets.groupBy("lang", pack_seq_id().alias("seq_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer fertility per language (tokenizer-fairness audit)
# --------------------------------------------------------------------------


@component(
    "text_bpe_fertility",
    oracle=f"""
    WITH bpe AS MATERIALIZED ({_bpe_encode_sql()}),
    j AS (
      SELECT d.lang, b.n_words, b.n_bpe_tokens
      FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
    )
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST((1000000 * SUM(n_bpe_tokens)) // SUM(n_words) AS BIGINT)
             AS fertility_micro
    FROM j GROUP BY lang
    """,
    cols=[
        ("lang", "str"),
        ("n_words", "num"),
        ("n_bpe_tokens", "num"),
        ("fertility_micro", "num"),
    ],
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE tokens emitted per word, the
    standard tokenizer-fairness audit from the multilingual literature
    (mBERT/XLM-R analyses; high-fertility languages pay more context
    budget and more compute per sentence, so a shared tokenizer's merge
    list must be checked against every language it will serve). Computed
    over text_bpe_encode's real per-doc lengths, rolled up per language;
    the ratio crosses engines as exact integer micro-units (Spark ``div``
    ≡ DuckDB ``//`` over exact int64 sums).

    Scale: the encode's corpus cost plus one language-bounded rollup —
    O(languages) rows out."""
    prepare(spark, sf_dir)
    lengths = text_bpe_encode(spark, sf_dir).select(
        "doc_id", "n_words", "n_bpe_tokens"
    )
    j = spark.table("documents").select("doc_id", "lang").join(lengths, "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            F.expr("div(1000000 * n_bpe_tokens, n_words)")
            .cast("long")
            .alias("fertility_micro"),
        )
    )


# --------------------------------------------------------------------------
# DSIR-style importance weighting (target-vs-raw likelihood-ratio scoring)
# --------------------------------------------------------------------------

#: the deterministic "curated target domain": documents from this source
DSIR_TARGET_SOURCE = "src0"


@component(
    "text_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    tgt AS (
      SELECT t.w, CAST(COUNT(*) AS BIGINT) AS ct
      FROM tok t JOIN documents d USING (doc_id)
      WHERE d.source = '{DSIR_TARGET_SOURCE}'
      GROUP BY t.w
    ),
    raw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cr FROM tok GROUP BY w),
    sc AS (
      SELECT CAST((SELECT COUNT(*) FROM tok) AS BIGINT) AS n_raw,
             CAST((SELECT COUNT(*) FROM tok t JOIN documents d USING (doc_id)
                   WHERE d.source = '{DSIR_TARGET_SOURCE}') AS BIGINT) AS n_tgt,
             CAST((SELECT COUNT(DISTINCT w) FROM tok) AS BIGINT) AS v
    ),
    terms AS (
      SELECT tok.doc_id,
             FLOOR(((COALESCE(tgt.ct, 0) + 1) * (sc.n_raw + sc.v)) * 1000000.0
                   / ((raw.cr + 1) * (sc.n_tgt + sc.v))) AS term
      FROM tok
      JOIN raw USING (w)
      LEFT JOIN tgt USING (w), sc
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR(SUM(term) / COUNT(*)) AS BIGINT) AS dsir_micro
    FROM terms GROUP BY doc_id
    """,
    cols=[("doc_id", "num"), ("n_tokens", "num"), ("dsir_micro", "num")],
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weighting for data selection, the DSIR recipe
    (Xie et al. 2023, arXiv:2302.03169): score every raw document by how
    much more probable its tokens are under a TARGET-domain LM than under
    the raw-corpus LM, then resample proportionally — the
    domain-adaptation step between "crawl everything" and "train on what
    looks like the target". Target here is the deterministic
    '{DSIR_TARGET_SOURCE}' slice; both LMs are add-one-smoothed unigram
    models.

    Exactness: the per-token likelihood ratio
    p_t(w)/p_r(w) = ((ct+1)·(N_r+V)) / ((cr+1)·(N_t+V)) is a ratio of
    two INT64-exact products (each factor bounded by corpus token count,
    so the products sit far inside int64), folded through the proven
    FLOOR-micro double divide; the doc score is the floored mean of those
    integers. Ratio-space rather than DSIR's log-space sum for the same
    reason as text_lm_score: ln() isn't correctly-rounded in either
    engine, integer ratios are — per-token monotonicity is preserved, so
    resampling thresholds translate.

    Scale: both LMs are vocab-bounded count tables built from ONE token
    explode (target counts are a filtered rollup of the same pass); the
    three corpus scalars ride a broadcast; scoring is one shuffle join of
    token instances against the count tables on the word key and one
    per-doc rollup — the identical posture to text_lm_score one n-gram
    order down."""
    prepare(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", "source", F.explode(tokens("text")).alias("w")
    )
    raw = docs.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        docs.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    sc = docs.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)).alias("n_tgt"),
        F.countDistinct("w").alias("v"),
    )
    terms = (
        docs.join(raw, "w")
        .join(tgt, "w", "left")
        .crossJoin(F.broadcast(sc))
        .select(
            "doc_id",
            F.floor(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    * (F.col("n_raw") + F.col("v"))
                ).cast("long")
                * 1000000.0
                / ((F.col("cr") + 1) * (F.col("n_tgt") + F.col("v"))).cast("long")
            ).alias("term"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.floor(F.sum("term") / F.count(F.lit(1))).cast("long").alias("dsir_micro"),
    )


# --------------------------------------------------------------------------
# Encoding-damage (mojibake) detection + repair
# --------------------------------------------------------------------------

#: damage markers: the Unicode replacement char (what a lossy decode leaves
#: behind) and a C1 control byte (classic double-encoding debris). Built
#: from escapes so no raw control byte lives in this source file.
_REPL = "\ufffd"
_CTRL = "\u0081"


@component(
    "text_mojibake_detect",
    cols=[
        ("doc_id", "num"),
        ("n_repl", "num"),
        ("n_ctrl", "num"),
        ("is_damaged", "bool"),
        ("detect_ok", "bool"),
        ("clean_md5", "str"),
    ],
    oracle="""
    WITH damaged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 5
               THEN text || repeat(chr(65533), CAST(1 + doc_id % 3 AS INTEGER))
                         || chr(129)
               ELSE text
             END AS etext
      FROM documents
    )
    SELECT doc_id,
           CAST(len(etext) - len(replace(etext, chr(65533), '')) AS BIGINT)
             AS n_repl,
           CAST(len(etext) - len(replace(etext, chr(129), '')) AS BIGINT)
             AS n_ctrl,
           len(etext) <> len(replace(replace(etext, chr(65533), ''), chr(129), ''))
             AS is_damaged,
           (len(etext) <> len(replace(replace(etext, chr(65533), ''), chr(129), '')))
             = (doc_id % 17 = 5) AS detect_ok,
           md5(replace(replace(etext, chr(65533), ''), chr(129), '')) AS clean_md5
    FROM damaged
    """,
)
def text_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage (mojibake) detection and repair — the ftfy-class
    cleaning stage a web-crawl pipeline runs before tokenization: count
    U+FFFD replacement characters (lossy-decode debris) and C1 control
    bytes (double-encoding debris), flag damaged docs, and strip the
    markers. The synthetic corpus is clean (probed: zero organic markers
    at every SF), so damage is INJECTED deterministically (doc_id%17==5
    gets 1-3 replacement chars + one C1 byte — identical construction in
    the oracle, the text_pii_scrub pattern), which lets ``detect_ok``
    assert per row that detection catches exactly the damaged set with
    zero false positives. Counting is pure length arithmetic
    (len − len(replace(...)) — no regex semantics to align across
    engines), and the repaired text is value-checked by md5.

    Scale: narrow codegen'd column expressions pipelined over the
    documents scan — zero shuffles (the suite digest aggregation is the
    only one), same posture as the PII scrub."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    etext = F.when(
        F.col("doc_id") % 17 == 5,
        F.concat(
            F.col("text"),
            F.repeat(F.lit(_REPL), (1 + F.col("doc_id") % 3).cast("int")),
            F.lit(_CTRL),
        ),
    ).otherwise(F.col("text"))
    cleaned = F.replace(F.replace(etext, F.lit(_REPL), F.lit("")), F.lit(_CTRL), F.lit(""))
    n_repl = F.length(etext) - F.length(F.replace(etext, F.lit(_REPL), F.lit("")))
    n_ctrl = F.length(etext) - F.length(F.replace(etext, F.lit(_CTRL), F.lit("")))
    is_damaged = F.length(etext) != F.length(cleaned)
    return d.select(
        "doc_id",
        n_repl.cast("long").alias("n_repl"),
        n_ctrl.cast("long").alias("n_ctrl"),
        is_damaged.alias("is_damaged"),
        (is_damaged == (F.col("doc_id") % 17 == 5)).alias("detect_ok"),
        F.md5(cleaned).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# Readability scoring (Flesch-style, integer-exact band classification)
# --------------------------------------------------------------------------

#: sentence terminators: runs of ./!/? count as ONE sentence boundary
_SENT_RE = "[.!?]+"
#: syllable proxy: maximal vowel groups (y counted as a vowel)
_SYL_RE = "[aeiouyAEIOUY]+"
#: Flesch reading-ease band thresholds (integer points)
FLESCH_EASY = 60
FLESCH_STANDARD = 30


@component(
    "text_readability",
    cols=[
        ("doc_id", "num"),
        ("n_words", "num"),
        ("n_sentences", "num"),
        ("n_syllables", "num"),
        ("flesch_micro", "num"),
        ("band", "str"),
    ],
    oracle=f"""
    WITH counts AS (
      SELECT doc_id,
             GREATEST(CAST(len({_SQL_TOKENS}) AS BIGINT), 1) AS w,
             GREATEST(CAST(len(regexp_extract_all(text, '{_SENT_RE}')) AS BIGINT), 1) AS s,
             GREATEST(CAST(len(regexp_extract_all(text, '{_SYL_RE}')) AS BIGINT), 1) AS y
      FROM documents
    ),
    scored AS (
      SELECT doc_id, w, s, y,
             206835 * s * w - 1015 * w * w - 84600 * y * s AS num
      FROM counts
    )
    SELECT doc_id,
           w AS n_words, s AS n_sentences, y AS n_syllables,
           CAST(FLOOR(CAST(num AS DOUBLE) * 1000.0
                      / CAST(s * w AS DOUBLE)) AS BIGINT) AS flesch_micro,
           CASE WHEN num >= {FLESCH_EASY} * 1000 * s * w THEN 'easy'
                WHEN num >= {FLESCH_STANDARD} * 1000 * s * w THEN 'standard'
                ELSE 'hard' END AS band
    FROM scored
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring — the classic corpus-quality lens
    beside stopword/length heuristics (text_quality_score): reading ease
    = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    syllables approximated by maximal vowel groups (the standard
    dictionary-free proxy) and sentences by terminator runs. The band
    classification (easy ≥ 60 > standard ≥ 30 > hard) binds to the EXACT
    integer inequality — multiplying the score by the positive 1000·s·w
    clears both divisions, so the verdict is engine-deterministic with no
    float compare anywhere; the score itself crosses as the FLOOR-micro
    divide with the double op-tree explicit on both sides (num ≤ ~2e11
    for 10k-word docs, far inside 2^53). Degenerate docs (no words /
    terminators / vowels) clamp each count to 1 rather than dropping the
    row — the funnel wants a verdict for every document.

    Scale: three codegen'd regexp/split counts pipelined over the
    documents scan, then pure integer arithmetic — zero shuffles, zero
    UDFs, same posture as text_token_count."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    w = F.greatest(F.size(tokens("text")).cast("long"), F.lit(1))
    s = F.greatest(F.regexp_count("text", F.lit(_SENT_RE)).cast("long"), F.lit(1))
    y = F.greatest(F.regexp_count("text", F.lit(_SYL_RE)).cast("long"), F.lit(1))
    counts = d.select("doc_id", w.alias("w"), s.alias("s"), y.alias("y"))
    num = (
        F.lit(206835) * F.col("s") * F.col("w")
        - F.lit(1015) * F.col("w") * F.col("w")
        - F.lit(84600) * F.col("y") * F.col("s")
    )
    scored = counts.withColumn("num", num)
    band = (
        F.when(F.col("num") >= FLESCH_EASY * 1000 * F.col("s") * F.col("w"), F.lit("easy"))
        .when(
            F.col("num") >= FLESCH_STANDARD * 1000 * F.col("s") * F.col("w"),
            F.lit("standard"),
        )
        .otherwise(F.lit("hard"))
    )
    return scored.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        F.floor(
            F.col("num").cast("double") * 1000.0 / (F.col("s") * F.col("w")).cast("double")
        )
        .cast("long")
        .alias("flesch_micro"),
        band.alias("band"),
    )


# --------------------------------------------------------------------------
# Intra-document sentence dedup (CCNet-style line/sentence-level cleanup)
# --------------------------------------------------------------------------

#: unit separator — cannot appear in sentence text after trimming
_SENT_SEP_ORD = 31


@component(
    "text_sentence_dedup",
    cols=[
        ("doc_id", "num"),
        ("n_sentences", "num"),
        ("n_unique", "num"),
        ("dup_ratio_micro", "num"),
        ("unique_fp", "str"),
    ],
    oracle=f"""
    WITH sent AS (
      SELECT doc_id,
             regexp_replace(s, '^\\s+|\\s+$', '', 'g') AS s
      FROM (
        SELECT doc_id, unnest(string_split_regex(text, '{_SENT_RE}')) AS s
        FROM documents
      )
    ),
    clean AS (SELECT doc_id, s FROM sent WHERE s <> ''),
    uniq AS (SELECT DISTINCT doc_id, s FROM clean),
    cagg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences
      FROM clean GROUP BY doc_id
    ),
    uagg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique,
             md5(string_agg(s, chr({_SENT_SEP_ORD}) ORDER BY s)) AS fp
      FROM uniq GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.n_sentences, 0) AS n_sentences,
           COALESCE(u.n_unique, 0) AS n_unique,
           CAST(FLOOR(CAST(COALESCE(c.n_sentences, 0) - COALESCE(u.n_unique, 0)
                           AS DOUBLE) * 1000000.0
                      / CAST(GREATEST(COALESCE(c.n_sentences, 0), 1) AS DOUBLE))
             AS BIGINT) AS dup_ratio_micro,
           COALESCE(u.fp, md5('')) AS unique_fp
    FROM documents d
    LEFT JOIN cagg c ON d.doc_id = c.doc_id
    LEFT JOIN uagg u ON d.doc_id = u.doc_id
    """,
)
def text_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document sentence dedup — the CCNet/RefinedWeb line-level
    cleanup pass that removes boilerplate repeated WITHIN a page (nav
    crumbs, cookie banners, chorus lines) before any cross-document
    dedup runs: split on terminator runs, whitespace-trim each sentence,
    drop empties, keep the distinct set. Emits per document the raw and
    unique sentence counts, the duplication ratio (FLOOR-micro), and an
    order-insensitive fingerprint — md5 over the SORTED distinct
    sentences joined on an unprintable separator — so the cleaned content
    itself is value-checked, not just counted (the deduped doc is a
    deterministic function of the sentence SET; sorting makes the
    fingerprint independent of both engines' aggregation order).

    Scale: the whole operator is per-document array algebra — split /
    transform / filter / array_distinct / array_sort / concat_ws are
    codegen'd column expressions over the documents scan, ZERO shuffles
    and zero explode (the oracle unnests; the engine never does). Fan-out
    is bounded by sentences-per-doc, the same envelope as
    text_chunk_windows."""
    prepare(spark, sf_dir)
    return sentence_dedup(spark.table("documents"))


def sentence_dedup(d: DataFrame) -> DataFrame:
    """Pure transform behind text_sentence_dedup: (doc_id, text) →
    per-document sentence-set profile. Exposed separately so invariant
    tests can drive crafted frames without re-registering the corpus
    views."""
    trimmed = F.transform(
        F.split(F.col("text"), _SENT_RE),
        lambda s: F.regexp_replace(s, r"^\s+|\s+$", ""),
    )
    clean = F.filter(trimmed, lambda s: s != "")
    uniq = F.array_sort(F.array_distinct(clean))
    n_sent = F.size(clean).cast("long")
    n_uniq = F.size(uniq).cast("long")
    return d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_uniq.alias("n_unique"),
        F.floor(
            (n_sent - n_uniq).cast("double")
            * 1000000.0
            / F.greatest(n_sent, F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("dup_ratio_micro"),
        F.md5(F.concat_ws(chr(_SENT_SEP_ORD), uniq)).alias("unique_fp"),
    )


# --------------------------------------------------------------------------
# Unicode NFC normalization (pandas UDF, the canonical-equivalence cleanup)
# --------------------------------------------------------------------------

#: composed tail appended to the control class (NFC fixpoint)
_NFC_COMPOSED = " Caf\u00e9 \u00fcber"
#: canonically-equivalent decomposed tail appended to the damaged class
_NFC_DECOMPOSED = " Cafe\u0301 u\u0308ber"


@component(
    "text_unicode_nfc",
    cols=[
        ("doc_id", "num"),
        ("bytes_raw", "num"),
        ("bytes_nfc", "num"),
        ("changed", "bool"),
        ("detect_ok", "bool"),
        ("nfc_md5", "str"),
    ],
    oracle=f"""
    WITH damaged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2
                  THEN text || ' Cafe' || chr(769) || ' u' || chr(776) || 'ber'
                  ELSE text || ' Caf' || chr(233) || ' ' || chr(252) || 'ber'
             END AS etext
      FROM documents
    )
    SELECT doc_id,
           CAST(strlen(etext) AS BIGINT) AS bytes_raw,
           CAST(strlen(nfc_normalize(etext)) AS BIGINT) AS bytes_nfc,
           strlen(nfc_normalize(etext)) <> strlen(etext) AS changed,
           (strlen(nfc_normalize(etext)) <> strlen(etext)) = (doc_id % 7 = 2)
             AS detect_ok,
           md5(nfc_normalize(etext)) AS nfc_md5
    FROM damaged
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonical-equivalence cleanup every
    text pipeline needs BEFORE exact dedup or tokenization: 'Café' typed
    composed (U+00E9) and decomposed (e + U+0301) are the same text but
    different bytes, so unnormalized corpora under-dedup and split token
    statistics. Spark has no built-in normalizer, making this the
    showcase for the documented Python boundary: a vectorized pandas UDF
    over ``unicodedata.normalize('NFC', ...)`` (Arrow batches, the only
    sanctioned UDF shape) against DuckDB's native ``nfc_normalize`` —
    two INDEPENDENT Unicode implementations (CPython's unicodedata vs
    DuckDB's utf8proc) value-checked equal via md5, the strongest oracle
    in the text family. A deterministic 1-in-7 class gets a decomposed
    tail, the rest the composed twin; NFC must shrink exactly the damaged
    class (detect_ok) and map both classes to identical suffix bytes.

    Scale: one Arrow-batched map stage pipelined over the scan — zero
    shuffles, state-free, the posture of any Arrow-batched decode; at
    100 TB normalization runs exactly here, fused into ingest."""
    prepare(spark, sf_dir)
    import pandas as pd  # noqa: F401  (pandas ships with pyspark's Arrow path)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    d = spark.table("documents")
    etext = F.when(
        F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(_NFC_DECOMPOSED))
    ).otherwise(F.concat(F.col("text"), F.lit(_NFC_COMPOSED)))
    staged = d.select("doc_id", etext.alias("etext")).withColumn("ntext", nfc(F.col("etext")))
    changed = F.octet_length("ntext") != F.octet_length("etext")
    return staged.select(
        "doc_id",
        F.octet_length("etext").cast("long").alias("bytes_raw"),
        F.octet_length("ntext").cast("long").alias("bytes_nfc"),
        changed.alias("changed"),
        (changed == (F.col("doc_id") % 7 == 2)).alias("detect_ok"),
        F.md5(F.col("ntext")).alias("nfc_md5"),
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 table A1)
# --------------------------------------------------------------------------

GOPHER_WORDS = (50, 100000)  # word-count bounds
GOPHER_MEAN_WORD_LEN = (3, 10)  # mean word length bounds (integer-exact)
GOPHER_MIN_ALPHA_FRAC = (4, 5)  # >= 4/5 of words contain an alphabetic char
GOPHER_MAX_SYMBOL_RATIO = (1, 10)  # (# + ellipsis) per word <= 1/10
#: required-word rule: >= 2 distinct members present (Gopher's stop-word
#: screen, membership adapted to this corpus's vocabulary)
GOPHER_REQUIRED = ("the", "a", "and", "of", "to")


@component(
    "text_gopher_rules",
    cols=[
        ("doc_id", "num"),
        ("n_words", "num"),
        ("g1_word_count", "bool"),
        ("g2_mean_word_len", "bool"),
        ("g3_alpha_frac", "bool"),
        ("g4_symbol_ratio", "bool"),
        ("g5_required_words", "bool"),
        ("gopher_keep", "bool"),
    ],
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS tk,
             length(replace(trim(text), ' ', '')) AS chars,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(tk) AS w,
             chars,
             len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS aw,
             n_hash + n_ell AS sym,
             len(list_distinct(list_filter(tk,
                 x -> x IN ({", ".join(f"'{r}'" for r in GOPHER_REQUIRED)})))) AS req
      FROM t
    )
    SELECT doc_id, CAST(w AS BIGINT) AS n_words,
           w BETWEEN {GOPHER_WORDS[0]} AND {GOPHER_WORDS[1]} AS g1_word_count,
           ({GOPHER_MEAN_WORD_LEN[0]} * w <= chars
            AND chars <= {GOPHER_MEAN_WORD_LEN[1]} * w) AS g2_mean_word_len,
           {GOPHER_MIN_ALPHA_FRAC[1]} * aw
             >= {GOPHER_MIN_ALPHA_FRAC[0]} * w AS g3_alpha_frac,
           {GOPHER_MAX_SYMBOL_RATIO[1]} * sym
             <= {GOPHER_MAX_SYMBOL_RATIO[0]} * w AS g4_symbol_ratio,
           req >= 2 AS g5_required_words,
           (w BETWEEN {GOPHER_WORDS[0]} AND {GOPHER_WORDS[1]})
             AND ({GOPHER_MEAN_WORD_LEN[0]} * w <= chars
                  AND chars <= {GOPHER_MEAN_WORD_LEN[1]} * w)
             AND ({GOPHER_MIN_ALPHA_FRAC[1]} * aw
                  >= {GOPHER_MIN_ALPHA_FRAC[0]} * w)
             AND ({GOPHER_MAX_SYMBOL_RATIO[1]} * sym
                  <= {GOPHER_MAX_SYMBOL_RATIO[0]} * w)
             AND (req >= 2) AS gopher_keep
    FROM f
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER quality-rule gate (Rae et al. 2021, arXiv:2112.11446
    table A1) — the other canonical published rule family next to the C4
    funnel (text_filter_funnel) and the repetition screens
    (text_repetition): per document, a PER-RULE boolean matrix for (g1)
    word count in [50, 1e5], (g2) mean word length in [3, 10], (g3) >= 80%
    of words containing an alphabetic character, (g4) symbol-to-word ratio
    (# and ellipsis) <= 0.1, (g5) >= 2 distinct required words (membership
    adapted to this corpus's vocabulary), plus the conjunction
    ``gopher_keep``. Unlike the funnel's first-fail attribution, the full
    matrix is what rule-tuning sweeps consume (how many docs does each
    bound kill, marginally and jointly).

    Every comparison is INTEGER-EXACT by cross-multiplication (3·w <=
    chars <= 10·w, 5·alpha >= 4·w, 10·sym <= w) — no IEEE ratio crosses
    the engine boundary. Scale: one map-side expression block over the
    corpus scan, zero shuffles (the text_funnel_reasons posture)."""
    prepare(spark, sf_dir)
    d = spark.table("documents")
    tk = tokens("text")
    w = F.size(tk)
    chars = F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
    aw = F.size(F.filter(tk, lambda x: x.rlike("[a-zA-Z]")))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    sym = (n_hash + n_ell).cast("long")
    req = F.size(
        F.array_distinct(F.filter(tk, lambda x: x.isin(*GOPHER_REQUIRED)))
    )
    g1 = w.between(*GOPHER_WORDS)
    g2 = (F.lit(GOPHER_MEAN_WORD_LEN[0]) * w <= chars) & (
        chars <= F.lit(GOPHER_MEAN_WORD_LEN[1]) * w
    )
    g3 = F.lit(GOPHER_MIN_ALPHA_FRAC[1]) * aw >= F.lit(GOPHER_MIN_ALPHA_FRAC[0]) * w
    g4 = F.lit(GOPHER_MAX_SYMBOL_RATIO[1]) * sym <= F.lit(GOPHER_MAX_SYMBOL_RATIO[0]) * w
    g5 = req >= 2
    return d.select(
        "doc_id",
        w.cast("long").alias("n_words"),
        g1.alias("g1_word_count"),
        g2.alias("g2_mean_word_len"),
        g3.alias("g3_alpha_frac"),
        g4.alias("g4_symbol_ratio"),
        g5.alias("g5_required_words"),
        (g1 & g2 & g3 & g4 & g5).alias("gopher_keep"),
    )


# --------------------------------------------------------------------------
# CCNet head/middle/tail LM-quality buckets (Wenzek et al. 2019)
# --------------------------------------------------------------------------

#: tercile fractions as shared DECIMAL LITERALS — the same text is pasted
#: into Spark's percentile() and DuckDB's quantile_cont() so both engines
#: interpolate from bit-identical p values (the a11/a16 contract)
CCNET_P1 = "0.3333333333333333"
CCNET_P2 = "0.6666666666666666"


@component(
    "text_ccnet_buckets",
    cols=[("doc_id", "num"), ("lang", "str"), ("ccnet_bucket", "str")],
    oracle=f"""
    WITH lm AS ({_SQL_LM_SCORE}),
    scored AS (
      SELECT l.doc_id, d.lang, l.lm_micro
      FROM lm l JOIN documents d USING (doc_id)
    ),
    b AS (
      SELECT lang,
             quantile_cont(lm_micro, {CCNET_P1}) AS q1,
             quantile_cont(lm_micro, {CCNET_P2}) AS q2
      FROM scored WHERE lm_micro IS NOT NULL GROUP BY lang
    )
    SELECT s.doc_id, s.lang,
           CASE WHEN s.lm_micro IS NULL THEN 'unscored'
                WHEN s.lm_micro > b.q2 THEN 'head'
                WHEN s.lm_micro > b.q1 THEN 'middle'
                ELSE 'tail' END AS ccnet_bucket
    FROM scored s LEFT JOIN b USING (lang)
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2019,
    arXiv:1911.00359): per LANGUAGE, documents are cut into three
    equal-population quality buckets by their corpus-LM fluency score
    (text_lm_score's integer-micro bigram probability — the repo's
    log-free stand-in for the Kneser-Ney perplexity CCNet uses, same
    monotonicity) — 'head' is the most-fluent third that LLM data
    recipes keep or upsample, 'tail' the third they drop or downweight.
    Bucket boundaries are the per-lang 1/3 and 2/3 interpolated
    quantiles under the proven percentile ≡ quantile_cont cross-engine
    contract (a11/a16), with strict-> comparisons sending boundary ties
    to the LOWER bucket and bigram-less docs landing in 'unscored'.

    Scale: the LM scoring keeps its own posture (vocab-bounded count
    tables, one scoring join); the boundary aggregate is per-lang over
    an integer column (at 100 TB swap for approx_percentile — mergeable
    GK sketch, same downstream shape, a16's documented trade); bucket
    assignment is a broadcast join of the tiny per-lang boundary frame
    plus a map-side CASE. No corpus-sized sort or window anywhere —
    exactly the trap the ntile()-style formulation would have hit."""
    prepare(spark, sf_dir)
    lm = text_lm_score(spark, sf_dir)
    d = spark.table("documents").select("doc_id", "lang")
    # The scored frame feeds BOTH the boundary aggregate and the assignment
    # join. An eager localCheckpoint (not .cache()) runs the LM-scoring DAG
    # exactly once AND lets the ContextCleaner reclaim the blocks when the
    # result frame is dropped — a plain cache() here had no unpersist and
    # accumulated corpus-scale frames across suite runs.
    scored = (
        lm.join(d, "doc_id")
        .select("doc_id", "lang", "lm_micro")
        .localCheckpoint(eager=True)
    )
    bounds = (
        scored.filter(F.col("lm_micro").isNotNull())
        .groupBy("lang")
        .agg(
            F.expr(f"percentile(lm_micro, {CCNET_P1})").alias("q1"),
            F.expr(f"percentile(lm_micro, {CCNET_P2})").alias("q2"),
        )
    )
    bucket = (
        F.when(F.col("lm_micro").isNull(), F.lit("unscored"))
        .when(F.col("lm_micro") > F.col("q2"), F.lit("head"))
        .when(F.col("lm_micro") > F.col("q1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(bounds), "lang", "left").select(
        "doc_id", "lang", bucket.alias("ccnet_bucket")
    )
