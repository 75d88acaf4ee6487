"""The LLM-data-curation CAPSTONE: one end-to-end pipeline component.

Every curation rung in this repo exists solo with its own oracle (C4 funnel,
exact dedup, shared-span excision, 13-gram decontamination, temperature
mixture, BPE encode, sequence packing) — this module CHAINS them, so the
stage *interactions* are verified, not just the stages: excision changes the
token counts that packing consumes, dedup and decontamination change the
per-source counts that the mixture weights read, and the mixture downsample
changes the word table the BPE fold runs on. The reference's analog is the
DAG's extract→transform→load chaining (reference:
dags/e_commerce_dw_dag.py:94 — stages wired end-to-end, each consuming the
previous stage's output), re-expressed as one declarative Spark plan.

Output: ONE row per stage with conservation columns — docs_in = docs_kept +
docs_dropped per stage, docs_in(stage i+1) = docs_kept(stage i),
ws_tokens_out(i-1) = ws_tokens_out(i) + ws_tokens_dropped(i), and BPE token
totals conserved through packing — plus a survivor-set checksum
(Σ doc_id). The oracle is the stages' SQL CTE-chained, so every interaction
is cross-engine-checked at full precision.

Pipeline semantics (training-corpus curation):

1. ``c4_funnel``        — the five C4 keep rules (text_filter_funnel's
                          conjunction) over the TRAINING docs (the
                          doc_id % CONTAM_PROBE_MODULUS == 0 holdout plays
                          the external benchmark set and never enters).
2. ``exact_dedup``      — keep-first by content hash (dedup_exact's rule).
3. ``span_excision``    — shared-span mining among survivors; the LATER doc
                          of each pair loses the duplicated token range
                          (dedup_span_excision's algebra); docs excised to
                          zero tokens drop.
4. ``decontamination``  — GPT-3 13-gram rule against the eval holdout,
                          run on the POST-EXCISION token sequences (the
                          interaction: excision can break or create spans).
5. ``mixture_downsample`` — temperature (alpha=0.5) mixture targets from
                          the SURVIVING per-source counts
                          (text_mixture_temperature's exact integer-micro
                          arithmetic); sources above target are downsampled
                          by deterministic md5 rank (the M10 convention).
6. ``bpe_encode``       — the pretrained merge list applied to the
                          post-excision survivor corpus (text_bpe_encode's
                          fold on the DISTINCT word table).
7. ``pack_sequences``   — per-language fixed-budget packing driven by the
                          REAL BPE lengths (text_pack_bpe's tape layout).

Scale: each stage keeps its solo rung's bounded plan — the funnel is one
map-side scan; dedup one hash shuffle; span mining is DF-capped
band-collision joins (never all-pairs); decontamination's probe side is
eval-bounded and broadcast; mixture TARGETS are O(sources) after one rollup
and the SELECTION is the two-phase range-bucketed md5 rank (text.py's
``two_phase_md5_rank`` — no per-source window over raw rows, the quota is
variable so the salted top-K form doesn't apply); the BPE fold runs on the
Zipf-bounded distinct-word table; packing is the two-phase tape prefix sum
(``two_phase_tape_offsets`` — no per-language window; bounded
within-bucket cumsums + a broadcast bucket prefix). Stage frames are
localCheckpointed between phases — the
lineage-truncation analog of the parquet staging a 100 TB run would use
between pipeline phases (the WAP convention), and each stage's result is
computed exactly once even though both the next stage and the conservation
summary consume it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.operators.dedup import (
    CONTAM_PROBE_MODULUS,
    DECONTAM_SPAN_TOKENS,
    SPAN_SHINGLE_DF_CAP,
    SPAN_SHINGLE_K,
    shingle_windows_expr,
)
from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
    BPE_MERGES,
    FUNNEL_LANG,
    FUNNEL_MEAN_TOKLEN,
    FUNNEL_MIN_CHARS,
    FUNNEL_MIN_STOPWORD_FRAC,
    FUNNEL_TOKENS,
    PACK_BUDGET,
    STOPWORDS,
    _bpe_merge_fold_sql,
    bpe_segments,
    pack_seq_id,
    tokens,
    two_phase_md5_rank,
    two_phase_tape_offsets,
)
from e_commerce_data_warehouse_recommendation_system_spark.registry import component
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare

_STAGES = [
    "c4_funnel",
    "exact_dedup",
    "span_excision",
    "decontamination",
    "mixture_downsample",
    "bpe_encode",
    "pack_sequences",
]


def _sql_curation_pipeline() -> str:
    """The chained oracle: every stage CTE consumes the previous stage's
    survivor set, mirroring the Spark plan 1:1 (same constants, same
    tie-breaks, same integer arithmetic)."""
    k = SPAN_SHINGLE_K
    mod = CONTAM_PROBE_MODULUS
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    enc = "array_to_string(string_split(w, ''), chr(31))"
    for a, b in BPE_MERGES:
        enc = _bpe_merge_fold_sql(a, b, enc)
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT doc_id, text, lang, source,
             string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    tok0 AS MATERIALIZED (SELECT * FROM raw WHERE doc_id % {mod} <> 0),
    evtok AS MATERIALIZED (SELECT doc_id, t FROM raw WHERE doc_id % {mod} = 0),
    s1 AS MATERIALIZED (
      SELECT doc_id, text, lang, source, t FROM tok0
      WHERE length(text) >= {FUNNEL_MIN_CHARS}
        AND len(t) BETWEEN {FUNNEL_TOKENS[0]} AND {FUNNEL_TOKENS[1]}
        AND CAST(length(text) AS DOUBLE) / len(t)
              BETWEEN {FUNNEL_MEAN_TOKLEN[0]} AND {FUNNEL_MEAN_TOKLEN[1]}
        AND CAST(len(list_filter(t, x -> x IN ({sw}))) AS DOUBLE) / len(t)
              >= {FUNNEL_MIN_STOPWORD_FRAC}
        AND lang = '{FUNNEL_LANG}'
    ),
    s2 AS MATERIALIZED (
      SELECT * FROM s1
      WHERE doc_id IN (SELECT MIN(doc_id) FROM s1 GROUP BY md5(text))
    ),
    sh3 AS MATERIALIZED (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
      FROM s2, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
    ),
    keep3 AS MATERIALIZED (
      SELECT shingle FROM sh3 GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_SHINGLE_DF_CAP}
    ),
    runs3 AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
             a.pos - b.pos AS diag,
             a.pos - ROW_NUMBER() OVER (
               PARTITION BY a.doc_id, b.doc_id, a.pos - b.pos
               ORDER BY a.pos) AS isl
      FROM sh3 a JOIN keep3 kp ON a.shingle = kp.shingle
      JOIN sh3 b ON a.shingle = b.shingle AND a.doc_id > b.doc_id
    ),
    drops3 AS MATERIALIZED (
      SELECT doc_a AS doc_id, MIN(pa) AS p0, COUNT(*) + {k - 1} AS len
      FROM runs3 GROUP BY doc_a, doc_b, diag, isl
    ),
    tokpos3 AS MATERIALIZED (
      SELECT doc_id, lang, source, i AS pos, t[i] AS tok
      FROM s2, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    keptpos AS MATERIALIZED (
      SELECT tp.* FROM tokpos3 tp
      WHERE NOT EXISTS (SELECT 1 FROM drops3 d
        WHERE tp.doc_id = d.doc_id AND tp.pos BETWEEN d.p0 AND d.p0 + d.len - 1)
    ),
    s3 AS MATERIALIZED (
      SELECT doc_id, any_value(lang) AS lang, any_value(source) AS source,
             list(tok ORDER BY pos) AS t
      FROM keptpos GROUP BY doc_id
    ),
    sh4 AS MATERIALIZED (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
      FROM s3, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
    ),
    esh AS MATERIALIZED (
      SELECT doc_id AS eval_doc, i AS pe,
             array_to_string(t[i:i+{k - 1}], ' ') AS shingle
      FROM evtok, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
    ),
    spans4 AS MATERIALIZED (
      SELECT doc_id, COUNT(*) + {k - 1} AS span FROM (
        SELECT s.doc_id, e.eval_doc, s.pos - e.pe AS diag,
               s.pos - ROW_NUMBER() OVER (
                 PARTITION BY s.doc_id, e.eval_doc, s.pos - e.pe
                 ORDER BY s.pos) AS isl
        FROM sh4 s JOIN esh e ON s.shingle = e.shingle
      ) GROUP BY doc_id, eval_doc, diag, isl
    ),
    contaminated AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM spans4 WHERE span >= {DECONTAM_SPAN_TOKENS}
    ),
    s4 AS MATERIALIZED (
      SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    srcstats AS MATERIALIZED (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS sqrt_micro
      FROM s4 GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(sqrt_micro) AS BIGINT) AS tot,
                   CAST(SUM(n_docs) AS BIGINT) AS n FROM srcstats),
    targets AS MATERIALIZED (
      SELECT source, n_docs,
             (t.n * ((1000000 * sqrt_micro) // t.tot)) // 1000000 AS target_docs
      FROM srcstats, tot t
    ),
    ranked5 AS MATERIALIZED (
      SELECT s4.*, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM s4
    ),
    s5 AS MATERIALIZED (
      SELECT r.doc_id, r.lang, r.source, r.t
      FROM ranked5 r JOIN targets g ON r.source = g.source
      WHERE r.rk <= LEAST(g.n_docs, g.target_docs)
    ),
    tw AS MATERIALIZED (
      SELECT doc_id, w FROM (SELECT doc_id, unnest(t) AS w FROM s5)
      WHERE w <> ''
    ),
    words AS MATERIALIZED (SELECT DISTINCT w FROM tw),
    encw AS MATERIALIZED (SELECT w, {enc} AS s FROM words),
    wn AS MATERIALIZED (
      SELECT w, CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_tokens
      FROM encw
    ),
    bpe AS MATERIALIZED (
      SELECT tw.doc_id, CAST(SUM(wn.n_tokens) AS BIGINT) AS n_bpe_tokens
      FROM tw JOIN wn USING (w) GROUP BY tw.doc_id
    ),
    s6 AS MATERIALIZED (
      SELECT s5.doc_id, s5.lang, b.n_bpe_tokens FROM s5 JOIN bpe b USING (doc_id)
    ),
    offs AS MATERIALIZED (
      SELECT doc_id, lang, n_bpe_tokens,
             COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM s6
    ),
    packs AS MATERIALIZED (
      SELECT lang, start_offset // {PACK_BUDGET} AS seq_id,
             CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_toks
      FROM offs GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage_ord, 'c4_funnel' AS stage,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tok0) AS docs_in,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS docs_kept,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tok0)
          - (SELECT COUNT(*) FROM s1) AS docs_dropped,
        (SELECT CAST(SUM(len(t)) AS BIGINT) FROM s1) AS ws_tokens_out,
        CAST((SELECT SUM(len(t)) FROM tok0)
          - (SELECT SUM(len(t)) FROM s1) AS BIGINT) AS ws_tokens_dropped,
        CAST(NULL AS BIGINT) AS bpe_tokens_out,
        CAST(NULL AS BIGINT) AS n_sequences,
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM s1) AS docs_checksum
      UNION ALL
      SELECT 2, 'exact_dedup',
        (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2),
        (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2),
        CAST((SELECT SUM(len(t)) FROM s2) AS BIGINT),
        CAST((SELECT SUM(len(t)) FROM s1) - (SELECT SUM(len(t)) FROM s2) AS BIGINT),
        NULL, NULL, CAST((SELECT SUM(doc_id) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'span_excision',
        (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3),
        (SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3),
        CAST((SELECT SUM(len(t)) FROM s3) AS BIGINT),
        CAST((SELECT SUM(len(t)) FROM s2) - (SELECT SUM(len(t)) FROM s3) AS BIGINT),
        NULL, NULL, CAST((SELECT SUM(doc_id) FROM s3) AS BIGINT)
      UNION ALL
      SELECT 4, 'decontamination',
        (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4),
        (SELECT COUNT(*) FROM s3) - (SELECT COUNT(*) FROM s4),
        CAST((SELECT SUM(len(t)) FROM s4) AS BIGINT),
        CAST((SELECT SUM(len(t)) FROM s3) - (SELECT SUM(len(t)) FROM s4) AS BIGINT),
        NULL, NULL, CAST((SELECT SUM(doc_id) FROM s4) AS BIGINT)
      UNION ALL
      SELECT 5, 'mixture_downsample',
        (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5),
        (SELECT COUNT(*) FROM s4) - (SELECT COUNT(*) FROM s5),
        CAST((SELECT SUM(len(t)) FROM s5) AS BIGINT),
        CAST((SELECT SUM(len(t)) FROM s4) - (SELECT SUM(len(t)) FROM s5) AS BIGINT),
        NULL, NULL, CAST((SELECT SUM(doc_id) FROM s5) AS BIGINT)
      UNION ALL
      SELECT 6, 'bpe_encode',
        (SELECT COUNT(*) FROM s5), (SELECT COUNT(*) FROM s6),
        (SELECT COUNT(*) FROM s5) - (SELECT COUNT(*) FROM s6),
        NULL, NULL,
        CAST((SELECT SUM(n_bpe_tokens) FROM s6) AS BIGINT), NULL,
        CAST((SELECT SUM(doc_id) FROM s6) AS BIGINT)
      UNION ALL
      SELECT 7, 'pack_sequences',
        (SELECT COUNT(*) FROM s6), (SELECT COUNT(*) FROM s6), 0,
        NULL, NULL,
        CAST((SELECT SUM(n_toks) FROM packs) AS BIGINT),
        (SELECT CAST(COUNT(*) AS BIGINT) FROM packs),
        CAST((SELECT SUM(doc_id) FROM s6) AS BIGINT)
    ) ORDER BY stage_ord
    """


def _doc_stats(df: DataFrame, prefix: str) -> DataFrame:
    """1-row (n, ws, ck) survivor stats of a stage frame carrying token
    arrays ``t`` — the conservation summary's inputs."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias(f"{prefix}_n"),
        F.sum(F.size("t")).cast("long").alias(f"{prefix}_ws"),
        F.sum("doc_id").cast("long").alias(f"{prefix}_ck"),
    )


@component(
    "text_curation_pipeline",
    oracle=_sql_curation_pipeline(),
    cols=[
        ("stage_ord", "num"),
        ("stage", "str"),
        ("docs_in", "num"),
        ("docs_kept", "num"),
        ("docs_dropped", "num"),
        ("ws_tokens_out", "num"),
        ("ws_tokens_dropped", "num"),
        ("bpe_tokens_out", "num"),
        ("n_sequences", "num"),
        ("docs_checksum", "num"),
    ],
)
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: the 7-stage chained curation pipeline with
    per-stage conservation columns. Each stage frame is localCheckpointed
    so span mining, the funnel, and the BPE fold each run exactly once even
    though both the next stage and the summary aggregates consume them."""

    def _stage(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    prepare(spark, sf_dir)
    k = SPAN_SHINGLE_K
    raw = spark.table("documents").select(
        "doc_id", "text", "lang", "source", tokens("text").alias("t")
    )
    tok0 = raw.filter(F.col("doc_id") % CONTAM_PROBE_MODULUS != 0)
    evtok = raw.filter(F.col("doc_id") % CONTAM_PROBE_MODULUS == 0).select(
        "doc_id", "t"
    )

    # -- stage 1: C4 funnel (conjunction of text_filter_funnel's five rules)
    L = F.length("text")
    T = F.size("t")
    SW = F.size(F.filter(F.col("t"), lambda x: x.isin(*STOPWORDS)))
    s1 = _stage(
        tok0.filter(
            (L >= FUNNEL_MIN_CHARS)
            & T.between(*FUNNEL_TOKENS)
            & (L.cast("double") / T).between(*FUNNEL_MEAN_TOKLEN)
            & ((SW.cast("double") / T) >= FUNNEL_MIN_STOPWORD_FRAC)
            & (F.col("lang") == FUNNEL_LANG)
        )
    )

    # -- stage 2: exact dedup, keep-first by content hash
    keepers2 = (
        s1.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s2 = _stage(s1.join(keepers2, "doc_id", "left_semi"))

    # -- stage 3: shared-span excision among survivors (keep-first: the
    # LATER doc of each colliding pair loses the duplicated range)
    sh3 = s2.select(
        "doc_id", F.explode(F.expr(shingle_windows_expr(k))).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.shingle").alias("shingle"))
    keep3 = (
        sh3.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= SPAN_SHINGLE_DF_CAP))
        .select("shingle")
    )
    idx3 = sh3.join(keep3, "shingle")
    a3 = idx3.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "shingle")
    b3 = idx3.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "shingle")
    prs3 = a3.join(b3, "shingle").filter(F.col("doc_a") > F.col("doc_b"))
    w3 = Window.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy("pa")
    runs3 = prs3.select(
        "doc_a",
        "doc_b",
        "pa",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(w3)).alias("isl"),
    )
    drops3 = (
        runs3.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.min("pa").alias("p0"), (F.count(F.lit(1)) + (k - 1)).alias("len"))
        .select(F.col("doc_a").alias("doc_id"), "p0", "len")
    )
    # r14 opt: excision used to run at TOKEN grain — posexplode the whole
    # surviving corpus, anti-join dropped positions, then rebuild every
    # array with collect_list + array_sort (a corpus-tokens shuffle plus a
    # per-doc regroup). The drop decisions are per-doc CONTIGUOUS ranges
    # and there are few of them, so excision is really a map-side array
    # filter: collect each doc's ranges into one small array column, join
    # it to the doc-grain frame, and keep exactly the positions no range
    # covers — token order preserved for free (no regroup, no token
    # shuffle). Row-identical to the token-grain plan, including the
    # edge case it encoded implicitly: a doc whose every token is excised
    # had no surviving rows to regroup, so it vanished from the stage —
    # the size(t) > 0 filter reproduces that.
    drop_ranges3 = drops3.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("p0"), F.col("len"))).alias("_rng")
    )
    kept_tok3 = F.filter(
        F.transform(
            F.col("t"),
            lambda x, i: F.struct(x.alias("tok"), (i + F.lit(1)).alias("pos")),
        ),
        lambda s: ~F.exists(
            F.col("_rng"),
            lambda r: (s["pos"] >= r["p0"]) & (s["pos"] <= r["p0"] + r["len"] - 1),
        ),
    )
    s3 = (
        s2.join(drop_ranges3, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("_rng").isNull(), F.col("t"))
            .otherwise(F.transform(kept_tok3, lambda s: s["tok"]))
            .alias("t"),
        )
        .filter(F.size("t") > 0)
    )
    s3 = _stage(s3)

    # -- stage 4: 13-gram decontamination on the POST-EXCISION sequences
    sh4 = s3.select(
        "doc_id", F.explode(F.expr(shingle_windows_expr(k))).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.shingle").alias("shingle"))
    esh = evtok.select(
        F.col("doc_id").alias("eval_doc"),
        F.explode(F.expr(shingle_windows_expr(k))).alias("w"),
    ).select("eval_doc", F.col("w.pos").alias("pe"), F.col("w.shingle").alias("shingle"))
    w4 = Window.partitionBy("doc_id", "eval_doc", F.col("pos") - F.col("pe")).orderBy(
        "pos"
    )
    spans4 = (
        sh4.join(F.broadcast(esh), "shingle")
        .select(
            "doc_id",
            "eval_doc",
            (F.col("pos") - F.col("pe")).alias("diag"),
            (F.col("pos") - F.row_number().over(w4)).alias("isl"),
        )
        .groupBy("doc_id", "eval_doc", "diag", "isl")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("span"))
    )
    contaminated = (
        spans4.filter(F.col("span") >= DECONTAM_SPAN_TOKENS).select("doc_id").distinct()
    )
    s4 = _stage(s3.join(contaminated, "doc_id", "left_anti"))

    # -- stage 5: temperature-mixture downsample (alpha = 0.5, exact
    # integer micro-units; deterministic md5-rank selection within source)
    srcstats = s4.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * 1000000.0)
        .cast("long")
        .alias("sqrt_micro"),
    )
    tot = srcstats.agg(
        F.sum("sqrt_micro").cast("long").alias("tot"),
        F.sum("n_docs").cast("long").alias("n"),
    )
    targets = (
        srcstats.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("div(n * div(1000000 * sqrt_micro, tot), 1000000)")
            .cast("long")
            .alias("target_docs"),
        )
    )
    # selection rank via the two-phase md5-rank plan (text.py): the quota
    # here is variable and can approach |source|, so neither a per-source
    # window (one corpus-sized task for a dominant source) nor the salted
    # top-K (phase 2 would sort SALTS x quota rows) survives 100 TB —
    # range-bucketed exact rank does, row-identically (oracle unchanged)
    s5 = (
        two_phase_md5_rank(s4, "source")
        .join(F.broadcast(targets), "source")
        .filter(F.col("rk") <= F.least("n_docs", "target_docs"))
        .select("doc_id", "lang", "source", "t")
    )
    s5 = _stage(s5)

    # -- stage 6: BPE encode (fold on the survivor corpus's DISTINCT words)
    tw = s5.select("doc_id", F.explode("t").alias("w")).filter(F.col("w") != "")
    wn = (
        tw.select("w")
        .distinct()
        .select("w", F.size(bpe_segments("w")).cast("long").alias("n_tokens"))
    )
    s6 = (
        tw.join(F.broadcast(wn), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_tokens").cast("long").alias("n_bpe_tokens"))
        .join(s5.select("doc_id", "lang"), "doc_id")
    )
    s6 = _stage(s6)

    # -- stage 7: fixed-budget per-language packing on the real BPE lengths
    # (two-phase tape prefix sum + integer-div seq_id, same plan as
    # text_pack_bpe: the per-language window form would push a dominant
    # language through one task at 100 TB; seq_id in integer arithmetic so
    # Spark and the oracle's ``//`` agree past 2^53 offsets)
    packs = (
        # staged=True: s6 is localCheckpointed above — the helper's default
        # self-staging would copy the checkpointed rows a second time
        two_phase_tape_offsets(s6, "lang", "n_bpe_tokens", staged=True)
        .groupBy("lang", pack_seq_id().alias("seq_id"))
        .agg(F.sum("n_bpe_tokens").cast("long").alias("n_toks"))
    )

    # -- conservation summary: 7 rows from 1-row stage stats (the repo's
    # documented bounded 1-row crossJoin class)
    st0 = _doc_stats(tok0, "p")
    st = [
        _doc_stats(s, "c") for s in (s1, s2, s3, s4, s5)
    ]
    nil = F.lit(None).cast("long")

    def ws_row(ord_: int, prev: DataFrame, cur: DataFrame) -> DataFrame:
        p = prev.select(
            F.col(prev.columns[0]).alias("p_n"),
            F.col(prev.columns[1]).alias("p_ws"),
            F.col(prev.columns[2]).alias("p_ck"),
        )
        return p.crossJoin(cur).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(_STAGES[ord_ - 1]).alias("stage"),
            F.col("p_n").alias("docs_in"),
            F.col("c_n").alias("docs_kept"),
            (F.col("p_n") - F.col("c_n")).alias("docs_dropped"),
            F.col("c_ws").alias("ws_tokens_out"),
            (F.col("p_ws") - F.col("c_ws")).alias("ws_tokens_dropped"),
            nil.alias("bpe_tokens_out"),
            nil.alias("n_sequences"),
            F.col("c_ck").alias("docs_checksum"),
        )

    rows = [ws_row(1, st0, st[0])]
    for i in range(1, 5):
        rows.append(ws_row(i + 1, st[i - 1], st[i]))

    st5b = st[4].select(
        F.col("c_n").alias("p_n"), F.col("c_ck").alias("p_ck")
    )
    st6 = s6.agg(
        F.count(F.lit(1)).cast("long").alias("c_n"),
        F.sum("n_bpe_tokens").cast("long").alias("c_bpe"),
        F.sum("doc_id").cast("long").alias("c_ck"),
    ).localCheckpoint(eager=True)
    rows.append(
        st5b.crossJoin(st6).select(
            F.lit(6).cast("long").alias("stage_ord"),
            F.lit(_STAGES[5]).alias("stage"),
            F.col("p_n").alias("docs_in"),
            F.col("c_n").alias("docs_kept"),
            (F.col("p_n") - F.col("c_n")).alias("docs_dropped"),
            nil.alias("ws_tokens_out"),
            nil.alias("ws_tokens_dropped"),
            F.col("c_bpe").alias("bpe_tokens_out"),
            nil.alias("n_sequences"),
            F.col("c_ck").alias("docs_checksum"),
        )
    )
    st7 = packs.agg(
        F.sum("n_toks").cast("long").alias("k_bpe"),
        F.count(F.lit(1)).cast("long").alias("k_seq"),
    )
    rows.append(
        st6.crossJoin(st7).select(
            F.lit(7).cast("long").alias("stage_ord"),
            F.lit(_STAGES[6]).alias("stage"),
            F.col("c_n").alias("docs_in"),
            F.col("c_n").alias("docs_kept"),
            F.lit(0).cast("long").alias("docs_dropped"),
            nil.alias("ws_tokens_out"),
            nil.alias("ws_tokens_dropped"),
            F.col("k_bpe").alias("bpe_tokens_out"),
            F.col("k_seq").alias("n_sequences"),
            F.col("c_ck").alias("docs_checksum"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_ord")


# --------------------------------------------------------------------------
# BPE tokenizer TRAINING (iterative merge induction from corpus statistics)
# --------------------------------------------------------------------------

#: learned merge rules — bounded like the PageRank/kcore iterations so the
#: oracle is a finite unrolled CTE chain; real tokenizers run the same loop
#: to 32k-100k merges
BPE_TRAIN_MERGES = 8


def _sql_bpe_train() -> str:
    """Unrolled trainer oracle: per round, pair supports over the CURRENT
    segmentations (corpus-frequency-weighted), deterministic argmax
    (support DESC, left, right), then the merge applied via the same
    greedy left-fold as the encoder — with the pair captured from the
    round's 1-row argmax CTE instead of a literal (DuckDB lambdas close
    over in-scope columns). MATERIALIZED per round (the PageRank-oracle
    convention)."""
    steps = []
    for r in range(BPE_TRAIN_MERGES):
        steps.append(f"""
    , p{r} AS MATERIALIZED (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS support FROM (
        SELECT cnt, segs[i] AS a, segs[i+1] AS b
        FROM seg{r}, UNNEST(range(1, len(segs))) AS u(i)
      ) GROUP BY a, b
    ),
    m{r} AS MATERIALIZED (
      SELECT a, b, support FROM p{r} ORDER BY support DESC, a, b LIMIT 1
    ),
    seg{r + 1} AS MATERIALIZED (
      SELECT w, cnt,
        string_split(list_reduce(segs, (acc, x) -> CASE
          WHEN (acc = m.a OR ends_with(acc, chr(31) || m.a)) AND x = m.b
          THEN acc || m.b ELSE acc || chr(31) || x END), chr(31)) AS segs
      FROM seg{r}, m{r} m
    )""")
    final = "\n      UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, support FROM m{r}"
        for r in range(BPE_TRAIN_MERGES)
    )
    return rf"""
    WITH wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    seg0 AS MATERIALIZED (
      SELECT w, cnt, string_split(w, '') AS segs FROM wf
    )
    {''.join(steps)}
    SELECT * FROM ({final}) ORDER BY rank
    """


@component(
    "text_bpe_train",
    oracle=_sql_bpe_train(),
    cols=[
        ("rank", "num"),
        ("left_sym", "str"),
        ("right_sym", "str"),
        ("merged", "str"),
        ("support", "num"),
    ],
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the iterative merge INDUCTION the encode
    family was missing: text_bpe_pair_stats ranks only the FIRST merge and
    text_bpe_encode applies a pretrained list; this runs the actual
    Sennrich et al. loop — per round, count adjacent-pair supports over
    the current segmentations (weighted by corpus word frequency, so
    overlapping adjacencies count as they occur), take the deterministic
    argmax (support DESC, then lexicographic), apply it with the SAME
    greedy left-fold the encoder uses, repeat. {BPE_TRAIN_MERGES} bounded
    rounds (the PageRank/kcore convention; production tokenizers run this
    identical loop to 32k+ merges). Emits the learned merge table —
    second-order merges (rules consuming earlier rules' outputs) appear by
    round 6 on the testdata, so the oracle genuinely checks the ITERATION,
    not just one argmax.

    Determinism: supports are exact integer sums; the argmax tie-break is
    total (support, left, right); the fold application is the proven
    encoder parity (text_bpe_encode / text_bpe_roundtrip).

    Scale: every round runs on the word-frequency table (Zipf-bounded,
    ~n^0.5 of the corpus) — one pair explode + groupBy + a 1-row argmax
    (the repo's documented bounded-collect class, like kcore's threshold)
    + one map-side fold, with per-round localCheckpoint truncating the
    fold-expression lineage. The corpus is scanned ONCE (the initial
    word-frequency rollup); training cost is corpus-size-independent
    after that — exactly how production BPE trainers run."""
    prepare(spark, sf_dir)
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        _BPE_SEP,
        bpe_merge_rule,
    )

    wf = (
        spark.table("documents")
        .select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    seg = wf.withColumn("segs", F.split("w", "")).localCheckpoint(eager=True)
    learned = []
    for r in range(1, BPE_TRAIN_MERGES + 1):
        pairs = (
            seg.select(
                "cnt",
                F.explode(
                    F.expr(
                        "zip_with(slice(segs, 1, size(segs) - 1),"
                        "         slice(segs, 2, size(segs) - 1),"
                        "         (a, b) -> struct(a, b))"
                    )
                ).alias("p"),
            )
            .select("cnt", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.sum("cnt").cast("long").alias("support"))
        )
        # 1-row argmax (bounded-collect class): the learned rule must come
        # back to the driver to be applied as fold literals next round —
        # the same round-scalar shape as kcore's threshold
        top = pairs.orderBy(F.desc("support"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            # every word fully merged before the round bound — impossible on
            # any real corpus at this K (vocabularies have thousands of
            # multi-char words); fail loudly rather than emit a short merge
            # table the fixed-K oracle cannot match
            raise ValueError(
                f"corpus exhausted at merge round {r}/{BPE_TRAIN_MERGES}"
            )
        best = top[0]
        learned.append(
            (r, best["a"], best["b"], best["a"] + best["b"], int(best["support"]))
        )
        folded = F.aggregate(
            F.split(F.array_join("segs", _BPE_SEP), _BPE_SEP),
            F.lit(""),
            bpe_merge_rule(best["a"], best["b"]),
        )
        seg = seg.withColumn("segs", F.split(folded, _BPE_SEP)).localCheckpoint(
            eager=True
        )
    return spark.createDataFrame(
        learned,
        schema="rank bigint, left_sym string, right_sym string, "
        "merged string, support bigint",
    )
