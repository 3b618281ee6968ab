"""Text-analysis workloads over the documents table (BASELINE.json
extension surface). Oracles are generated programmatically so the exact
same heuristic constants drive both engines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import (
    EN_STOPWORDS,
    LANG_MARKERS,
    bpe_ish_token_count,
    fingerprint,
    language_id,
    quality_score,
    token_count,
)
from ..tables import load_tables
from . import workload


def _o_substr_count(col_sql: str, sub: str) -> str:
    """Oracle twin of textops.substr_count (replace-length trick)."""
    escaped = sub.replace("'", "''")
    return (
        f"cast((length({col_sql}) - length(replace({col_sql}, '{escaped}', '')))"
        f" / {len(sub)} as int)"
    )


# shared tokenizer CTE: DuckDB twin of dedup.words() + the empty-token
# filter bigram_pmi applies (one constant so the unigram and bigram
# stages can never drift apart)
_WS_CTE = (
    "d AS (SELECT list_filter(string_split(trim(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g')), ' '), w -> w <> '') AS ws FROM documents)"
)


@workload(
    "bigram_pmi_top",
    f"""
    WITH {_WS_CTE},
    uni AS (
      SELECT w, count(*) AS c_w
      FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_uni FROM uni),
    big AS (
      SELECT (bg).w1 AS w1, (bg).w2 AS w2, count(*) AS c_ab
      FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS bg
        FROM d
      ) GROUP BY 1, 2 HAVING count(*) >= 25
    ),
    nbi AS (
      SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n_bi FROM d
    )
    SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
           CAST(floor(ln(
             (b.c_ab::DOUBLE * t.n_uni::DOUBLE * t.n_uni::DOUBLE)
             / (nbi.n_bi::DOUBLE * ua.c_w::DOUBLE * ub.c_w::DOUBLE)
           ) * 1000000 + 0.5) AS BIGINT) AS pmi_x1e6
    FROM big b
    JOIN uni ua ON b.w1 = ua.w
    JOIN uni ub ON b.w2 = ub.w, tot t, nbi
    ORDER BY pmi_x1e6 DESC, w1, w2 LIMIT 30
    """,
    doc="Top-30 word-bigram collocations by PMI (Church & Hanks 1990) — "
    "phrase-mining for tokenizer-vocab seeding. Map-side adjacent-pair "
    "derivation (no self-join), vocabulary-sized aggs, 1-row total "
    "broadcasts; PMI fixed-point-quantized so values and top-N order "
    "hash identically cross-engine.",
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import bigram_pmi

    d = load_tables(spark, sf_dir)["documents"]
    return bigram_pmi(d, min_count=25, top_n=30)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------
@workload(
    "text_token_count",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE cast(len(string_split_regex(trim(text), '[ \\t\\n]+')) as int)
           END AS n_tokens,
           cast(list_aggregate(
             list_transform(string_split_regex(trim(text), '[ \\t\\n]+'),
                            w -> greatest(cast(ceil(length(w) / 4.0) as int), 1)),
             'sum') as int) AS n_bpe_tokens
    FROM documents
    """,
    doc="Whitespace + BPE-ish (ceil(len/4)) token counts per document.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------
def _oracle_lang_id() -> str:
    score_sqls = {}
    for lang in sorted(LANG_MARKERS):
        terms = [
            _o_substr_count("(' ' || lower(text) || ' ')", f" {w} ")
            for w in LANG_MARKERS[lang]
        ]
        score_sqls[lang] = "(" + " + ".join(terms) + ")"
    best = "greatest(" + ", ".join(score_sqls[lang] for lang in sorted(LANG_MARKERS)) + ")"
    case = "CASE"
    for lang in sorted(LANG_MARKERS):
        case += f" WHEN {best} > 0 AND {score_sqls[lang]} = {best} THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
    SELECT doc_id, {case} AS lang_guess, lang AS lang_true
    FROM documents
    """


@workload(
    "text_language_id",
    _oracle_lang_id(),
    doc="Marker-word language ID (en/de/es/fr), deterministic tie-break.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_guess"),
        F.col("lang").alias("lang_true"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def _oracle_quality() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop_hits = " + ".join(_o_substr_count(padded, f" {w} ") for w in EN_STOPWORDS)
    n_tokens = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE cast(len(string_split_regex(trim(text), '[ \\t\\n]+')) as int) END"
    )
    return f"""
    WITH raw AS (
      SELECT doc_id,
             {n_tokens} AS n_tokens,
             length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS n_nonspace,
             ({stop_hits}) AS stop_hits,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
             length(text) AS n_chars_m
      FROM documents
    ),
    feats AS (
      SELECT doc_id, n_tokens,
             round(cast(n_nonspace as double) / greatest(n_tokens, 1), 6) AS mean_word_len,
             round(cast(stop_hits as double) / greatest(n_tokens, 1), 6) AS stopword_ratio,
             round(cast(n_digits as double) / greatest(n_chars_m, 1), 6) AS digit_ratio
      FROM raw
    )
    SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, digit_ratio,
           round(
             (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN mean_word_len BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN digit_ratio <= 0.2 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
    FROM feats
    """


@workload(
    "text_quality_score",
    _oracle_quality(),
    doc="Gopher/C4-style quality signals + composite 0-1 score.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    scored = quality_score(d)
    # mirror the oracle: score recomputed from unrounded signals
    return scored.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "stopword_ratio",
        "digit_ratio",
        "quality_score",
    )


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------
@workload(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(substring(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 64)
               || '|'
               || cast(cast(floor(length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) / 32) as int) as varchar))
             AS fp
    FROM documents
    """,
    doc="Deterministic document fingerprint (normalized prefix + length bucket).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# hard quality gate (C4/Gopher keep-drop rules)
# ---------------------------------------------------------------------------
def _oracle_quality_filter() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop_hits = " + ".join(_o_substr_count(padded, f" {w} ") for w in EN_STOPWORDS)
    n_tokens = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE cast(len(string_split_regex(trim(text), '[ \\t\\n]+')) as int) END"
    )
    return f"""
    WITH raw AS (
      SELECT doc_id,
             {n_tokens} AS n_tokens,
             length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS n_nonspace,
             ({stop_hits}) AS stop_hits,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
             length(text) AS n_chars_m
      FROM documents
    ),
    feats AS (
      SELECT doc_id, n_tokens,
             round(cast(n_nonspace as double) / greatest(n_tokens, 1), 6) AS mean_word_len,
             round(cast(stop_hits as double) / greatest(n_tokens, 1), 6) AS stopword_ratio,
             round(cast(n_digits as double) / greatest(n_chars_m, 1), 6) AS digit_ratio
      FROM raw
    )
    SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, digit_ratio
    FROM feats
    WHERE n_tokens BETWEEN 10 AND 100000
      AND mean_word_len BETWEEN 3 AND 12
      AND stopword_ratio > 0
      AND digit_ratio <= 0.2
    """


@workload(
    "text_quality_filter",
    _oracle_quality_filter(),
    doc="Hard C4/Gopher keep-gate: token count, mean word length, "
    "stopword presence, digit ratio — one map-only corpus pass.",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import quality_filter

    d = load_tables(spark, sf_dir)["documents"]
    return quality_filter(d).select(
        "doc_id", "n_tokens", "mean_word_len", "stopword_ratio", "digit_ratio"
    )


# ---------------------------------------------------------------------------
# deterministic hash-stratified sampling (training-data mixing)
# ---------------------------------------------------------------------------
@workload(
    "sample_hash_stratified",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 10000
          < CASE WHEN lang = 'en' THEN 500 ELSE 2000 END
    """,
    doc="Deterministic per-language hash sampling (md5-bucket rates: en 5%, "
    "others 20%) — reproducible training-data mixing, map-only.",
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import hash_sample

    d = load_tables(spark, sf_dir)["documents"]
    return hash_sample(d, rates={"en": 0.05}, default_rate=0.2).select(
        "doc_id", "lang"
    )


_PS_K = 200


@workload(
    "priority_sample_topk",
    f"""
    SELECT doc_id, weight, priority FROM (
      SELECT doc_id, cast(n_chars + 1 as bigint) AS weight,
             cast(n_chars + 1 as double)
             / cast((('0x' || substr(md5('ps0:' || cast(doc_id as varchar)), 1, 15))::bigint + 1) as double)
               AS priority
      FROM documents
    ) t ORDER BY priority DESC, doc_id LIMIT {_PS_K}
    """,
    doc="Weighted sampling WITHOUT replacement via priority sampling "
    "(Duffield-Lund-Thorup JACM 2007): priority = weight / md5-uniform, "
    "global top-k — size-biased corpus subsetting in one map-only pass "
    "+ TakeOrderedAndProject (per-partition heaps, no global sort). "
    "The priority is one IEEE division of exact integers, so both "
    "engines produce bit-identical doubles.",
)
def priority_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import priority_sample

    d = load_tables(spark, sf_dir)["documents"]
    return priority_sample(
        d, k=_PS_K, weight_col=F.col("n_chars") + 1, id_col="doc_id"
    )


_MIX_WEIGHTS_SQL = """
    WITH toks AS (
      SELECT lang AS grp,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE cast(len(string_split_regex(trim(text), '[ \\t\\n]+')) as int)
             END AS t
      FROM documents
    ),
    g AS (
      SELECT grp, cast(sum(t) AS BIGINT) AS group_tokens,
             count(*) AS n_docs
      FROM toks GROUP BY grp
    ),
    tot AS (
      SELECT cast(sum(group_tokens) AS BIGINT) AS tot_tokens,
             count(*) AS n_groups
      FROM g
    )
    SELECT grp, group_tokens, n_docs,
           round(least(1.0, cast(tot_tokens as double) / n_groups / group_tokens), 6)
             AS weight
    FROM g CROSS JOIN tot"""


@workload(
    "mix_sampling_weights",
    _MIX_WEIGHTS_SQL,
    doc="Token-budget mixture rebalancing: per-language sampling weight "
    "min(1, (T/G)/t_g) equalizing token share across groups (DoReMi-style "
    "domain reweighting with a uniform target). Aggregates are exact "
    "integers; the weight is one deterministic IEEE division chain.",
)
def mix_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import mixing_weights

    d = load_tables(spark, sf_dir)["documents"]
    return mixing_weights(d)


@workload(
    "mix_resample",
    f"""
    WITH weights AS ({_MIX_WEIGHTS_SQL})
    SELECT d.doc_id, d.lang
    FROM documents d JOIN weights w ON d.lang = w.grp
    WHERE ('0x' || substr(md5(cast(d.doc_id AS varchar)), 1, 8))::BIGINT % 1000000
          < cast(floor(weight * 1000000.0 + 0.5) as bigint)
    """,
    doc="Corpus resampled to the computed mixture weights: md5-bucket "
    "selection against an integer threshold — reproducible across runs, "
    "engines, and partitionings; map-only over the corpus with a "
    "broadcast |groups|-row weight table.",
)
def mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import mix_resample as _mix_resample

    d = load_tables(spark, sf_dir)["documents"]
    return _mix_resample(d)


# ---------------------------------------------------------------------------
# model-based quality scoring (linear scorer — the fastText/logreg
# filter shape: offline-trained weights, map-only application)
# ---------------------------------------------------------------------------
def _oracle_model_quality() -> str:
    from ..operators.textops import model_quality_score_sql

    padded = "(' ' || lower(text) || ' ')"
    stop_hits = " + ".join(_o_substr_count(padded, f" {w} ") for w in EN_STOPWORDS)
    n_tokens = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE cast(len(string_split_regex(trim(text), '[ \\t\\n]+')) as int) END"
    )
    return f"""
    WITH raw AS (
      SELECT doc_id, source,
             {n_tokens} AS n_tokens,
             length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS n_nonspace,
             ({stop_hits}) AS stop_hits,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             length(text) AS n_chars_m
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, n_tokens,
             round(cast(n_nonspace as double) / greatest(n_tokens, 1), 6) AS mean_word_len,
             round(cast(stop_hits as double) / greatest(n_tokens, 1), 6) AS stopword_ratio,
             round(cast(n_digits as double) / greatest(n_chars_m, 1), 6) AS digit_ratio,
             round(cast(n_punct as double) / greatest(n_chars_m, 1), 6) AS punct_ratio
      FROM raw
    ),
    scored AS (
      SELECT doc_id, source, {model_quality_score_sql()} AS model_score
      FROM feats
    )
    SELECT source,
           count(*) AS n_docs,
           cast(sum(CASE WHEN model_score >= 0.5 THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(cast(model_score as decimal(18,6))) as double) AS sum_score
    FROM scored
    GROUP BY source
    ORDER BY source
    """


@workload(
    "text_model_quality",
    _oracle_model_quality(),
    doc="Linear-model quality scorer (rational features, clamp squash — "
    "bit-identical cross-engine) + per-source keep-rate aggregate.",
)
def text_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import model_quality_score

    d = load_tables(spark, sf_dir)["documents"]
    scored = model_quality_score(d)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("model_score") >= 0.5, 1).otherwise(0)).alias(
                "n_kept"
            ),
            # model_score is rounded to 6 decimals → decimal(18,6) sum is
            # exact and order-independent (package determinism rule #1)
            F.sum(F.col("model_score").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE merge candidates: adjacent character-pair frequencies within words
# — the inner statistic of byte-pair-encoding tokenizer training
# ---------------------------------------------------------------------------
@workload(
    "bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(string_split_regex(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(w) - 1),
               i -> substr(w, i, 2))) AS pair
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
    doc="BPE training step 1: adjacent char-pair counts within words, "
    "top-30 merge candidates. explode+agg — one shuffle on 2-char "
    "keys; at 100 TB pre-aggregate per partition (map-side combine "
    "is automatic) so the shuffle carries |alphabet|^2 rows per task.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    words = d.select(F.explode(F.split(norm, " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# corpus statistics report: the standard per-source profile table
# ---------------------------------------------------------------------------
@workload(
    "corpus_stats_report",
    """
    SELECT source,
           count(*) AS n_docs,
           cast(sum(cast(n_chars as decimal(28,0))) as bigint) AS total_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.95) AS p95_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source corpus profile: counts, exact char totals, length "
    "quantiles, language spread — one keyed agg, the first report any "
    "dataset card needs.",
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(28,0)"))
            .cast("bigint")
            .alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
            F.percentile("n_chars", F.lit(0.95)).alias("p95_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus unigram log-probability (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------
_UNIGRAM_LP_SQL = """
    WITH w AS (
      SELECT doc_id,
             list_filter(
               string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
               x -> x <> '') AS ws
      FROM documents
    ),
    tok AS (
      SELECT doc_id, ('0x' || substr(md5(wd), 1, 15))::BIGINT % 4096 AS b
      FROM (SELECT doc_id, unnest(ws) AS wd FROM w)
    ),
    counts AS (SELECT b, count(*) AS c FROM tok GROUP BY b),
    tot AS (SELECT cast(sum(c) as bigint) AS n FROM counts),
    lp AS (
      SELECT b,
             cast(floor(ln(cast(c + 1 as double) / cast(n + 4096 as double))
                        * 1000000 + 0.5) as bigint) AS lp
      FROM counts, tot
    )
    SELECT doc_id, count(*) AS n_tokens_lm,
           cast(sum(lp) as bigint) AS logprob_x1e6
    FROM tok JOIN lp USING (b)
    GROUP BY doc_id
    """


@workload(
    "text_unigram_logprob",
    _UNIGRAM_LP_SQL,
    doc="Per-document corpus unigram log-probability over hashed token "
    "buckets (CCNet-style perplexity-proxy fluency signal), in exact "
    "fixed-point bigint arithmetic; 4096-row LM table broadcast back "
    "onto the token stream.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import unigram_logprob

    d = load_tables(spark, sf_dir)["documents"]
    return unigram_logprob(d).select(
        F.col("id").alias("doc_id"), "n_tokens_lm", "logprob_x1e6"
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail fluency split: per SOURCE, rank documents by
# per-token unigram log-probability and cut into thirds — the exact
# mechanism CCNet (Wenzek et al. 2020) uses to stratify CommonCrawl by
# LM perplexity before choosing which stratum to train on. The ratio of
# two exact bigints (< 2^53) divides to the identical IEEE double in
# both engines, and (ratio, doc_id) totally orders, so ntile(3) is
# engine-reproducible.
# ---------------------------------------------------------------------------
@workload(
    "ccnet_fluency_buckets",
    f"""
    WITH base AS ({_UNIGRAM_LP_SQL}),
    ranked AS (
      SELECT d.source,
             ntile(3) OVER (PARTITION BY d.source ORDER BY
               cast(b.logprob_x1e6 as double) / cast(b.n_tokens_lm as double) DESC,
               b.doc_id) AS bucket,
             b.n_tokens_lm
      FROM base b JOIN documents d ON d.doc_id = b.doc_id
    )
    SELECT source,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS stratum,
           count(*) AS n_docs,
           CAST(sum(n_tokens_lm) AS BIGINT) AS sum_tokens
    FROM ranked
    GROUP BY source, bucket
    """,
    doc="CCNet-style head/middle/tail corpus stratification: per-source "
    "ntile(3) over per-token unigram log-probability (most fluent third "
    "= head), with per-stratum doc/token accounting. One keyed window + "
    "one keyed agg; the LM table is the broadcast 4096-bucket unigram "
    "model text_unigram_logprob already pins.",
)
def ccnet_fluency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.textops import unigram_logprob

    d = load_tables(spark, sf_dir)["documents"]
    # source rides the per-doc aggregation (functional on doc_id), so
    # the corpus-wide join back to documents is gone (r12, guide §2.4:
    # remove shuffles outright — was a full shuffle join on doc_id)
    joined = unigram_logprob(d, carry_cols=["source"]).select(
        F.col("id").alias("doc_id"), "source", "n_tokens_lm", "logprob_x1e6"
    )
    w = Window.partitionBy("source").orderBy(
        (
            F.col("logprob_x1e6").cast("double")
            / F.col("n_tokens_lm").cast("double")
        ).desc(),
        F.col("doc_id"),
    )
    return (
        joined.withColumn("bucket", F.ntile(3).over(w))
        .groupBy(
            "source",
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
            .alias("stratum"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_lm").cast("bigint").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer seed inventory (Kudo 2018, the seeding step):
# every substring up to length 4 of every corpus word, weighted by word
# frequency — the candidate-piece table a unigram-LM trainer's EM loop
# starts from. Sibling of bpe_pair_counts: both pin the one
# SQL-expressible stage of a tokenizer trainer with a full oracle; the
# engine carries no unigram EM trainer itself.
# ---------------------------------------------------------------------------
@workload(
    "unigram_seed_pieces",
    """
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split_regex(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        FROM documents
      ) t WHERE w <> '' GROUP BY w
    ),
    subs AS (
      SELECT unnest(flatten(list_transform(generate_series(1, length(w)),
               i -> list_transform(
                      generate_series(1, least(4, length(w) - i + 1)),
                      l -> substr(w, i, l))))) AS piece,
             n
      FROM words
    )
    SELECT piece, cnt, rnk FROM (
      SELECT piece, CAST(sum(n) AS BIGINT) AS cnt,
             row_number() OVER (ORDER BY sum(n) DESC, piece) AS rnk
      FROM subs GROUP BY piece
    ) t WHERE rnk <= 50
    """,
    doc="Unigram tokenizer step 1: weighted substring (piece) counts, "
    "top-50 seed candidates. The corpus collapses to its distinct-word "
    "table first, so the substring explosion is vocabulary-bounded, "
    "not corpus-bounded — at 100 TB the heavy explode runs on "
    "|vocab| rows.",
)
def unigram_seed_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.bpe import word_freq_table

    d = load_tables(spark, sf_dir)["documents"]
    words = word_freq_table(d).select("w", "n")
    w = F.col("w")
    subs = words.select(
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(w)),
                    lambda i: F.transform(
                        F.sequence(F.lit(1), F.least(F.lit(4), F.length(w) - i + 1)),
                        lambda ln: w.substr(i, ln),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("n").cast("bigint").alias("cnt"))
    rk = Window.orderBy(F.desc("cnt"), "piece")
    return (
        counts.withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") <= 50)
        .select("piece", "cnt", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-source corpus drift: KL(source || corpus) over hashed unigram
# buckets — the standard monitor for "this source's token distribution
# has drifted from the mixture" in a continuously-ingested training
# corpus. Same fixed-point recipe as text_unigram_logprob: ONE double
# rounding per (source, bucket) — floor(p * ln(p/q) * 1e9) with the
# identical IEEE op sequence in both engines — then exact integer sums,
# so the KL values hash-match bit-for-bit. Truncated KL: the sum runs
# over the source's OBSERVED buckets (both engines sum the same set);
# Laplace smoothing keeps every term finite.
# ---------------------------------------------------------------------------
_KL_BUCKETS = 4096


def _kl_oracle_sql() -> str:
    from ..operators.xhash import md5_hash60_sql

    return f"""
    WITH tok AS (
      SELECT source,
             {md5_hash60_sql("w")} % {_KL_BUCKETS} AS b
      FROM (
        SELECT source,
               unnest(string_split_regex(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        FROM documents
      ) t WHERE w <> ''
    ),
    sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c_sb
           FROM tok GROUP BY source, b),
    st AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s
           FROM sb GROUP BY source),
    bt AS (SELECT b, CAST(sum(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY b),
    nt AS (SELECT CAST(sum(c_b) AS BIGINT) AS n FROM bt)
    SELECT sb.source, max(st.n_s) AS n_tokens,
           CAST(sum(CAST(floor(
             ((c_sb + 1)::DOUBLE / (n_s + {_KL_BUCKETS})::DOUBLE)
             * ln(((c_sb + 1)::DOUBLE / (n_s + {_KL_BUCKETS})::DOUBLE)
                  / ((c_b + 1)::DOUBLE / (n + {_KL_BUCKETS})::DOUBLE))
             * 1e9) AS BIGINT)) AS BIGINT) AS kl_x1e9
    FROM sb JOIN st USING (source) JOIN bt USING (b) CROSS JOIN nt
    GROUP BY sb.source
    """


@workload(
    "corpus_kl_drift",
    _kl_oracle_sql(),
    doc="KL(source || corpus) drift monitor over 4096 hashed unigram "
    "buckets, fixed-point (one rounding per source-bucket term, exact "
    "bigint sums). Scale shape: map-side explode, two bounded "
    "aggregations (<= |sources| x buckets rows), 1-row corpus total "
    "broadcast — no shuffle grows with corpus size.",
)
def corpus_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import words

    B = _KL_BUCKETS
    d = load_tables(spark, sf_dir)["documents"]
    from ..operators.xhash import md5_hash60

    tok = (
        d.select("source", F.explode(words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .select("source", (md5_hash60(F.col("w")) % B).alias("b"))
    )
    sb = tok.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_sb")
    )
    st = sb.groupBy("source").agg(F.sum("c_sb").cast("bigint").alias("n_s"))
    bt = sb.groupBy("b").agg(F.sum("c_sb").cast("bigint").alias("c_b"))
    nt = bt.agg(F.sum("c_b").cast("bigint").alias("n"))
    p = (F.col("c_sb") + 1).cast("double") / (F.col("n_s") + B).cast("double")
    q = (F.col("c_b") + 1).cast("double") / (F.col("n") + B).cast("double")
    term = F.floor(p * F.log(p / q) * F.lit(1e9))
    return (
        sb.join(st, "source")
        .join(bt, "b")
        .crossJoin(F.broadcast(nt))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum(term).cast("bigint").alias("kl_x1e9"),
        )
    )


@workload(
    "zipf_slope_top100",
    f"""
    WITH {_WS_CTE},
    counts AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w
    ),
    ranked AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      FROM (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM counts
      ) WHERE rank <= 100
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM ranked
    )
    SELECT n_terms,
           CAST(floor(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                      / CAST(n_terms * sxx - sx * sx AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS slope_x1e6
    FROM s
    """,
    doc="Zipf slope of the top-100 rank-frequency curve — the one-number "
    "corpus-health signal (natural text ~ -1; template/spam floods bend "
    "it). Exact cross-engine regression: ln(rank)/ln(freq) fixed-point "
    "quantized once, OLS numerator/denominator as exact BIGINT sums, a "
    "single IEEE division at the end — no double is ever summed.",
)
def zipf_slope_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import zipf_slope

    d = load_tables(spark, sf_dir)["documents"]
    return zipf_slope(d, top_n=100)


# ---------------------------------------------------------------------------
# BPE train -> encode -> corpus token statistics: the tokenizer-APPLY
# path (bpe_encode_expr), previously pytest-pinned only, under a full
# driver oracle. The oracle UNROLLS the 8 training rounds as generated
# CTE blocks (the kmeans/pca discipline): symbols live in a
# '|sym||sym||sym|' delimited string, and one merge round is ONE
# non-overlapping left-to-right replace('|a||b|' -> '|ab|') — which is
# exactly the engine's carry-based greedy-left fold (the shared '||'
# separator donates one '|' to the match on each side, so adjacent
# merge sites chain and partial-symbol matches are boundary-blocked).
# Argmax tie-break (cnt DESC, a, b) matches bpe_train's orderBy.
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 8
# Oracle pair-scan bound: the unrolled training CTEs scan candidate
# pair positions with range(1, _BPE_MAX_SYMS), so a word whose initial
# symbol count (length + EOW) reaches the bound would have pairs the
# engine counts but the oracle's scan misses — bpe_encode_stats RAISES
# past it (one scalar max-length agg) instead of silently diverging.
_BPE_MAX_SYMS = 512


def _bpe_encode_sql(n_merges: int) -> str:
    ws = (
        "list_filter(string_split(trim(regexp_replace(lower(text), "
        "'[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
    )
    blocks = [
        f"""
    WITH tok AS (
      SELECT source, wd AS w
      FROM (SELECT source, unnest({ws}) AS wd FROM documents) u
      WHERE wd <> ''
    ),
    wf AS (SELECT source, w, count(*) AS n FROM tok GROUP BY source, w),
    dw AS (SELECT w, cast(sum(n) as bigint) AS n_tot FROM wf GROUP BY w),
    v0 AS (
      SELECT w, n_tot,
             '|' || array_to_string(
               list_append(list_transform(range(1, length(w) + 1),
                                          i -> w[i]), '▁'),
               '||') || '|' AS s
      FROM dw
    )"""
    ]
    for r in range(1, n_merges + 1):
        blocks.append(
            f"""p{r} AS (
      SELECT a, b, cast(sum(n_tot) as bigint) AS cnt FROM (
        SELECT t.n_tot, t.l[ri.i] AS a, t.l[ri.i + 1] AS b
        FROM (SELECT n_tot, string_split(trim(s, '|'), '||') AS l
              FROM v{r - 1}) t
        CROSS JOIN range(1, {_BPE_MAX_SYMS}) ri(i)
        WHERE ri.i < len(t.l)
      ) q GROUP BY a, b
    ),
    m{r} AS (SELECT a, b FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    v{r} AS (
      SELECT v.w, v.n_tot,
             replace(v.s, '|' || m.a || '||' || m.b || '|',
                     '|' || m.a || m.b || '|') AS s
      FROM v{r - 1} v, m{r} m
    )"""
        )
    blocks.append(
        f"""enc AS (
      SELECT w, cast(len(string_split(trim(s, '|'), '||')) as bigint)
               AS n_toks
      FROM v{n_merges}
    ),
    agg AS (
      SELECT wf.source,
             cast(sum(wf.n) as bigint) AS n_words,
             cast(sum(wf.n * enc.n_toks) as bigint) AS n_tokens,
             cast(count(*) as bigint) AS n_distinct_words
      FROM wf JOIN enc USING (w) GROUP BY wf.source
    )
    SELECT source, n_words, n_tokens, n_distinct_words,
           cast(floor(cast(n_tokens as double) * 1000000.0
                      / cast(n_words as double)) as bigint)
             AS tokens_per_word_x1e6
    FROM agg"""
    )
    sql = ",\n    ".join(blocks)
    # DuckDB inlines single-reference CTEs; each round references the
    # previous one twice, so the plain form re-expands the whole chain
    # exponentially (measured 4.9s -> 0.06s at sf0.01). Materialize.
    return sql.replace(" AS (\n", " AS MATERIALIZED (\n")


def _trained_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train-once cache: the 8-merge table persists under a
    content+source-keyed root (helpers.persisted_state_root — testdata
    regeneration or a bpe.py change invalidates it), so the oracle
    gate and warm bench runs skip the 8 sequential training rounds."""
    import inspect
    import json
    import os

    from ..operators import bpe as _bpe
    from ..operators import dedup as _dedup
    from .helpers import persisted_state_root

    # the trained merges depend on the tokenizer NORMALIZATION
    # (dedup.words/normalized_text feed the word frequencies), not just
    # bpe.py — key the cache on both sources so a normalization change
    # retrains instead of silently reusing stale merges while the
    # oracle retrains with the new split
    root = persisted_state_root(
        sf_dir,
        ("documents",),
        inspect.getsource(_bpe)
        + inspect.getsource(_dedup.normalized_text)
        + inspect.getsource(_dedup.words)
        + f"n={_BPE_N_MERGES}",
        "etl_lealone_bpewl",
    )
    path = os.path.join(root, "merges.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(m) for m in json.load(f)]
    d = load_tables(spark, sf_dir)["documents"]
    # checkpoint_every=1: the per-round merge fold otherwise nests in
    # the vocab lineage and expression compilation dominates (vocab is
    # vocabulary-sized — the checkpoint jobs are trivial)
    merges = _bpe.bpe_train(d, n_merges=_BPE_N_MERGES, checkpoint_every=1)
    os.makedirs(root, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(merges, f)
    os.replace(tmp, path)
    return merges


@workload(
    "bpe_encode_stats",
    _bpe_encode_sql(_BPE_N_MERGES),
    doc="BPE tokenizer applied at corpus scale: train 8 merges "
    "(deterministic argmax, exact weighted counts), encode the "
    "DISTINCT-word vocabulary once (codegen merge folds — the corpus "
    "itself is never re-tokenized), join the per-word token counts "
    "back onto the (source, word) frequencies, report per-source "
    "token budgets and compression. The oracle retrains bit-identically "
    "via 8 unrolled delimited-string replace rounds.",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_udf
    from ..operators.dedup import words as _words

    d = load_tables(spark, sf_dir)["documents"]
    max_len = (
        d.select(
            F.array_max(F.transform(_words(F.col("text")), F.length)).alias(
                "ml"
            )
        )
        .agg(F.max("ml").alias("ml"))
        .collect()[0]["ml"]
        or 0
    )
    if max_len + 1 >= _BPE_MAX_SYMS:
        raise ValueError(
            f"word of {max_len} chars (+EOW) reaches the oracle pair-scan "
            f"bound _BPE_MAX_SYMS={_BPE_MAX_SYMS}; training would count "
            f"pairs the unrolled oracle cannot see"
        )
    merges = _trained_merges(spark, sf_dir)
    if len(merges) < _BPE_N_MERGES:
        raise ValueError(
            f"corpus exhausted pairs after {len(merges)} merges; the "
            f"{_BPE_N_MERGES}-round oracle would diverge"
        )
    wf = (
        d.select("source", F.explode(_words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    enc = wf.select("w").distinct().select(
        "w",
        F.size(bpe_encode_udf(merges)(F.col("w")))
        .cast("bigint")
        .alias("n_toks"),
    )
    agg = (
        wf.join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_toks")).cast("bigint").alias(
                "n_tokens"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_tokens",
        "n_distinct_words",
        F.floor(
            F.col("n_tokens").cast("double")
            * 1000000.0
            / F.col("n_words").cast("double")
        )
        .cast("bigint")
        .alias("tokens_per_word_x1e6"),
    ).orderBy("source")
