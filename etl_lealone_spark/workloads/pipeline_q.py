"""Training-data pipeline workloads: repetition signals, PII redaction,
URL normalization, token chunking, decontamination, embedding prep.

PII/URL corpora note: the synthetic documents table contains no natural
emails/URLs, so those two workloads *derive* a text column carrying
deterministic planted PII/URLs from (source, doc_id) — identically in
both engines — then run the real operator over it. The oracle therefore
checks the full transform on non-trivial input, not an empty identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import (
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    URL_PATTERN,
    chunk_by_tokens,
    contamination_hits,
    extract_urls,
    pii_redact,
    repetition_signals,
)
from ..tables import load_tables
from . import workload

_WS = "[ \\t\\n]+"


# ---------------------------------------------------------------------------
# repetition signals (Gopher A1.2)
# ---------------------------------------------------------------------------
@workload(
    "text_repetition_signals",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, ws, cast(len(ws) as int) AS n_words,
             [ws[i+1] || ' ' || ws[i+2] for i in range(greatest(len(ws)-1, 0))] AS bgs,
             [ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
              for i in range(greatest(len(ws)-2, 0))] AS tgs
      FROM w
    )
    SELECT doc_id, n_words,
           round(1.0 - cast(len(list_distinct(ws)) as double)
                 / greatest(n_words, 1), 6) AS word_rep_ratio,
           round(cast(coalesce(list_max(list_transform(list_distinct(bgs),
                     d -> len(list_filter(bgs, x -> x = d)))), 0) as double)
                 / greatest(len(bgs), 1), 6) AS top_bigram_frac,
           round(cast(len(tgs) - len(list_distinct(tgs)) as double)
                 / greatest(len(tgs), 1), 6) AS dup_trigram_frac
    FROM g
    """,
    doc="Gopher-style repetition quality signals (word/bigram/trigram "
    "repetition fractions) — map-only in-row array math.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return repetition_signals(d).select(
        "doc_id", "n_words", "word_rep_ratio", "top_bigram_frac", "dup_trigram_frac"
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
_PLANT_SQL = (
    "text || ' Contact ' || source || cast(doc_id as varchar) || "
    "'@example.com or +14155550' || cast(doc_id % 100 as varchar) || "
    "' at 10.0.0.' || cast(doc_id % 256 as varchar) || ' ref 555-867-5309'"
)


def _planted(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact "),
            F.col("source"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +14155550"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" ref 555-867-5309"),
        ).alias("text"),
    )


@workload(
    "pii_redaction",
    f"""
    WITH planted AS (
      SELECT doc_id, {_PLANT_SQL} AS t FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             cast(len(regexp_extract_all(t, '{PII_EMAIL}')) as int) AS n_emails,
             regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t
      FROM planted
    ),
    s2 AS (
      SELECT doc_id, n_emails,
             cast(len(regexp_extract_all(t, '{PII_PHONE}')) as int) AS n_phones,
             regexp_replace(t, '{PII_PHONE}', '<PHONE>', 'g') AS t
      FROM s1
    )
    SELECT doc_id, n_emails, n_phones,
           cast(len(regexp_extract_all(t, '{PII_IPV4}')) as int) AS n_ips,
           regexp_replace(t, '{PII_IPV4}', '<IP>', 'g') AS clean_text
    FROM s2
    """,
    doc="Email/phone/IPv4 redaction with per-class counts over planted "
    "deterministic PII — three engine-neutral regexp passes, map-only.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _planted(load_tables(spark, sf_dir)["documents"])
    return pii_redact(d).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "clean_text"
    )


# ---------------------------------------------------------------------------
# URL extraction + normalization
# ---------------------------------------------------------------------------
_URL_PLANT_SQL = (
    "'see http://www.' || source || '.Example.com/Doc/' || "
    "cast(doc_id as varchar) || '?x=1 plus https://Mirror.example.org/' || "
    "source || '/' || cast(doc_id % 7 as varchar) || '.'"
)


@workload(
    "url_extract_normalize",
    f"""
    WITH planted AS (
      SELECT doc_id, {_URL_PLANT_SQL} AS t FROM documents
    ),
    raw AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '{URL_PATTERN}')) AS raw_url
      FROM planted
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(lower(raw_url),
               '^https?://(www\\.)?', ''), '[/.,);:!?]+$', '') AS url
    FROM raw
    """,
    doc="URL mention extraction + canonicalization (scheme/www/trailing-"
    "punct stripped, lowercased) — the key web pipelines dedup pages on.",
)
def url_extract_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        F.concat(
            F.lit("see http://www."),
            F.col("source"),
            F.lit(".Example.com/Doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?x=1 plus https://Mirror.example.org/"),
            F.col("source"),
            F.lit("/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("."),
        ).alias("text"),
    )
    return extract_urls(d)


# ---------------------------------------------------------------------------
# token-window chunking
# ---------------------------------------------------------------------------
@workload(
    "chunk_token_windows",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS ws FROM documents
    ),
    c AS (
      SELECT doc_id, ws,
             unnest(range(0, greatest(cast(ceil((len(ws) - 8) / 24.0) as int), 1)))
               AS chunk_id
      FROM w
    )
    SELECT doc_id, cast(chunk_id as int) AS chunk_id,
           cast(len(ws[chunk_id*24+1 : chunk_id*24+32]) as int) AS n_chunk_tokens,
           array_to_string(ws[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text
    FROM c
    """,
    doc="Overlapping 32-token windows (8-token overlap) — the "
    "context-window chunking step before tokenization; map-only explode.",
)
def chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    out = chunk_by_tokens(d, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "n_chunk_tokens",
        "chunk_text",
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------
@workload(
    "decontaminate_ngrams",
    f"""
    WITH w AS (
      SELECT doc_id, source, string_split_regex(trim(text), '{_WS}') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(ws[i+1:i+5], ' ')
                            for i in range(greatest(len(ws)-4, 0))]) AS gs
      FROM w
    ),
    ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE source = 'src0'),
    tr AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE source <> 'src0')
    SELECT tr.doc_id, count(*) AS n_contaminated_ngrams
    FROM tr JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    """,
    doc="GPT-3-style 5-gram decontamination: train docs sharing any word "
    "5-gram with the eval slice (source='src0'); n-gram hash join, no "
    "pairwise stage.",
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    ev = d.filter(F.col("source") == "src0")
    tr = d.filter(F.col("source") != "src0")
    return contamination_hits(tr, ev, ngram=5)


# ---------------------------------------------------------------------------
# embedding preprocessing
# ---------------------------------------------------------------------------
@workload(
    "embedding_l2_normalize",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             cast(list_sum(list_transform(v, x -> x * x)) as bigint) AS norm_sq
      FROM q
    )
    SELECT vec_id,
           norm_sq,
           md5(array_to_string(list_transform(v,
             x -> cast(floor(cast(x as double) / sqrt(cast(norm_sq as double))
                  * 1000000.0 + 0.5) as bigint)), ',')) AS vnorm_md5
    FROM n
    """,
    doc="Unit-L2 normalization (turns cosine ANN into plain dot products); "
    "integer-quantized norm for cross-engine determinism, map-only. "
    "Driver-facing output md5s the 1e-6-quantized unit vector (xhash "
    "rule: no raw array cells) and adds the exact integer squared norm.",
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import int_dot, quantize

    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select(
        "vec_id", quantize(F.col("embedding")).alias("v")
    ).select("vec_id", "v", int_dot(F.col("v"), F.col("v")).cast("bigint").alias("norm_sq"))
    return q.select(
        "vec_id",
        "norm_sq",
        F.md5(
            F.array_join(
                F.transform(
                    "v",
                    lambda x: F.floor(
                        x.cast("double")
                        / F.sqrt(F.col("norm_sq").cast("double"))
                        * 1000000.0
                        + F.lit(0.5)
                    )
                    .cast("bigint")
                    .cast("string"),
                ),
                ",",
            )
        ).alias("vnorm_md5"),
    )


@workload(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM q
    )
    SELECT vec_id,
           md5(array_to_string(list_transform(v, x -> cast(floor(
             cast(x as double) * 127.0 / cast(mx as double) + 0.5) as int)),
             ',')) AS qvec_md5,
           round(cast(mx as double) / 1000000.0 / 127.0, 6) AS scale_q
    FROM m
    """,
    doc="Symmetric per-vector int8 quantization (4B→1B per component) with "
    "dequantization scale — the vector-store storage trade, map-only. "
    "The driver-facing output md5s the int8 vector (repo xhash rule: "
    "never emit raw array cells to the comparator); the raw-array "
    "operator is pinned by pytest (tests/test_similarity.py).",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8, quantize_int8_scale

    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select(
        "vec_id",
        quantize_int8(F.col("embedding")).alias("qvec"),
        quantize_int8_scale(F.col("embedding")).alias("scale_q"),
    )
    return q.select(
        "vec_id",
        F.md5(
            F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",")
        ).alias("qvec_md5"),
        "scale_q",
    )


# ---------------------------------------------------------------------------
# deterministic training-order sharding
# ---------------------------------------------------------------------------
_SHARD_SQL = (
    "cast(('0x' || substr(md5('epoch0:shard:' || cast(doc_id as varchar)), 1, 15))"
    "::BIGINT % 64 as int)"
)


@workload(
    "train_order_shards",
    f"""
    WITH k AS (
      SELECT doc_id,
             {_SHARD_SQL} AS shard_id,
             md5('epoch0:order:' || cast(doc_id as varchar)) AS okey
      FROM documents
    )
    SELECT doc_id, shard_id,
           cast(row_number() OVER (PARTITION BY shard_id
                                   ORDER BY okey, doc_id) as bigint) AS pos
    FROM k
    """,
    doc="Seeded two-level global shuffle for training order: md5 shard "
    "assignment + independent md5 within-shard order — deterministic, "
    "resumable, never SinglePartition.",
)
def train_order_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import train_order_shards

    d = load_tables(spark, sf_dir)["documents"]
    return train_order_shards(d, n_shards=64, seed="epoch0")


@workload(
    "shard_balance_stats",
    f"""
    SELECT {_SHARD_SQL} AS shard_id,
           count(*) AS n_docs,
           cast(sum(cast(len(string_split_regex(trim(text), '{_WS}'))
             as bigint)) as bigint) AS n_tokens
    FROM documents
    GROUP BY 1
    """,
    doc="Per-shard doc/token totals for the seeded shard layout — the "
    "balance check before writing training shards; exact integer sums.",
)
def shard_balance_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import shard_balance_stats

    d = load_tables(spark, sf_dir)["documents"]
    return shard_balance_stats(d, n_shards=64, seed="epoch0")


# ---------------------------------------------------------------------------
# exact duplicated-substring spans
# ---------------------------------------------------------------------------
_NORM_WS_SQL = (
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
)


@workload(
    "dup_ngram_spans",
    f"""
    WITH toks AS (
      SELECT doc_id AS id, {_NORM_WS_SQL} AS ws FROM documents
    ),
    g AS (
      SELECT id, cast(i as int) AS pos,
             ('0x' || substr(md5(array_to_string(ws[i+1:i+8], ' ')), 1, 15))::BIGINT
               AS gh
      FROM toks, unnest(range(0, greatest(len(ws) - 7, 0))) AS t(i)
    ),
    dup_grams AS (
      SELECT gh FROM (SELECT gh, count(DISTINCT id) AS nd FROM g GROUP BY gh) x
      WHERE nd >= 2
    ),
    dup AS (SELECT g.id, g.pos FROM g JOIN dup_grams USING (gh)),
    isl AS (
      SELECT id, pos,
             CASE WHEN max(pos + 7) OVER w IS NULL
                    OR pos > max(pos + 7) OVER w + 1
                  THEN 1 ELSE 0 END AS brk
      FROM dup
      WINDOW w AS (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
      SELECT id, pos,
             sum(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT id AS doc_id,
           cast(min(pos) as int) AS span_start,
           cast(max(pos) + 7 - min(pos) + 1 as int) AS span_len
    FROM grp GROUP BY id, island
    """,
    doc="Word-level exact-substring dedup (Lee et al. 2021): maximal "
    "spans covered by 8-grams occurring in >=2 documents; gram-hash "
    "groupBy + per-doc interval merge, no suffix array, no pairwise stage.",
)
def dup_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import duplicated_ngram_spans

    d = load_tables(spark, sf_dir)["documents"]
    return duplicated_ngram_spans(d, n=8)


def _gram_cte(n: int) -> str:
    """toks/g CTE body: (id, pos, gh) word n-gram hash table, matching
    operators.pipeline.gram_hash_frame bit-for-bit."""
    return f"""
    toks AS (
      SELECT doc_id AS id, {_NORM_WS_SQL} AS ws FROM documents
    ),
    g AS (
      SELECT id, cast(i as int) AS pos,
             ('0x' || substr(md5(array_to_string(ws[i+1:i+{n}], ' ')), 1, 15))::BIGINT
               AS gh
      FROM toks, unnest(range(0, greatest(len(ws) - {n - 1}, 0))) AS t(i)
    )"""


@workload(
    "dup_span_doc_stats",
    f"""
    WITH {_gram_cte(8)},
    dup_grams AS (
      SELECT gh FROM (SELECT gh, count(DISTINCT id) AS nd FROM g GROUP BY gh) x
      WHERE nd >= 2
    ),
    dup AS (SELECT g.id, g.pos FROM g JOIN dup_grams USING (gh)),
    isl AS (
      SELECT id, pos,
             CASE WHEN max(pos + 7) OVER w IS NULL
                    OR pos > max(pos + 7) OVER w + 1
                  THEN 1 ELSE 0 END AS brk
      FROM dup
      WINDOW w AS (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
      SELECT id, pos,
             sum(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    spans AS (
      SELECT id, cast(max(pos) + 7 - min(pos) + 1 as bigint) AS span_len
      FROM grp GROUP BY id, island
    ),
    per_doc AS (SELECT id, sum(span_len) AS dup_tokens FROM spans GROUP BY id)
    SELECT t.id AS doc_id,
           cast(len(t.ws) as bigint) AS n_words,
           cast(coalesce(p.dup_tokens, 0) as bigint) AS dup_tokens,
           round(cast(coalesce(p.dup_tokens, 0) as double)
                 / cast(greatest(len(t.ws), 1) as double), 6) AS dup_frac
    FROM toks t LEFT JOIN per_doc p USING (id)
    """,
    doc="Per-document duplicated-token coverage — the drop-gate applied "
    "after exact-substring span detection (documents over a coverage "
    "threshold are removed wholesale).",
)
def dup_span_doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import dup_span_doc_stats

    d = load_tables(spark, sf_dir)["documents"]
    return dup_span_doc_stats(d, n=8)


@workload(
    "winnow_fingerprints",
    f"""
    WITH {_gram_cte(5)},
    m AS (
      SELECT id, pos,
             min(gh) OVER (PARTITION BY id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM g
    )
    SELECT DISTINCT id AS doc_id, fp FROM m WHERE pos >= 3
    """,
    doc="Winnowing fingerprints (Schleimer et al. 2003): min 5-gram hash "
    "per 4-window, distinct — any shared run of >= 8 words between two "
    "documents shares a fingerprint while storing ~2/(w+1) of the grams.",
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import winnow_fingerprints

    d = load_tables(spark, sf_dir)["documents"]
    return winnow_fingerprints(d, k=5, w=4)
