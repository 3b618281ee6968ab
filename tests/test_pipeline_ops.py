"""Tests for operators/pipeline.py (corpus-hygiene operators) and the
embedding preprocessing ops, on crafted inputs where the synthetic corpus
is trivial (PII, URLs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_lealone_spark.operators.pipeline import (
    chunk_by_tokens,
    contamination_hits,
    decontaminate,
    extract_urls,
    pii_redact,
    repetition_signals,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------
def test_repetition_signals_values(spark):
    d = _docs(
        spark,
        [
            (1, "a b a b a b"),            # heavy bigram repetition
            (2, "one two three four five"),  # no repetition
            (3, "x"),                        # single token: no bigrams
        ],
    )
    out = {
        r["doc_id"]: r
        for r in repetition_signals(d).select(
            "doc_id", "n_words", "word_rep_ratio", "top_bigram_frac", "dup_trigram_frac"
        ).collect()
    }
    # doc1: 6 words, 2 distinct -> rep ratio 4/6; bigrams: [ab,ba,ab,ba,ab]
    # top 'a b' x3 of 5; trigrams: [aba,bab,aba,bab] -> 2 dup slots of 4
    assert abs(out[1]["word_rep_ratio"] - 4 / 6) < 1e-6
    assert abs(out[1]["top_bigram_frac"] - 3 / 5) < 1e-6
    assert abs(out[1]["dup_trigram_frac"] - 0.5) < 1e-6
    assert out[2]["word_rep_ratio"] == 0.0
    assert out[2]["top_bigram_frac"] == 0.25  # each of 4 bigrams once
    assert out[3]["n_words"] == 1
    assert out[3]["top_bigram_frac"] == 0.0  # no bigrams -> coalesce(0)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
def test_pii_redact_classes_and_order(spark):
    d = _docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +14155550123 or 555-867-5309 today"),
            (3, "host 192.168.1.254 up"),
            (4, "clean text with no pii at all"),
            (5, "multi a@b.io c@d.io 10.0.0.1"),
        ],
    )
    out = {r["doc_id"]: r for r in pii_redact(d).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> now"
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 0, 0)
    assert out[2]["clean_text"] == "call <PHONE> or <PHONE> today"
    assert out[2]["n_phones"] == 2
    assert out[3]["clean_text"] == "host <IP> up"
    assert out[4]["clean_text"] == out[4]["text"]
    assert (out[5]["n_emails"], out[5]["n_ips"]) == (2, 1)


def test_pii_ip_not_eaten_by_phone(spark):
    # dotted quad must survive the phone pass and be tagged <IP>
    d = _docs(spark, [(1, "ip 10.20.30.40 and phone +123456789")])
    r = pii_redact(d).collect()[0]
    assert r["clean_text"] == "ip <IP> and phone <PHONE>"


# ---------------------------------------------------------------------------
# URL extraction + normalization
# ---------------------------------------------------------------------------
def test_extract_urls_normalizes(spark):
    d = _docs(
        spark,
        [
            (1, "see https://WWW.Example.COM/Path/To?q=1. done"),
            (2, "a http://example.com/ b http://example.com c"),
            (3, "no urls here"),
        ],
    )
    rows = [(r["doc_id"], r["url"]) for r in extract_urls(d).collect()]
    assert (1, "example.com/path/to?q=1") in rows
    # trailing slash and none normalize to the same canonical url
    assert rows.count((2, "example.com")) == 2
    assert all(r[0] != 3 for r in rows)


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------
def test_chunk_by_tokens_windows(spark):
    text = " ".join(f"w{i}" for i in range(50))
    d = _docs(spark, [(1, text), (2, "short doc")])
    out = chunk_by_tokens(d, chunk_tokens=32, overlap=8)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    )
    # doc1: ceil((50-8)/24)=2 chunks: [w0..w31], [w24..w49]
    assert [(r[0], r[1], r[2]) for r in rows] == [(1, 0, 32), (1, 1, 26), (2, 0, 2)]
    assert rows[0][3].startswith("w0 w1 ") and rows[0][3].endswith(" w31")
    assert rows[1][3].startswith("w24 ") and rows[1][3].endswith(" w49")
    # overlap: last 8 tokens of chunk 0 == first 8 of chunk 1
    assert rows[0][3].split()[-8:] == rows[1][3].split()[:8]


def test_chunk_rejects_bad_overlap(spark):
    import pytest

    d = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        chunk_by_tokens(d, chunk_tokens=8, overlap=8)


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------
def test_decontaminate_ngram_overlap(spark):
    eval_df = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    train = _docs(
        spark,
        [
            (1, "xx the quick brown fox jumps yy"),   # shares a 5-gram
            (2, "quick brown fox is not five grams"),  # longest shared run = 3
            (3, "completely different content here now"),
        ],
    )
    hits = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in contamination_hits(train, eval_df, ngram=5).collect()
    }
    assert 1 in hits and 2 not in hits and 3 not in hits
    clean = sorted(r["doc_id"] for r in decontaminate(train, eval_df).collect())
    assert clean == [2, 3]


# ---------------------------------------------------------------------------
# embedding preprocessing
# ---------------------------------------------------------------------------
def test_quantize_int8_roundtrip(spark):
    from etl_lealone_spark.operators.similarity import (
        quantize_int8,
        quantize_int8_scale,
    )

    d = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0])], "vec_id long, embedding array<float>"
    )
    r = d.select(
        quantize_int8(F.col("embedding")).alias("q"),
        quantize_int8_scale(F.col("embedding")).alias("s"),
    ).collect()[0]
    assert r["q"] == [64, -127, 32, 0]  # round(x*127/max|x|)
    assert max(abs(v) for v in r["q"]) == 127
    # dequantized values recover originals within one scale step
    for orig, code in zip([0.5, -1.0, 0.25, 0.0], r["q"]):
        assert abs(code * r["s"] - orig) <= r["s"] / 2 + 1e-9


def test_train_order_shards_deterministic_permutation(spark):
    from etl_lealone_spark.operators.pipeline import train_order_shards

    d = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = train_order_shards(d, n_shards=8, seed="epoch0").collect()
    assert len(out) == 200
    # every doc appears once; pos is 1..count within each shard
    assert sorted(r["doc_id"] for r in out) == list(range(200))
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic: same seed → same permutation; new seed → different
    again = train_order_shards(d, n_shards=8, seed="epoch0").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    other = train_order_shards(d, n_shards=8, seed="epoch1").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_shard_balance_stats_totals(spark):
    from etl_lealone_spark.operators.pipeline import shard_balance_stats

    d = spark.createDataFrame(
        [(i, "one two three") for i in range(64)], "doc_id long, text string"
    )
    out = shard_balance_stats(d, n_shards=4, seed="s").collect()
    assert sum(r["n_docs"] for r in out) == 64
    assert sum(r["n_tokens"] for r in out) == 64 * 3
    assert {r["shard_id"] for r in out} <= set(range(4))


def test_duplicated_ngram_spans_merges_intervals(spark):
    from etl_lealone_spark.operators.pipeline import duplicated_ngram_spans

    shared = "a b c d e f g h i j"  # 10 words → every 8-gram duplicated
    rows = [
        (1, shared + " unique tail one two three"),
        (2, "prefix words here " + shared),
        (3, "totally different text with no overlap at all whatsoever"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["span_start"], r["span_len"])
           for r in duplicated_ngram_spans(d, n=8).collect()}
    # doc1: positions 0..2 start dup 8-grams → covered words 0..9
    assert out[1] == (0, 10)
    # doc2: shared block starts at word 3 → covered words 3..12
    assert out[2] == (3, 10)
    assert 3 not in out


def test_semantic_dedup_survivors_keeps_min_per_cluster(spark):
    from etl_lealone_spark.operators.similarity import semantic_dedup_survivors

    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [0.99, 0.14, 0.0, 0.0]),   # near-dup of 1
        (3, 0, [0.0, 1.0, 0.0, 0.0]),     # distinct direction
        (4, 1, [1.0, 0.0, 0.0, 0.0]),     # same vector, different block → kept
        (5, 1, [0.97, 0.24, 0.0, 0.0]),   # near-dup of 4 within block
    ]
    d = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = sorted(r["vec_id"] for r in
                 semantic_dedup_survivors(d, threshold=0.9).collect())
    assert out == [1, 3, 4]


def test_dup_span_doc_stats_coverage(spark):
    from etl_lealone_spark.operators.pipeline import dup_span_doc_stats

    shared = "a b c d e f g h i j"  # 10 words
    rows = [
        (1, shared),                                   # fully covered
        (2, "x y z " + shared + " p q r"),             # 10 of 16 covered
        (3, "nothing here matches any other document at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dup_span_doc_stats(d, n=8).collect()}
    assert out[1]["dup_tokens"] == 10 and out[1]["dup_frac"] == 1.0
    assert out[2]["n_words"] == 16 and out[2]["dup_tokens"] == 10
    assert abs(out[2]["dup_frac"] - 0.625) < 1e-9
    assert out[3]["dup_tokens"] == 0 and out[3]["dup_frac"] == 0.0


def test_winnow_fingerprints_shared_run_guarantee(spark):
    from etl_lealone_spark.operators.pipeline import winnow_fingerprints

    # docs share a run of w + k - 1 = 8 words -> must share a fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "one two three " + shared),
        (2, shared + " four five six"),
        (3, "entirely different words with no common runs anywhere at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fps: dict[int, set] = {1: set(), 2: set(), 3: set()}
    for r in winnow_fingerprints(d, k=5, w=4).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2]          # MOSS guarantee
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------
def test_dsir_log_weights_orders_target_like_docs(spark):
    from etl_lealone_spark.operators.pipeline import dsir_log_weights

    rows = [
        # target slice: physics-y vocabulary
        (1, "quantum field theory of the electron", 1),
        (2, "electron spin and quantum states", 1),
        # raw corpus: one target-like doc, one off-distribution doc
        (10, "quantum electron theory", 0),
        (11, "banana smoothie recipe with mango", 0),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, is_t int")
    out = {
        r["id"]: r
        for r in dsir_log_weights(
            d, F.col("is_t") == 1, buckets=64
        ).collect()
    }
    assert set(out) == {10, 11}  # target rows are never scored
    assert out[10]["n_scored_tokens"] == 3
    # the target-like doc must outscore the off-distribution doc
    assert out[10]["log_weight_x1e6"] > out[11]["log_weight_x1e6"]
    # target-like tokens all appear in the target slice -> positive lr sum
    assert out[10]["log_weight_x1e6"] > 0


def test_dsir_log_weights_deterministic_across_partitionings(spark):
    from etl_lealone_spark.operators.pipeline import dsir_log_weights

    rows = [(i, f"tok{i % 7} tok{i % 3} shared word", int(i % 5 == 0)) for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, text string, is_t int")
    a = sorted(
        dsir_log_weights(d.coalesce(1), F.col("is_t") == 1).collect()
    )
    b = sorted(
        dsir_log_weights(d.repartition(7), F.col("is_t") == 1).collect()
    )
    assert a == b  # bigint fixed-point sum is partition-order independent


# ---------------------------------------------------------------------------
# deterministic hash split
# ---------------------------------------------------------------------------
def test_hash_split_fractions_and_stability(spark):
    from etl_lealone_spark.operators.pipeline import hash_split

    d = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["n"]
        for r in hash_split(d).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.96) < 0.01
    assert abs(counts["val"] / 20000 - 0.02) < 0.005

    # leakage guarantee: a document's split never changes when the corpus
    # shrinks/grows — the subset assignment equals the full-corpus one
    sub = hash_split(d.filter(F.col("doc_id") < 100)).collect()
    full = {
        r["doc_id"]: r["split"]
        for r in hash_split(d).filter(F.col("doc_id") < 100).collect()
    }
    assert all(full[r["doc_id"]] == r["split"] for r in sub)


def test_hash_split_seed_changes_assignment(spark):
    from etl_lealone_spark.operators.pipeline import hash_split

    d = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(d, seed="s1").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(d, seed="s2").collect()}
    assert any(a[k] != b[k] for k in a)  # different epoch seeds re-deal
