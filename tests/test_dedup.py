"""Dedup operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lealone_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_keep_ids,
    minhash_lsh_pairs,
    ngram_jaccard_pairs_blocked,
    simhash_pairs,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the tall green hills and the river flows gently to the sea"
)
NEAR = BASE.replace("green", "blue")  # one-word change → high jaccard
FAR = (
    "completely different content about database engines and distributed "
    "query processing with columnar storage and vectorized execution"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, BASE, "en", "web", len(BASE)),
        (2, BASE, "en", "web", len(BASE)),  # exact dup of 1
        (3, NEAR, "en", "web", len(NEAR)),  # near dup of 1
        (4, FAR, "en", "web", len(FAR)),
        (5, "tiny", "en", "web", 4),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "t string")
    got = df.select(word_shingles(F.col("t")).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == ["x y"]  # short doc → whole text as one shingle


def test_exact_dedup(docs):
    out = exact_dedup(docs)
    rows = {r["keep_id"]: r["n_dupes"] for r in out.collect()}
    assert rows[1] == 2  # docs 1,2 collapse
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1


def test_minhash_pairs_finds_near_dup(docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup always caught
    assert (1, 3) in got or (2, 3) in got  # near dup caught
    assert all({a, b} != {1, 4} and {a, b} != {4, 5} for a, b in got)


def test_minhash_dedup_keep_ids(docs):
    kept = {r["doc_id"] for r in minhash_dedup_keep_ids(docs, threshold=0.5).collect()}
    assert 1 in kept  # smallest id of the dup cluster survives
    assert 2 not in kept
    assert 4 in kept and 5 in kept


def test_simhash_deterministic_and_near(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=10).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0


def test_ngram_jaccard_blocked(docs):
    out = ngram_jaccard_pairs_blocked(docs, threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0


# threshold=default exercises the driver-side union-find; threshold=0
# forces the distributed label-propagation + pointer-jumping branch —
# the code path that actually runs at 100 TB (r4 verdict: it previously
# had zero coverage). Both paths must emit identical labels.
@pytest.mark.parametrize("cc_threshold", [1_000_000, 0])
def test_connected_components_chains_and_singletons(spark, cc_threshold):
    from etl_lealone_spark.operators.dedup import connected_components

    # graph: 1-2, 2-3 (chain → cluster 1); 10-11; 20-21, 20-22 (star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            pairs, small_graph_threshold=cc_threshold
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.parametrize("cc_threshold", [1_000_000, 0])
def test_connected_components_long_chain_converges(spark, cc_threshold):
    from etl_lealone_spark.operators.dedup import connected_components

    # a 12-node path needs several propagation rounds (diameter 11)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            pairs, small_graph_threshold=cc_threshold
        ).collect()
    }
    assert set(got.values()) == {100} and len(got) == 12


def test_xhash_cross_engine_pins(spark):
    """Pin md5_hash60 + mix60 Spark-vs-DuckDB equality on edge values."""
    import duckdb

    from etl_lealone_spark.operators.xhash import (
        MASK30,
        P61,
        hconsts,
        md5_hash60,
        md5_hash60_sql,
        mix60,
        mix60_sql,
    )

    texts = ["", "a", "hello world", "ünïcödé", "x" * 500]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    a, b, c = hconsts("pin-test", 0)
    got = df.select(
        md5_hash60(F.col("s")).alias("h"),
    ).collect()
    spark_h = [r["h"] for r in got]
    con = duckdb.connect()
    vals = ", ".join("(" + repr(t) + ")" for t in texts)
    duck_h = [
        r[0]
        for r in con.execute(
            f"SELECT {md5_hash60_sql('s')} FROM (VALUES {vals}) t(s)"
        ).fetchall()
    ]
    assert spark_h == duck_h
    # mix60 on the extremes of the 60-bit domain + the real hashes
    edge = [0, 1, MASK30, MASK30 + 1, (1 << 60) - 1] + spark_h
    mdf = spark.createDataFrame([(v,) for v in edge], "h long")
    spark_m = [r["m"] for r in mdf.select(mix60(F.col("h"), a, b, c).alias("m")).collect()]
    duck_m = [
        r[0]
        for r in con.execute(
            f"SELECT {mix60_sql('h', a, b, c)} FROM (VALUES "
            + ", ".join(f"({v}::BIGINT)" for v in edge)
            + ") t(h)"
        ).fetchall()
    ]
    assert spark_m == duck_m
    assert all(0 <= m < P61 for m in spark_m)


def test_canonical_per_cluster_keeps_longest(spark):
    from etl_lealone_spark.operators.dedup import canonical_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 80), (10, 5), (11, 9)],
        "doc_id long, n_chars long",
    )
    got = {r["cluster_id"]: r for r in canonical_per_cluster(clusters, docs).collect()}
    assert got[1]["keep_id"] == 2  # longest wins; tie (2,3) -> lower id
    assert got[1]["n_members"] == 3
    assert got[10]["keep_id"] == 11 and got[10]["n_members"] == 2


def test_minhash_band_stats_pin_candidate_mass(spark):
    """candidate_pairs must equal the EXACT number of same-band candidate
    comparisons the pair join performs: sum over buckets of C(size,2)."""
    from etl_lealone_spark.operators.dedup import (
        minhash_band_keys,
        minhash_band_stats,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i % 4}") for i in range(40)],
        "doc_id long, text string",
    )
    stats = {r["band"]: r for r in minhash_band_stats(df).collect()}
    assert set(stats) == set(range(8))
    banded = minhash_band_keys(df).collect()
    from collections import Counter

    sizes = Counter((r["band"], r["band_hash"]) for r in banded)
    for b in range(8):
        expect_pairs = sum(
            n * (n - 1) // 2 for (bb, _), n in sizes.items() if bb == b
        )
        expect_buckets = sum(1 for (bb, _) in sizes if bb == b)
        assert stats[b]["candidate_pairs"] == expect_pairs
        assert stats[b]["n_buckets"] == expect_buckets
        assert stats[b]["n_docs"] == 40
        assert stats[b]["max_bucket"] == max(
            n for (bb, _), n in sizes.items() if bb == b
        )


def test_minhash_band_stats_partitioning_invariant(spark):
    from etl_lealone_spark.operators.dedup import minhash_band_stats

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} tail common text") for i in range(60)],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in minhash_band_stats(df).collect())
    b = sorted(tuple(r) for r in minhash_band_stats(df.repartition(17)).collect())
    assert a == b


def test_source_overlap_matrix_folds_symmetric(spark):
    """The matrix must count each unordered source pair once, and its
    total must equal the distinct candidate-pair count."""
    from etl_lealone_spark.operators.dedup import (
        minhash_band_keys,
        minhash_source_overlap,
    )

    df = spark.createDataFrame(
        [
            (i, f"shared duplicate text body number {i % 3}",
             "web" if i % 2 == 0 else "books")
            for i in range(30)
        ],
        "doc_id long, text string, source string",
    )
    got = minhash_source_overlap(df).collect()
    assert all(r["source_a"] <= r["source_b"] for r in got)
    banded = minhash_band_keys(df).collect()
    from collections import defaultdict

    buckets = defaultdict(list)
    for r in banded:
        buckets[(r["band"], r["band_hash"])].append(r["id"])
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    assert sum(r["n_candidate_pairs"] for r in got) == len(pairs)
