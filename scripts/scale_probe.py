"""Scaling probe: run the flagship pipeline operators at K× the sf0.1
corpus and print the wall-clock scaling curve.

The correctness gates run at fixed SFs; this script is the evidence for
the scaling CLAIM — near-linear wall growth for the bucketed/banded
pipelines (MinHash-LSH, exact dedup, BM25, brute-force ANN) as data
grows 10×, i.e. no hidden quadratic term waiting at 100 TB.

Corpus scaling: documents are replicated K× with distinct doc_ids and
every WORD prefixed with a per-copy tag, so each copy keeps the
original's within-copy near-dup structure (the same transformation hits
every doc) while copies of the same doc share NO shingles — duplicate
DENSITY stays constant as the corpus grows. This matters: an
append-a-trailing-salt replication (the first version of this probe)
leaves copies ~98% shingle-identical, so the true near-dup pair count
grows K² and the probe measures output size, not the algorithm —
minhash shuffle bytes measured 103x for 30x data that way, vs linear
with per-word tags. Embeddings are replicated with vec_id offsets and
a per-copy deterministic component nudge for the same reason.

Usage: python scripts/scale_probe.py [K ...]   (default: 1 3 10)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etl_lealone_spark.operators import dedup, similarity  # noqa: E402
from etl_lealone_spark.operators.pipeline import (  # noqa: E402
    dsir_log_weights,
    pretrain_corpus_build,
)
from etl_lealone_spark.operators.ranking import bm25_scores  # noqa: E402
from etl_lealone_spark.session import build_spark, default_parallelism  # noqa: E402
from etl_lealone_spark.tables import load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def scaled_docs(t, k: int):
    d = t["documents"]
    if k == 1:
        return d
    copies = [
        d.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            # per-word copy tag: every shingle differs across copies
            # (constant duplicate density), within-copy structure intact
            F.regexp_replace(
                F.col("text"), r"(^|\s)(\S)", rf"$1c{i}q$2"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(k)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    return out.repartition(32)


def scaled_embeddings(t, k: int, dim: int = 64):
    """K copies with DISTINCT directions: copy i applies a per-copy
    deterministic coordinate permutation + sign flips. A permuted copy
    of a vector points somewhere else entirely, so a query's true
    neighbors stay in its own copy and every added copy is pure
    distractor mass — the regime a growing real corpus presents. (The
    first version nudged every component by +0.003i, which made the 29
    replicas of the query itself its entire top-10 and pinned measured
    recall at a meaningless 1.0.)"""
    import random

    e = t["embeddings"]
    if k == 1:
        return e
    copies = []
    for i in range(k):
        if i == 0:
            copies.append(e)
            continue
        rng = random.Random(9000 + i)
        perm = list(range(dim))
        rng.shuffle(perm)
        signs = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
        vec = F.array(
            *[
                (F.col("embedding")[perm[j]] * F.lit(signs[j])).cast("float")
                for j in range(dim)
            ]
        )
        copies.append(
            e.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                vec.alias("embedding"),
                "label",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    return out.repartition(32)


def _shuffle_bytes(spark) -> int:
    """Total shuffle-WRITE bytes across all completed stages so far,
    via the Spark UI REST API (public monitoring interface). Diffing
    around an operator gives its shuffle volume — the number that
    decides whether a plan survives a 100x scale-up."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = _json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 3, 10]
    # UI on: the probe reads per-stage shuffleWriteBytes from the
    # monitoring REST API (the UI server hosts it; normally off for bench
    # hygiene)
    spark = build_spark(
        app_name="scale_probe",
        cores=default_parallelism(),
        extra_conf={"spark.ui.enabled": "true"},
    )
    t = load_tables(spark, SF_DIR)
    rows = []
    shuffles_all: dict[int, dict[str, float]] = {}
    for k in ks:
        docs = scaled_docs(t, k).localCheckpoint()  # materialize the corpus
        n_docs = docs.count()
        emb = scaled_embeddings(t, k).localCheckpoint()
        n_emb = emb.count()
        timings = {}
        shuffles: dict[str, float] = {}
        shuffles_all[k] = shuffles

        def timed(name, fn):
            s0 = _shuffle_bytes(spark)
            t0 = time.time()
            fn()
            timings[name] = time.time() - t0
            s1 = _shuffle_bytes(spark)
            shuffles[name] = round((s1 - s0) / 1e6, 1) if s0 >= 0 and s1 >= 0 else -1

        timed(
            "dedup_exact",
            lambda: dedup.exact_dedup(docs)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "minhash_pairs",
            lambda: dedup.minhash_lsh_pairs(docs)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "dedup_clusters",
            lambda: dedup.connected_components(dedup.minhash_lsh_pairs(docs))
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "dedup_clusters_lp",
            # small_graph_threshold=0 forces the distributed
            # label-propagation branch — the 100 TB code path — so its
            # wall scaling is measured alongside the union-find route
            lambda: dedup.connected_components(
                dedup.minhash_lsh_pairs(docs), small_graph_threshold=0
            )
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "bm25_topk",
            lambda: bm25_scores(docs, ["widget", "gear", "ring"])
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(50)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        timed(
            "ann_bruteforce",
            lambda: similarity.brute_force_topk(emb, queries, k=10)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

        def ivf_build_and_probe():
            import shutil
            import tempfile

            tmp_parent = tempfile.mkdtemp(prefix="probe_ivf_")
            idx = similarity.IvfIndex(spark, tmp_parent + "/idx")
            idx.build(emb)
            q = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"),
                similarity.quantize(F.col("embedding")).alias("qvec"),
            )
            idx.topk(q, k=10, n_probe=4).write.format("noop").mode(
                "overwrite"
            ).save()
            shutil.rmtree(tmp_parent, ignore_errors=True)

        timed("ann_ivf_build_probe", ivf_build_and_probe)
        timed(
            "pretrain_e2e",
            lambda: pretrain_corpus_build(docs)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "dsir_weights",
            lambda: dsir_log_weights(docs, F.col("source") == "src0")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

        rows.append((k, n_docs, n_emb, timings))
        parts = " ".join(f"{q}={s:.2f}s" for q, s in timings.items())
        print(f"K={k} docs={n_docs} emb={n_emb} {parts}", flush=True)
        sh = " ".join(f"{q}={mb}MB" for q, mb in shuffles.items())
        print(f"K={k} shuffle-write: {sh}", flush=True)

    import math

    base = rows[0]
    print(
        "\nscaling vs K=1 — wall ratio / data ratio (1.0 = perfectly "
        "linear) and the fitted exponent e in wall ~ data^e:"
    )
    for k, n_docs, _, timings in rows[1:]:
        for q, s in timings.items():
            dr = n_docs / base[1]
            wr = s / base[3][q]
            expo = math.log(wr) / math.log(dr) if wr > 0 and dr > 1 else float("nan")
            sh_k, sh_1 = shuffles_all[k].get(q, -1), shuffles_all[base[0]].get(q, -1)
            sh_txt = (
                f" shuffle {sh_1}→{sh_k}MB ({sh_k / sh_1:.1f}x)"
                if sh_1 and sh_1 > 0 and sh_k > 0
                else ""
            )
            print(
                f"  K={k} {q}: {wr:.2f}x wall for {dr:.0f}x data → "
                f"exponent {expo:.2f}{sh_txt}"
            )


def recall_probe(ks) -> None:
    """recall@10 of the approximate ANN indexes vs exact ground truth
    as the corpus scales (r4 verdict task 6): the LSH auto-tune
    (planes = log2(n/64)) changes bucket geometry with n, and IVF's
    probed fraction n_probe/sqrt(n) shrinks — the recall floor must be
    MEASURED, not assumed. n_queries=20, mean over queries."""
    import math
    import shutil
    import tempfile

    from etl_lealone_spark.operators.similarity import (
        IvfIndex,
        brute_force_topk_int,
        lsh_topk_int,
        quantize,
    )

    spark = build_spark(
        app_name="scale_probe_recall", cores=default_parallelism()
    )
    t = load_tables(spark, SF_DIR)
    nq = 20
    print("recall@10 vs corpus scale (mean over 20 queries):")
    for k in ks:
        emb = scaled_embeddings(t, k).localCheckpoint()
        n = emb.count()
        truth = brute_force_topk_int(emb, k=10, n_queries=nq).select(
            "query_id", "vec_id"
        )
        # replicate lsh_topk's auto-tune so the probe measures the
        # geometry a user gets at this corpus size; depth-1 vs depth-2
        # multiprobe quantifies the recall the probe depth buys back
        planes = min(
            24, max(4, int(math.log2(max(n, 2) / 64)) if n > 128 else 4)
        )
        lsh1 = lsh_topk_int(
            emb, k=10, n_queries=nq, num_planes=planes, multiprobe=1
        ).select("query_id", "vec_id")
        lsh2 = lsh_topk_int(
            emb, k=10, n_queries=nq, num_planes=planes, multiprobe=2
        ).select("query_id", "vec_id")

        def mean_recall(approx):
            j = truth.join(
                approx.withColumn("h", F.lit(1)),
                ["query_id", "vec_id"],
                "left",
            )
            r = j.agg(
                (
                    F.sum(F.coalesce(F.col("h"), F.lit(0)))
                    / F.count(F.lit(1))
                ).alias("r")
            ).collect()[0]["r"]
            return round(float(r), 3)

        tmp_parent = tempfile.mkdtemp(prefix="probe_ivf_recall_")
        root = tmp_parent + "/idx"
        idx = IvfIndex(spark, root)
        idx.build(emb)
        q = emb.filter(F.col("vec_id") < nq).select(
            F.col("vec_id").alias("query_id"),
            quantize(F.col("embedding")).alias("qvec"),
        )
        out = {
            "lsh_mp1": mean_recall(lsh1),
            "lsh_mp2": mean_recall(lsh2),
            "ivf_p4": mean_recall(
                idx.topk(q, k=10, n_probe=4).select("query_id", "vec_id")
            ),
            "ivf_p8": mean_recall(
                idx.topk(q, k=10, n_probe=8).select("query_id", "vec_id")
            ),
            "ivf_p16": mean_recall(
                idx.topk(q, k=10, n_probe=16).select("query_id", "vec_id")
            ),
        }
        shutil.rmtree(tmp_parent, ignore_errors=True)
        print(
            f"K={k} n_emb={n} lsh_planes={planes} "
            + " ".join(f"{m}={v}" for m, v in out.items()),
            flush=True,
        )


def batch_probe(nqs: list[int]) -> None:
    """IvfIndex.topk vs topk_batch wall clock over growing QUERY-set
    sizes (corpus fixed at sf0.1): the per-query path collects the
    query set and ranks centroids driver-side — O(n_q x sqrt(n))
    single-threaded Python that must grow with n_q — while the batch
    path assigns probes executor-side and scores per cluster. The
    crossover tells users where to switch paths; both paths are
    row-identical (pinned by test + shared oracle)."""
    import shutil
    import tempfile

    spark = build_spark(
        app_name="batch_probe", cores=default_parallelism()
    )
    e = load_tables(spark, "/root/testdata/sf0.1")["embeddings"]
    root = tempfile.mkdtemp(prefix="ivf_batch_probe_")
    try:
        idx = similarity.IvfIndex(spark, root)
        idx.build(e)
        n_corpus = e.count()
        for nq in nqs:
            # the corpus is smaller than the top rungs (sf0.1 = 2000
            # vectors) — REPLICATE queries with distinct ids rather than
            # letting limit() silently cap, which would mislabel the
            # measurement (3rd-pass review finding)
            copies = -(-nq // n_corpus)  # ceil
            base_q = e.select(
                F.col("vec_id"),
                similarity.quantize(F.col("embedding")).alias("qvec"),
            )
            parts = [
                base_q.select(
                    (F.col("vec_id") + i * 10_000_000).alias("query_id"),
                    "qvec",
                )
                for i in range(copies)
            ]
            q = parts[0]
            for pp in parts[1:]:
                q = q.unionAll(pp)
            q = q.limit(nq).localCheckpoint(eager=True)
            assert q.count() == nq
            for label, fn in (
                ("per-query", idx.topk),
                ("batch", idx.topk_batch),
            ):
                fn(q, k=10, n_probe=4).write.format("noop").mode(
                    "overwrite"
                ).save()  # warm
                t0 = time.time()
                fn(q, k=10, n_probe=4).write.format("noop").mode(
                    "overwrite"
                ).save()
                print(
                    f"n_queries={nq} {label} wall={time.time() - t0:.2f}s",
                    flush=True,
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def bloom_probe(ks) -> None:
    """Bloom semi-join scaling: probe-side wall vs synthetic corpus size.

    The claim under test (SCALE.md r08): probe cost is map-side only —
    k hash evaluations per row against a 1-row broadcast whose size is
    CAPPED at m_bits/64 words — so wall grows ~linearly with probe rows
    and the bitmap row never grows. Build side is held constant (100k
    keys into m=2^20 bits) while the probe side scales K x 2M rows.
    """
    from etl_lealone_spark.operators.joins import bloom_bitmap, bloom_pass_flag

    m_bits, k_hashes = 1 << 20, 3
    spark = build_spark(app_name="bloom_probe", cores=8, shuffle_partitions=8)
    try:
        build = spark.range(0, 100_000).selectExpr("id * 7 AS k")
        bitmap = bloom_bitmap(build, "k", m_bits, k_hashes, "probe")
        row = bitmap.collect()[0]
        print(
            f"bitmap: {len(row['bloom_words'])} words, "
            f"{row['bloom_bits_set']} bits set (cap {m_bits // 64} words)",
            flush=True,
        )
        for K in ks:
            n = 2_000_000 * K
            probe = spark.range(0, n, 1, 8).selectExpr(
                "id AS k"
            )
            t0 = time.time()
            n_pass = (
                probe.crossJoin(F.broadcast(bitmap))
                .filter(bloom_pass_flag(F.col("k"), m_bits, k_hashes, "probe"))
                .count()
            )
            print(
                f"K={K} probe_rows={n} pass={n_pass} "
                f"wall={time.time() - t0:.2f}s",
                flush=True,
            )
    finally:
        spark.stop()


def hardneg_probe(ks) -> None:
    """Hard-negative mining scale decomposition over K-replicated
    corpora (distractor replication, see scaled_embeddings) at a fixed
    64-query set: the brute scorer (hard_negatives_int — every corpus
    row scored against every query, map-only) vs the batch path
    (hard_negatives_int_batch) at full probe (exact, row-identical) and
    at n_probe=4 (the IVF trade: only probed clusters are scanned —
    the 100 TB shape where full-corpus scoring per query is the thing
    being avoided). Claim for SCALE.md: brute and full-probe walls grow
    ~linearly with K; the pruned probe grows sublinearly."""
    import shutil
    import tempfile

    from etl_lealone_spark.operators.similarity import (
        IvfIndex,
        hard_negatives_int,
        hard_negatives_int_batch,
    )

    spark = build_spark(app_name="hardneg_probe", cores=default_parallelism())
    t = load_tables(spark, "/root/testdata/sf0.1")
    try:
        for K in ks:
            e = scaled_embeddings(t, K).localCheckpoint(eager=True)
            n = e.count()
            root = tempfile.mkdtemp(prefix=f"hn_probe_k{K}_")
            try:
                idx = IvfIndex(spark, root + "/idx")
                t0 = time.time()
                idx.build(e)
                t_build = time.time() - t0
                runs = [
                    ("brute", lambda: hard_negatives_int(e, k=5, n_queries=64)),
                    ("batch_full", lambda: hard_negatives_int_batch(
                        e, idx, k=5, n_queries=64)),
                    ("batch_probe4", lambda: hard_negatives_int_batch(
                        e, idx, k=5, n_queries=64, n_probe=4)),
                ]
                walls = {}
                for label, fn in runs:
                    fn().write.format("noop").mode("overwrite").save()  # warm
                    t0 = time.time()
                    fn().write.format("noop").mode("overwrite").save()
                    walls[label] = time.time() - t0
                print(
                    f"K={K} corpus={n} build={t_build:.2f}s "
                    + " ".join(f"{l}={w:.2f}s" for l, w in walls.items()),
                    flush=True,
                )
            finally:
                shutil.rmtree(root, ignore_errors=True)
    finally:
        spark.stop()


def ml_probe(ks) -> None:
    """k-means / naive-Bayes scale decomposition over K-replicated
    inputs. Claim for SCALE.md: k-means' shuffle volume is CONSTANT in
    corpus size (only the k*dim update partials move, map-side
    combined); NB's is linear but tiny — the |classes|*buckets model
    plus per-(doc, class) score partials, a few bigints per document,
    never raw text. Walls stay overhead-dominated at probe scale
    (measured r9: 30x corpus -> 1.8x kmeans wall at flat 0.5 MB
    shuffle; 2.1x nb wall, shuffle 0.3 -> 13.6 MB linear)."""
    from etl_lealone_spark.operators.classify import nb_class_confusion
    from etl_lealone_spark.operators.clustering import kmeans_cluster_profile
    from etl_lealone_spark.operators.stats import power_iteration_projection

    spark = build_spark(
        app_name="ml_probe",
        cores=default_parallelism(),
        extra_conf={"spark.ui.enabled": "true"},
    )
    t = load_tables(spark, "/root/testdata/sf0.1")

    def scaled_lineitem(k: int):
        li = t["lineitem"]
        if k == 1:
            return li
        out = li
        for _ in range(k - 1):
            out = out.unionAll(li)
        return out.repartition(32)

    try:
        for K in ks:
            e = scaled_embeddings(t, K).localCheckpoint(eager=True)
            n_e = e.count()
            d = scaled_docs(t, K).localCheckpoint(eager=True)
            n_d = d.count()
            li = scaled_lineitem(K).localCheckpoint(eager=True)
            walls: dict[str, float] = {}
            shuf: dict[str, float] = {}

            def corr():
                from etl_lealone_spark.operators.stats import exact_corr_matrix

                return exact_corr_matrix(
                    li,
                    ["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
                )

            def logreg():
                from etl_lealone_spark.operators.logreg import (
                    logreg_label_probe,
                )

                return logreg_label_probe(e, target_label=0)

            _REG_KW = dict(
                y_col="l_extendedprice", x1_col="l_quantity",
                x2_col="l_discount", group_cols=["l_returnflag"],
            )

            def ols():
                from etl_lealone_spark.operators.stats import grouped_ols

                return grouped_ols(li, **_REG_KW)

            def ridge():
                from etl_lealone_spark.operators.stats import grouped_ridge

                return grouped_ridge(li, **_REG_KW)

            runs = [
                ("kmeans", lambda: kmeans_cluster_profile(e, k=8, iters=2)),
                ("nb", lambda: nb_class_confusion(d, class_col="lang")),
                ("pca", lambda: power_iteration_projection(e, iters=3)),
                ("corr", corr),
                ("logreg", logreg),
                ("ols", ols),
                ("ridge", ridge),
            ]
            for label, fn in runs:
                fn().write.format("noop").mode("overwrite").save()  # warm
                s0 = _shuffle_bytes(spark)
                t0 = time.time()
                fn().write.format("noop").mode("overwrite").save()
                walls[label] = time.time() - t0
                s1 = _shuffle_bytes(spark)
                shuf[label] = (
                    round((s1 - s0) / 1e6, 1) if s0 >= 0 and s1 >= 0 else -1
                )
            print(
                f"K={K} emb={n_e} docs={n_d} "
                + " ".join(
                    f"{l}={w:.2f}s/{shuf[l]}MB" for l, w in walls.items()
                ),
                flush=True,
            )
    finally:
        spark.stop()


def qsketch_probe(ks) -> None:
    """Stride-quantile sketch scale decomposition over K-replicated
    lineitem. Claim for SCALE.md: the sketch LEAVING the bucket stage
    is constant (buckets*k weighted points) at any corpus size; the
    bucket-hash exchange feeding it is linear but NARROW — exactly
    (bucket, v, hv) = ~24 bytes/row, the price of cross-engine
    deterministic in-bucket order (a partition-local KLL would be
    shuffle-free but partitioning-dependent, hence un-oracleable).
    The exact-percentile twin pays the same row volume AND a global
    sort; composing with hash_sample(rate=r) divides the shuffle by r
    when sqrt-sample error is acceptable."""
    from etl_lealone_spark.operators.sketches import stride_quantiles

    spark = build_spark(
        app_name="qsketch_probe",
        cores=default_parallelism(),
        extra_conf={"spark.ui.enabled": "true"},
    )
    t = load_tables(spark, "/root/testdata/sf0.1")

    def scaled_lineitem(k: int):
        # only the probe's two columns: a full-width 18M-row
        # localCheckpoint at K=30 OOMs the local JVM heap, and the
        # operator under test reads nothing else anyway
        li = t["lineitem"].select("l_orderkey", "l_extendedprice")
        out = li
        for _ in range(k - 1):
            out = out.unionAll(li)
        return out.repartition(32) if k > 1 else li

    try:
        for K in ks:
            li = scaled_lineitem(K).localCheckpoint(eager=True)
            n = li.count()

            def qs():
                return stride_quantiles(
                    li, F.col("l_extendedprice"), F.col("l_orderkey"),
                    qs=(0.5, 0.9, 0.99),
                )

            def exact():
                return li.agg(
                    F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
                    F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
                    F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
                )

            out: dict[str, tuple] = {}
            for label, fn in (("sketch", qs), ("exact", exact)):
                fn().write.format("noop").mode("overwrite").save()  # warm
                s0 = _shuffle_bytes(spark)
                t0 = time.time()
                fn().write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
                s1 = _shuffle_bytes(spark)
                mb = round((s1 - s0) / 1e6, 1) if s0 >= 0 and s1 >= 0 else -1
                out[label] = (wall, mb)
            pts = qs().agg(F.max("n_points")).collect()[0][0]
            print(
                f"K={K} rows={n} points={pts} "
                + " ".join(
                    f"{l}={w:.2f}s/{mb}MB" for l, (w, mb) in out.items()
                ),
                flush=True,
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    if "--ml" in sys.argv:
        ks = [int(a) for a in sys.argv[1:] if a != "--ml"] or [1, 3, 10]
        ml_probe(ks)
    elif "--bloom" in sys.argv:
        ks = [int(a) for a in sys.argv[1:] if a != "--bloom"] or [1, 3, 10, 30]
        bloom_probe(ks)
    elif "--recall" in sys.argv:
        ks = [int(a) for a in sys.argv[1:] if a != "--recall"] or [1, 3, 10, 30]
        recall_probe(ks)
    elif "--hardneg" in sys.argv:
        ks = [int(a) for a in sys.argv[1:] if a != "--hardneg"] or [1, 3, 10]
        hardneg_probe(ks)
    elif "--qsketch" in sys.argv:
        ks = [int(a) for a in sys.argv[1:] if a != "--qsketch"] or [1, 3, 10, 30]
        qsketch_probe(ks)
    elif "--batch-probe" in sys.argv:
        nqs = [int(a) for a in sys.argv[1:] if a != "--batch-probe"] or [
            100,
            1000,
            10000,
        ]
        batch_probe(nqs)
    else:
        main()
