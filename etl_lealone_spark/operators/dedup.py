"""Deduplication operators for large-scale document corpora.

Extension surface required by BASELINE.json beyond the reference's own
inventory: exact dedup, MinHash+LSH near-dup, SimHash near-dup, and
n-gram Jaccard verification. All are composed from JVM-side built-ins
(no Python UDFs in the hot path) and are shuffle-bounded:

- exact:   one hash-aggregate shuffle on a 16-byte digest.
- MinHash: per-row signature computation (map-only) → explode to
  (band, band_hash) → ONE shuffle to bucket candidates → pair join →
  per-pair verification. No O(n²) stage anywhere; the only quadratic
  term is within a single LSH bucket, which the band width controls.
- SimHash: per-row 64-bit fingerprint (map-only) → pigeonhole block join
  (hamming ≤ k pairs must share one of k+1 exact blocks) → bit_count
  verification.

At 100 TB the corpus does not fit a broadcast, so every join here is a
shuffle join on a compact key (8-16 bytes); signatures are computed in a
single pass over the text column with whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .xhash import P61, hconsts, md5_hash60, mix60


# ---------------------------------------------------------------------------
# normalization + shingling (shared)
# ---------------------------------------------------------------------------
def normalized_text(col: Column) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def words(col: Column) -> Column:
    return F.split(normalized_text(col), " ")


def word_shingles_from(ws: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a MATERIALIZED words-array column.

    ``ws`` must be a plain column reference to an already-projected
    :func:`words` array, not the split expression itself: an expression
    referenced from inside a higher-order-function lambda is re-evaluated
    on every element access, so inlining the regex split here costs one
    split per shingle instead of one per document (measured ~10× the
    whole stage). Documents shorter than k words contribute their full
    normalized text (``concat_ws`` of the words — identical, since
    normalization collapses whitespace) as a single shingle so they
    still participate in dedup.
    """
    return F.when(F.size(ws) < k, F.array(F.concat_ws(" ", ws))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - k),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
            )
        )
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Shingles straight from a text column (single-expression form).

    Convenience wrapper for tests/small inputs; corpus-scale paths
    project :func:`words` first and use :func:`word_shingles_from` so the
    split is evaluated once per document (see that docstring).
    """
    return word_shingles_from(words(col), k)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """Exact duplicate clusters: group on a content digest, keep min id.

    Returns (keep_id, n_dupes) per distinct content. One shuffle on the
    md5 digest (16 bytes — far cheaper than shuffling the documents).
    """
    content = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.md5(content).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _parallelize_for_compute(df: DataFrame, key: str) -> DataFrame:
    """Repartition before a compute-heavy map stage.

    A 100 MB parquet file arrives as ONE partition; signature computation
    is CPU-bound per row, so without this the whole corpus funnels through
    one core. Cost: one shuffle of the raw text — amortized by the 30-100×
    parallel speedup of the signature stage. At cluster scale the input
    would already be many splits, and this becomes a cheap no-op-ish
    rebalance keyed for the later self-join.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, key)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    carry_cols: "dict[str, Column] | None" = None,
) -> DataFrame:
    """(id, mh0..mhN) min-hash signature table — fully map-side, no shuffle.

    Per row: shingle the text once, hash each (variable-length) shingle
    string once with the cross-engine 60-bit md5 base hash, then derive
    every lane as ``array_min(transform(hashes, h -> mix60(h)))`` — each
    lane is three multiplies and two mods over an 8-byte long (xhash.py),
    cheaper than a seeded-hash call per lane AND reproducible bit-for-bit
    by the DuckDB oracle. The shared hash-array lives in its own
    projection; CollapseProject leaves multiply-referenced non-cheap
    aliases alone, so it is computed once per row (verified in the plan:
    the shingle expression appears once, not num_hashes times).

    Map-only beats the explode→groupBy form at every scale: zero shuffle,
    no hash-aggregate state, and at 100 TB the signature stage pipelines
    straight into the band explode with no exchange in between.

    ``carry_cols`` (alias → source column) rides extra per-document
    columns through the map-only projections, so callers that need a
    doc attribute alongside the signature (e.g. the source label in
    :func:`minhash_source_overlap`) avoid a corpus-wide join back.
    """
    carry = dict(carry_cols or {})
    hs = (
        _parallelize_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            *[c.alias(a) for a, c in carry.items()],
            words(F.col(text_col)).alias("ws"),
        )
        .select(
            "id",
            *carry,
            F.transform(
                word_shingles_from(F.col("ws")), lambda s: md5_hash60(s)
            ).alias("hs"),
        )
    )
    lanes = [
        F.array_min(
            F.transform("hs", lambda h: mix60(h, *hconsts("mh-lane", i)))
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hs.select("id", *carry, *lanes)


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    carry_cols: "dict[str, Column] | None" = None,
) -> DataFrame:
    """(id, band, band_hash) LSH bucket keys — the shared kernel of the
    pair generator and the band-skew diagnostic.

    Each band's lanes are combined into one 8-byte shuffle key with the
    same overflow-free mix the lanes use (cross-engine exact); cross-band
    collisions are harmless because ``band`` is part of the key. Map-only:
    signature + band derivation never shuffles."""
    rows_per_band = num_hashes // bands

    def _band_hash(b: int) -> Column:
        acc = F.lit(0).cast("long")
        for r in range(rows_per_band):
            acc = (
                acc
                + mix60(
                    F.col(f"mh{b * rows_per_band + r}"),
                    *hconsts("band-mix", b * rows_per_band + r),
                )
            ) % P61
        return acc

    carry = dict(carry_cols or {})
    sig = minhash_signatures(df, text_col, id_col, num_hashes, carry_cols=carry)
    return sig.select(
        "id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_hash(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", *carry, "bb.band", "bb.band_hash")


def minhash_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Per-band LSH bucket-skew diagnostics: the O(n) pre-flight a 100 TB
    MinHash dedup runs BEFORE committing to the within-bucket self-join.

    The pair stage's only quadratic term is within an LSH bucket, so its
    cost and its worst shuffle partition are governed by the bucket-size
    distribution — a single boilerplate-heavy bucket of b docs costs
    b·(b-1)/2 comparisons on one task. This surfaces that before the join:

    Returns one row per band:
      band, n_buckets, n_docs, max_bucket (the skew indicator),
      n_collision_buckets (buckets with >= 2 docs),
      candidate_pairs (sum over buckets of C(size, 2) — the EXACT number
      of same-band candidate comparisons the pair join will perform).

    All integer aggregates over the map-side band keys: one shuffle on
    (band, band_hash) with map-side partials, then a ``bands``-row final
    agg — no quadratic stage anywhere. If max_bucket is pathological,
    salt or drop the hot bucket before running the pair join."""
    bucket_sizes = (
        minhash_band_keys(df, text_col, id_col, num_hashes, bands)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
    )
    sz = F.col("bucket_size")
    return (
        bucket_sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(sz).cast("long").alias("n_docs"),
            F.max(sz).cast("long").alias("max_bucket"),
            F.sum((sz > 1).cast("long")).cast("long").alias("n_collision_buckets"),
            # integer DIV keeps the sum exact and engine-portable (no
            # double division inside an aggregate)
            F.sum(F.expr("bucket_size * (bucket_size - 1) DIV 2"))
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified by exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    16 hashes / 8 bands (2 rows per band) beats the classic 32/8: candidate
    recall at s=0.7 is 1-(1-s²)⁸ ≈ 0.995 vs 0.89 for 4-row bands, half the
    per-shingle hashing work, and half the generated-code width. The extra
    (moderate-similarity) candidates it admits are cheap — the exact-Jaccard
    verification stage filters them and only runs on candidate docs.

    Plan shape: explode-agg signatures → explode to ``bands`` rows/doc →
    shuffle on (band, band_hash) → within-bucket self-join on 8-byte keys →
    exact-Jaccard verification joining back to a shingle-array table.
    No O(n²) stage; the only quadratic term is within an LSH bucket.
    """
    banded = minhash_band_keys(df, text_col, id_col, num_hashes, bands)
    # EAGER checkpoint before the self-join: the join consumes the banded
    # plan twice, and the signature subtree above it (shingle + md5 per
    # shingle) is the expensive stage — materializing the compact
    # (id, band, hash) table (24 bytes/row, bands rows/doc) halves the
    # signature work at every scale
    banded = banded.localCheckpoint(eager=True)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # candidates feed three consumers (needed-ids semi-join + both sides
    # of the pair join); EAGER checkpoint so the signature+bucket subtree
    # executes exactly once — lazily it races itself under AQE (parallel
    # query stages all find the cache cold) and runs ~3×
    cand = cand.localCheckpoint(eager=True)
    # verification: join candidate pairs back to per-doc shingle arrays.
    # Semi-join FIRST so the (expensive) shingle projection runs only for
    # docs that appear in some candidate pair — typically a tiny fraction
    # of the corpus. Without this, Catalyst pushes the projection below
    # the join and shingles everything a second time.
    needed = (
        cand.select(F.col("id_a").alias("nid"))
        .union(cand.select(F.col("id_b").alias("nid")))
        .distinct()
    )
    # broadcast the (tiny) candidate-id set so the corpus is filtered
    # in-place during its scan — no second full-text shuffle; only the
    # surviving docs (≲2×|cand|) are repartitioned for the pair join
    # intersect 8-byte shingle HASHES, not the strings (r12 — the
    # ngram_jaccard_pairs_blocked kernel's rationale applies verbatim):
    # the per-pair intersect is the verification hot loop and long-array
    # intersection is ~10x cheaper than string-array, the pair-join
    # shuffle carries 8 bytes per shingle instead of the string (guide
    # §2.3 narrower types), and |distinct hashes| == |distinct shingles|
    # up to 64-bit collisions (~n²/2⁶⁵ — vanishing), so the Jaccard
    # value — and the string-based DuckDB oracle — are unchanged.
    sh = (
        df.join(F.broadcast(needed), F.col(id_col) == F.col("nid"), "left_semi")
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("ws"))
        .select(
            "id",
            F.transform(
                word_shingles_from(F.col("ws")), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
    )
    # sh is consumed TWICE (sides a and b) and its candidate-doc
    # scan→semi-join→shingle subtree is therefore planned twice — an
    # eager localCheckpoint here was MEASURED SLOWER (interleaved A/B at
    # sf0.1, row-identity asserted: old min 2.47s vs checkpointed
    # 2.75s): the two duplicate builds run as concurrent independent
    # query stages and overlap on idle cores, while a checkpoint
    # serializes materialize-then-join and pays the array write. The
    # subtree is candidate-bounded either way, so recompute-in-parallel
    # stays the right call until a profile shows the candidate fraction
    # large enough that one materialized pass beats two overlapped ones.
    a, b = sh.alias("a"), sh.alias("b")
    paired = (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select("id_a", "id_b", F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        paired.filter((inter / union) >= threshold)
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


def minhash_dedup_keep_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Docs surviving near-dedup: drop any doc near-identical to a
    smaller-id doc (standard greedy LSH dedup)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold=threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# connected components — pairs → duplicate clusters
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """(doc_id, cluster_id) connected components of the near-dup pair graph.

    The step real dedup pipelines run AFTER pair generation: transitively
    connected documents form one duplicate cluster, labeled by its minimum
    id. Min-label propagation: each round every node takes the smallest
    label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup clusters are shallow (dup chains), so a
    handful of rounds suffices at any corpus size.

    Two execution paths, picked by measured edge count — the same
    size-gated trade as a broadcast join:

    - **Small graph** (≤ ``small_graph_threshold`` directed edges): the
      pair list is collected and union-find runs driver-side in one
      pass. A near-dup pair graph is tiny relative to its corpus (it
      holds only duplicates), so even multi-TB corpora usually land
      here; a bounded 16-byte/edge collect replaces 3-5 distributed
      rounds of ~4 jobs each (measured ~3s of fixed per-round cost on
      a 1.5k-edge graph).
    - **Large graph**: one shuffle per round on the node id (the classic
      large-graph CC — label propagation over an edge list; GraphX/
      GraphFrames implement the same loop), PLUS a pointer-jumping step
      per round (label := label-of-label) so convergence is O(log
      diameter) rounds, not O(diameter). Rounds are checkpointed so the
      lineage stays flat, and the partition count adapts to the edge
      count — a pair graph's label table is tiny next to the corpus, so
      per-round fixed cost must not be 32 near-empty shuffle tasks.

    Both paths emit identical labels (min id per component).
    """
    # checkpoint the PAIR subtree before mirroring it: ``union`` consumes
    # the pair plan twice, and without the checkpoint the (expensive)
    # upstream pair-generation join would execute twice — measured 2x the
    # whole pair cost at every scale
    p = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).localCheckpoint(
        eager=True
    )
    spark = pairs.sparkSession
    n_pairs = p.count()
    if n_pairs <= small_graph_threshold // 2:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # one parallel-fetch collect, not toLocalIterator: the iterator
        # runs ONE JOB PER PARTITION sequentially (~30 round-trips of
        # scheduler latency for a 32-partition pair table), while the
        # gate above already bounds the collect at 500k 16-byte edges
        # (guide §5: a bounded driver transfer is fine; an unbounded
        # per-partition job loop is pure fixed cost)
        for row in p.collect():
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the component label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", p.schema["a"].dataType),
                T.StructField("cluster_id", p.schema["a"].dataType),
            ]
        )
        rows = [(n, find(n)) for n in parent]
        return spark.createDataFrame(rows, schema)
    edges = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    nparts = max(
        2, min(spark.sparkContext.defaultParallelism, n_edges // 500_000 + 1)
    )
    edges = edges.repartition(nparts, "b")
    labels = (
        edges.select(F.col("a").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # labels only ever decrease, so sum(lbl) strictly decreases on any
    # change — convergence is detected from an aggregate of the (already
    # checkpointed) label table instead of an old-vs-new join + count,
    # saving one join and one action per round. The sum is taken in
    # decimal(38,0): a long sum over ~1e9 nodes with 60-bit ids could
    # wrap, and a wrap collision would end the loop one round early.
    prev_sum = None
    for _ in range(max_iterations):
        # min over self ∪ neighbor labels as ONE union+groupBy (a single
        # shuffle) instead of a neighbor groupBy followed by an
        # old-labels outer join (two)
        neighbor = edges.join(labels, edges["b"] == labels["n"]).select(
            F.col("a").alias("n"), "lbl"
        )
        merged = (
            labels.union(neighbor).groupBy("n").agg(F.min("lbl").alias("m_lbl"))
        )
        # pointer jumping: follow one hop of the label chain
        # (lbl := lbl[lbl]) — doubles the propagation distance per round
        hop = merged.select(F.col("n").alias("h_n"), F.col("m_lbl").alias("h_lbl"))
        labels = (
            merged.join(hop, merged["m_lbl"] == hop["h_n"], "left")
            .select(
                "n",
                F.least(
                    F.col("m_lbl"), F.coalesce("h_lbl", F.col("m_lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked) — exact similarity inside cheap blocks
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Column | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-3-gram Jaccard over pairs sharing a blocking key.

    Blocking bounds the quadratic pair space (classic entity-resolution
    blocking); default block = (lang, n_chars div 100) for the documents
    table. Returns (id_a, id_b, jaccard) with jaccard rounded to 6dp for
    cross-engine hash stability.
    """
    block = (
        block_cols
        if block_cols is not None
        else F.struct(F.col("lang"), (F.col("n_chars") / 100).cast("int"))
    )
    # intersect 8-byte shingle HASHES, not the shingle strings: the
    # in-block pair space is quadratic, so the per-pair intersect is the
    # hot loop — long-array intersection is ~10× cheaper than string-array
    # (no per-element UTF-8 compare/hash). |distinct hashes| ==
    # |distinct shingles| up to 64-bit collisions (~n²/2⁶⁵ — vanishing),
    # so the Jaccard value is unchanged and the string-based oracle twin
    # still matches exactly.
    # repartition BEFORE the shingle projection: a single parquet split
    # would compute every shingle array serially in the scan task
    # (measured 12s vs <1s at sf0.1)
    base = (
        _parallelize_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            block.alias("blk"),
            words(F.col(text_col)).alias("ws"),
        )
        .select(
            "id",
            "blk",
            F.transform(
                word_shingles_from(F.col("ws")), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
    )
    l, r = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect("l.sh", "r.sh")).cast("double")
    union = (F.size("l.sh") + F.size("r.sh")).cast("double") - inter
    return (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        .filter((inter / union) >= threshold)  # filter pre-rounding (oracle parity)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def ngram_containment_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Column | None = None,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric word-3-gram CONTAINMENT within blocks:
    ``|A ∩ B| / min(|A|, |B|)`` — the subset-duplicate detector Jaccard
    misses (a wire-service article embedded verbatim in a longer page
    has low Jaccard because the union is large, but containment ≈ 1;
    Broder's containment measure from the original shingling paper).
    Same blocking, shingle-hash intersection kernel, and scale shape as
    :func:`ngram_jaccard_pairs_blocked`; returns (id_a, id_b,
    containment) with containment rounded to 6dp AFTER the threshold
    filter (one IEEE division of exact ints — engine-identical)."""
    block = (
        block_cols
        if block_cols is not None
        else F.struct(F.col("lang"), (F.col("n_chars") / 100).cast("int"))
    )
    base = (
        _parallelize_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            block.alias("blk"),
            words(F.col(text_col)).alias("ws"),
        )
        .select(
            "id",
            "blk",
            F.transform(
                word_shingles_from(F.col("ws")), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
    )
    l, r = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect("l.sh", "r.sh")).cast("double")
    cont = inter / F.least(F.size("l.sh"), F.size("r.sh")).cast("double")
    return (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        .filter(cont >= threshold)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cont, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # md5_hash60 base hash width (cross-engine exact)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, fp) SimHash table via explode-aggregate — the corpus-scale form.

    Tokens are exploded once; each token row contributes ``SIMHASH_BITS``
    ±1 votes in a single projection; a hash-aggregate sums votes per doc
    and assembles the fingerprint. One shuffle on the doc id, fully
    partition-parallel. Token hash is the 60-bit cross-engine md5 base
    (xhash.py), so the whole fingerprint — and every downstream pair —
    is reproducible by the DuckDB oracle.
    """
    exploded = (
        _parallelize_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(words(F.col(text_col))).alias("tok"),
        )
        .select("id", md5_hash60(F.col("tok")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = exploded.groupBy("id").agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("id", fp.alias("fp"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the ``SIMHASH_BITS``-bit fingerprint into
    ``max_hamming+1`` blocks; any pair within distance k agrees exactly on
    at least one block → join per block on the exact block value (one
    shuffle on a small int key), then verify with bit_count(xor).
    """
    nblocks = max_hamming + 1
    width = SIMHASH_BITS // nblocks
    fp = simhash_fingerprints(df, text_col, id_col)
    mask = (1 << width) - 1
    blocked = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftrightunsigned("fp", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for b in range(nblocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.block", "bb.block_val")
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def canonical_per_cluster(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "n_chars",
) -> DataFrame:
    """(cluster_id, keep_id, n_members): canonical-document selection —
    the step after clustering in a real dedup pipeline (keep the most
    complete duplicate, not the lowest id).

    Picks the member with the largest ``order_col`` (ties to the lower
    id) per cluster. One shuffle on cluster_id; the window partitions by
    a real key, and at 100 TB the join is a broadcast of the (tiny)
    cluster table into the corpus scan when clusters << corpus.
    """
    from pyspark.sql.window import Window

    member = clusters.join(
        docs.select(F.col(id_col), F.col(order_col)), on=id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    return (
        member.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )

def minhash_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Cross-source near-dup candidate matrix: for every unordered source
    pair, the number of DISTINCT doc pairs sharing at least one LSH band
    bucket.

    The inter-source contamination signal a mixing pipeline checks before
    weighting sources (and before deciding dedup priority between them):
    a heavy off-diagonal cell means two "independent" sources are feeding
    the mix near-identical text, so their combined weight double-counts
    it. Diagonal cells are within-source duplication mass.

    Same plan skeleton as the pair generator (map-only band keys → one
    shuffle on (band, band_hash) → within-bucket join), then a
    ≤|sources|²-row aggregate — the expensive kernel is shared, the
    output is a fixed-size matrix at any corpus scale.

    The source label RIDES the banded table (r12, guide §2.4: remove
    shuffles outright): ``src`` is functional on the doc id, so carrying
    it through the band explode and the bucket self-join replaces the
    two corpus-wide label joins the first version paid AFTER pair
    distinct-ing. Cost: one short string per banded row through the one
    bucket shuffle; the distinct on (id_a, id_b, src_a, src_b) equals
    the distinct on (id_a, id_b) exactly because src is per-id constant.
    """
    banded = minhash_band_keys(
        df, text_col, id_col, num_hashes, bands,
        carry_cols={"src": F.col(source_col)},
    ).localCheckpoint(eager=True)
    left, right = banded.alias("l"), banded.alias("r")
    labeled = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.least(F.col("l.src"), F.col("r.src")).alias("source_a"),
            F.greatest(F.col("l.src"), F.col("r.src")).alias("source_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
    )
