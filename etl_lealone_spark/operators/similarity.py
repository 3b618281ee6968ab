"""Similarity search over embedding columns (array<float>).

Extension surface from BASELINE.json: approximate nearest neighbor over
the ``embeddings`` table. Two strategies:

- :func:`brute_force_topk` — exact cosine top-k. The query set broadcasts
  (it is small by definition); the corpus streams through a map-only
  dot-product stage and a TakeOrderedAndProject per query. No corpus
  shuffle → scales linearly with corpus size; this is the correctness
  baseline and is oracle-checkable.
- :func:`lsh_topk` — random-hyperplane LSH: corpus is bucketed by a
  sign-bit sketch (map-only, deterministic seed), candidates are fetched
  from the query's bucket (+ multiprobe neighbors), exact cosine re-ranks.
  At 100 TB this turns "scan everything per query" into "scan the
  matching buckets", the standard IVF/LSH trade.

All vector math is built-in (zip_with/aggregate → JVM codegen); doubles
are used throughout so results are deterministic for a fixed fold order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns.

    aggregate() folds left-to-right per row, so the result is
    deterministic regardless of partitioning.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    Returns (query_id, vec_id, cosine_sim, rnk). Tie-break by corpus id so
    output is deterministic. The per-query ranking window partitions by
    query_id — parallel across queries, and the corpus side is never
    shuffled (broadcast nested-loop against the tiny query set).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("qvec"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        cosine(F.col("cvec"), F.col("qvec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rnk")
    )


def hyperplane_sketch(vec: Column, dim: int, num_planes: int = 16, seed: int = 42) -> Column:
    """Sign-bit sketch: bucket id from num_planes pseudo-random hyperplanes.

    Planes are derived deterministically from (seed, plane, coordinate)
    via xxhash64 → uniform in [-1, 1]; identical across engines/runs with
    no stored model. Entirely JVM-side expression.
    """
    def _plane_term(p: int):
        # plane_p[j] = hash(seed, p, j) scaled to [-1, 1]
        def term(v: Column, j: Column) -> Column:
            return v * (
                (F.xxhash64(F.lit(seed), F.lit(p), j) % F.lit(1000001)).cast("double")
                / 1000000.0
            )

        return term

    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.lit(dim - 1)), _plane_term(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def _probe_masks(num_planes: int, depth: int) -> list[int]:
    """XOR masks for all non-empty bucket perturbations of <= depth
    bits. Only depths 1 and 2 are meaningful trades; anything else is
    a caller error, rejected loudly rather than silently probing the
    wrong candidate set (r5 review)."""
    if depth not in (1, 2):
        raise ValueError("multiprobe depth must be 1 or 2")
    masks = [1 << p for p in range(num_planes)]
    if depth == 2:
        masks += [
            (1 << p) | (1 << r)
            for p in range(num_planes)
            for r in range(p + 1, num_planes)
        ]
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    num_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    multiprobe: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket plus
    all <= ``multiprobe``-bit perturbation neighbors, re-ranked by
    exact cosine.

    The corpus is sketched once (map-only) and joined on the 8-byte
    bucket key — the scan per query drops from |corpus| to the expected
    bucket load |corpus| * (probes / 2^planes).

    ``num_planes=None`` auto-tunes to ~64 vectors per bucket: planes =
    log2(n/64). More planes → smaller buckets → faster but lower
    recall; ``multiprobe`` (1 or 2 bit flips, default 2) counteracts
    the shrink — SCALE.md's recall probe shows the depth-1 floor
    decaying with corpus size while depth-2 holds roughly flat.
    """
    if num_planes is None:
        import math

        n = corpus.count()
        num_planes = min(24, max(4, int(math.log2(max(n, 2) / 64)) if n > 128 else 4))
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
    ).withColumn("bucket", hyperplane_sketch(F.col("cvec"), dim, num_planes))

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("qvec"),
    ).withColumn("qbucket", hyperplane_sketch(F.col("qvec"), dim, num_planes))
    # multiprobe: the bucket itself + every <=multiprobe-bit flip. The
    # probe count is 1 + C(planes,1) [+ C(planes,2)] while the candidate
    # fraction rises from ~planes/2^planes to ~planes^2/2^planes: the
    # recall-vs-scale probe (SCALE.md) measured the auto-tuned 1-bit
    # probe decaying from 0.58 to 0.22 recall@10 over a 30x corpus;
    # depth 2 holds the floor ~2x higher. The broadcast probe table
    # carries ONLY (query_id, bucket) — 16 bytes/row — and qvec joins
    # back from the small query set after the bucket match, so the
    # depth-2 fan-out multiplies skinny rows, not 520-byte vectors
    # (r5 review: qvec-in-probes made the broadcast ~8-12x heavier).
    probes = q.select(
        "query_id",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(m).cast("long"))
                    for m in _probe_masks(num_planes, multiprobe)
                ],
            )
        ).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(probes), on="bucket")
        .join(F.broadcast(q.select("query_id", "qvec")), on="query_id")
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("cvec"), F.col("qvec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rnk")
    )


def with_rademacher_bucket(
    df: DataFrame, signs: list[list[int]], vec_col: str = "cvec", out_col: str = "bucket"
) -> DataFrame:
    """Append the sign-projection LSH bucket via one int64 matmul per
    Arrow batch (projections are exact int64 sums; only their signs feed
    the bucket), map-only, and free of the wide-codegen compile cost a
    planes×dim literal-sum expression would pay.
    """
    import numpy as np
    import pandas as pd

    S = np.asarray(signs, dtype=np.int64)  # (planes, dim)
    weights = (np.int64(1) << np.arange(S.shape[0], dtype=np.int64))

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def sketch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            C = _np_rows(pdf[vec_col])
            buckets = ((C @ S.T) > 0).astype(np.int64) @ weights
            out = pdf.copy()
            out[out_col] = buckets
            yield out

    return df.mapInPandas(sketch, schema=f"{fields}, {out_col} long")


def lsh_topk_int(
    corpus: DataFrame,
    k: int = 10,
    n_queries: int = 5,
    dim: int = 64,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Sign-random-projection LSH top-k, fully oracle-checkable.

    Same bucket/multiprobe/re-rank shape as :func:`lsh_topk`, but planes
    are Rademacher ±1 vectors over integer-quantized embeddings
    (xhash.rademacher_signs), so buckets, candidate sets, and the exact
    integer-cosine re-rank are bit-identical in any engine. The corpus
    is sketched map-only and joined on the 8-byte bucket key against the
    broadcast probe set (bucket + all 1-bit flips) — scan per query is
    the expected bucket load, not the corpus.
    """
    from .xhash import rademacher_signs

    signs = rademacher_signs("lsh-plane", num_planes, dim)
    cq = corpus.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("cvec")
    )
    c = with_rademacher_bucket(cq, signs)
    q = with_rademacher_bucket(
        cq.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("cvec").alias("qvec")
        ),
        signs,
        vec_col="qvec",
        out_col="qbucket",
    )
    # skinny (query_id, bucket) broadcast; qvec joins back post-match
    # (same shape rationale as lsh_topk)
    probes = q.select(
        "query_id",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(m).cast("long"))
                    for m in _probe_masks(num_planes, multiprobe)
                ],
            )
        ).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(probes), on="bucket")
        .join(F.broadcast(q.select("query_id", "qvec")), on="query_id")
        .select(
            "query_id",
            "vec_id",
            (
                int_dot(F.col("cvec"), F.col("qvec")).cast("double")
                / (
                    F.sqrt(int_dot(F.col("cvec"), F.col("cvec")).cast("double"))
                    * F.sqrt(int_dot(F.col("qvec"), F.col("qvec")).cast("double"))
                )
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rnk")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join.

    Pairs sharing an LSH bucket are verified with exact cosine; returns
    (id_a, id_b, cosine_sim) above threshold. Same bucket-join shape as
    MinHash dedup — one shuffle on the bucket key.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", hyperplane_sketch(F.col("v"), dim, num_planes))
    l, r = c.alias("l"), c.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.v"), F.col("r.v")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
def quantize(col: Column) -> Column:
    """array<float> → array<bigint>, components ×1e6 floor-rounded.

    Integer arithmetic is exact and associative, so every downstream dot
    product is bit-identical across engines and partitionings (floor(x+0.5)
    rather than round(): engines disagree on round() ties for negatives).
    """
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * 1000000.0 + 0.5).cast("bigint"),
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _np_rows(series) -> "object":
    """Stack a pandas Series of int64 arrays into an (n, dim) ndarray."""
    import numpy as np

    return np.stack(series.to_numpy()).astype(np.int64, copy=False)


def score_int_cosine(
    corpus_q: DataFrame,
    q_ids: list,
    q_vecs: "object",
    id_col: str = "vec_id",
    vec_col: str = "cvec",
    carry_cols: "tuple[tuple[str, str], ...]" = (),
) -> DataFrame:
    """Arrow-vectorized exact cosine scores of quantized vectors.

    ``q_vecs`` is a small (m, dim) int64 ndarray captured in the closure
    (broadcast with the task). Per Arrow batch: ONE int64 matmul — exact,
    associative, bit-identical to the JVM ``aggregate(zip_with(...))``
    fold — then one IEEE double division per pair, identical to
    ``cast(double) / (sqrt(..) * sqrt(..))``. This is the vectorized fast
    path for the same oracle-checked math: int64 matmul has no float
    summation order to diverge on.

    Returns (query_id, vec_id, cosine_sim) — |corpus| × m rows, map-only.
    """
    import numpy as np
    import pandas as pd

    qn = np.sqrt((q_vecs * q_vecs).sum(axis=1).astype(np.float64))
    q_ids_arr = list(q_ids)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            C = _np_rows(pdf[vec_col])
            dots = C @ q_vecs.T  # exact int64
            cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            sims = dots.astype(np.float64) / (cn[:, None] * qn[None, :])
            m = len(q_ids_arr)
            n = len(pdf)
            out = {
                "query_id": np.repeat(np.asarray(q_ids_arr, dtype=np.int64), n),
                "vec_id": np.tile(pdf[id_col].to_numpy(), m),
                "cosine_sim": sims.T.reshape(-1),
            }
            # carried columns ride the SAME Arrow batch (tiled like
            # vec_id) — a per-candidate attribute (e.g. a label) reaches
            # the consumer without a corpus-sized join after the fan-out
            for cname, _ctype in carry_cols:
                out[cname] = np.tile(pdf[cname].to_numpy(), m)
            yield pd.DataFrame(out)

    carry_schema = "".join(f", {c} {t}" for c, t in carry_cols)
    return corpus_q.mapInPandas(
        score, schema="query_id long, vec_id long, cosine_sim double" + carry_schema
    )


def brute_force_topk_int(
    corpus: DataFrame,
    k: int = 10,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact integer-quantized cosine top-k (oracle-checkable) with the
    Arrow/numpy scorer. The tiny query set is collected driver-side (plan
    time), the corpus streams map-only — no corpus shuffle, and the heavy
    math runs as one int64 matmul per Arrow batch instead of interpreted
    per-row Catalyst folds (~100× less expression overhead)."""
    cq = corpus.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("cvec")
    )
    q_rows = (
        cq.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .collect()
    )
    import numpy as np

    q_ids = [r["vec_id"] for r in q_rows]
    q_vecs = np.asarray([r["cvec"] for r in q_rows], dtype=np.int64)
    # no repartition: the matmul is so cheap per batch that parallelism
    # only matters once the input itself arrives in many splits (cluster
    # scale), and a shuffle here would cost more than it buys
    scored = score_int_cosine(cq, q_ids, q_vecs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rnk")
    )


def ivf_topk(
    corpus: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN top-k: deterministic coarse quantizer + cluster probe.

    The standard inverted-file trade (FAISS IVF-flat shape) expressed as
    DataFrame ops, fully deterministic so it is DuckDB-oracle-checkable:

    1. **Centroids** = every ``stride``-th vector (stride = floor(sqrt(n))),
       so ~sqrt(n) clusters — deterministic stand-in for k-means (which
       would need order-dependent float averaging).
    2. **Assignment** (the build phase): each corpus vector joins the
       broadcast centroid table and keeps its best centroid via a
       map-side-partial ``max(struct(sim, -cid))`` aggregate — the shuffle
       carries one row per vector. At 100 TB the assignment is written
       once, partitioned by ``cid``, so probes become partition-pruned
       scans instead of full scans.
    3. **Probe** (the query phase): each query ranks centroids, takes the
       ``n_probe`` best, and only those clusters' vectors are scored with
       exact cosine — scan drops from |corpus| to ~n_probe/sqrt(n) of it.

    All vector math is integer-quantized (``quantize``); similarity is one
    IEEE double division of exact integers. Ties break toward the lower id
    in every ranking, matching the SQL oracle's ``ORDER BY sim DESC, id``.
    """
    import math

    cq = corpus.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("cvec")
    )
    n = cq.count()
    stride = max(1, int(math.floor(math.sqrt(float(n)))))

    # id-modulo centroid selection is oracle-mirrored (the DuckDB twin
    # recomputes the identical rule) and assumes reasonably dense ids;
    # a corpus whose ids share no multiple of the stride would select
    # zero centroids — fail with the actionable message rather than an
    # opaque downstream error (IvfPqIndex uses hash-order selection and
    # has no such contract).
    cent = cq.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("cvec").alias("centvec"),
    )
    if cent.isEmpty():
        raise ValueError(
            f"ivf_topk: no vec_id is a multiple of stride {stride}; "
            "ids too sparse for the modulo centroid rule — use IvfPqIndex"
        )
    cent = cent.withColumn(
        "cnorm", F.sqrt(int_dot(F.col("centvec"), F.col("centvec")).cast("double"))
    )

    # build: nearest centroid per vector (partial agg → shuffle is n rows)
    sim_c = (
        int_dot(F.col("cvec"), F.col("centvec")).cast("double") / F.col("cnorm")
    ).alias("sim")
    assign = (
        cq.join(F.broadcast(cent))
        .select("vec_id", "cvec", "cid", sim_c)
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("negcid"))).alias("best"),
            F.first("cvec").alias("cvec"),
        )
        .select("vec_id", "cvec", (-F.col("best.negcid")).alias("cid"))
    )

    # query side: rank centroids, probe the n_probe best
    q = cq.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("cvec").alias("qvec")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cid"))
    probe = (
        q.join(F.broadcast(cent))
        .select(
            "query_id",
            "cid",
            (int_dot(F.col("qvec"), F.col("centvec")).cast("double") / F.col("cnorm")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cid")
    )

    # probe join is broadcast (n_queries × n_probe rows) → map-only fetch
    cand = assign.join(F.broadcast(probe), on="cid").join(
        F.broadcast(q), on="query_id"
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        (
            int_dot(F.col("cvec"), F.col("qvec")).cast("double")
            / (
                F.sqrt(int_dot(F.col("cvec"), F.col("cvec")).cast("double"))
                * F.sqrt(int_dot(F.col("qvec"), F.col("qvec")).cast("double"))
            )
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rnk")
    )


class IvfIndex:
    """Persisted IVF(-flat) index: build once, probe partition-pruned.

    Layout under ``root``:
      _meta.json  — {"n": vectors, "stride": centroid stride}
      centroids/  — (cid, centvec, cnorm) parquet, ~sqrt(n) rows
      assign/     — (vec_id, cvec) parquet, hive-partitioned by cid

    The 100 TB shape :func:`ivf_topk` only sketches: the n × sqrt(n)
    centroid-assignment cost is paid ONCE at build time (one int64 matmul
    per Arrow batch — exact, so results stay DuckDB-oracle-checkable),
    and every probe afterwards reads ONLY the ``n_probe`` matching
    partition directories — a ~n_probe/sqrt(n) fraction of the corpus,
    partition-pruned at the parquet source. Same inverted-file trade as
    FAISS IVF-flat, expressed as parquet layout + DataFrame ops.
    """

    def __init__(self, spark, root: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.vec_col = vec_col
        self._recover_compaction()  # heal an interrupted compact() swap

    # -- layout ---------------------------------------------------------
    @property
    def _meta_path(self) -> str:
        import os

        return os.path.join(self.root, "_meta.json")

    def exists(self) -> bool:
        import os

        return os.path.exists(self._meta_path)

    # process-wide centroid cache: centroids are train-once (append()
    # never changes them) and ~sqrt(n) rows, so re-collecting them on
    # every probe call is pure fixed cost (~0.15-0.2s/probe measured at
    # sf0.1). Keyed by the centroids directory LISTING (part-file names
    # are unique per write, plus sizes and ns-mtimes) — a force-rebuild
    # always changes the key even within one coarse-mtime tick, which a
    # _meta.json-mtime key could miss (r5 advisor). FAISS keeps the
    # coarse quantizer in RAM for the same reason.
    _CENTROID_CACHE: dict = {}
    _CENTROID_CACHE_MAX = 8

    @staticmethod
    def _centroid_cache_key(root: str):
        import os

        cdir = os.path.join(root, "centroids")
        try:
            entries = tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in os.scandir(cdir)
                    if e.name.endswith(".parquet")
                )
            )
        except OSError:
            return None
        return (os.path.realpath(root), entries) if entries else None

    # -- shared kernels ---------------------------------------------------
    def _load_centroids(self, root: str | None = None):
        """(cids, CENT, cn) numpy views of the trained centroid table,
        cid-ascending (ties in the assigner pick the lowest cid)."""
        import os

        import numpy as np

        r = root or self.root
        key = self._centroid_cache_key(r)
        if key is not None:
            hit = IvfIndex._CENTROID_CACHE.get(key)
            if hit is not None:
                return hit
        cent_rows = sorted(
            self.spark.read.parquet(os.path.join(r, "centroids")).collect(),
            key=lambda r: r["cid"],
        )
        cids = np.asarray([r["cid"] for r in cent_rows], dtype=np.int64)
        CENT = np.asarray([r["centvec"] for r in cent_rows], dtype=np.int64)
        cn = np.asarray([r["cnorm"] for r in cent_rows], dtype=np.float64)
        out = (cids, CENT, cn)
        if key is not None:
            if len(IvfIndex._CENTROID_CACHE) >= IvfIndex._CENTROID_CACHE_MAX:
                IvfIndex._CENTROID_CACHE.pop(
                    next(iter(IvfIndex._CENTROID_CACHE))
                )
            IvfIndex._CENTROID_CACHE[key] = out
        return out

    @staticmethod
    def _assign_fn(cids, CENT, cn):
        """mapInPandas kernel: best-centroid assignment by exact int64
        dot products; ties pick the lowest cid (argmax takes the first
        max and CENT rows are cid-ascending) — matches the oracle's
        ORDER BY sim DESC, cid."""
        import numpy as np
        import pandas as pd

        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                C = _np_rows(pdf["cvec"])
                sims = (C @ CENT.T).astype(np.float64) / cn[None, :]
                best = np.argmax(sims, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cvec": pdf["cvec"],
                        "cid": cids[best],
                    }
                )

        return assign

    # -- build ----------------------------------------------------------
    def build(self, corpus: DataFrame, force: bool = False) -> None:
        """Quantize, pick stride centroids, assign every vector to its
        best centroid (vectorized), write assign/ partitioned by cid."""
        import json
        import math
        import os
        import shutil

        import numpy as np
        import pandas as pd

        if self.exists() and not force:
            return
        cq = corpus.select(
            F.col(self.id_col).alias("vec_id"), quantize(F.col(self.vec_col)).alias("cvec")
        )
        n = cq.count()
        stride = max(1, int(math.floor(math.sqrt(float(n)))))
        sel = cq.filter(F.col("vec_id") % stride == 0)
        if sel.isEmpty():
            raise ValueError(
                f"IvfIndex: no vec_id is a multiple of stride {stride}; "
                "ids too sparse for the modulo centroid rule — use IvfPqIndex"
            )
        cent = (
            sel
            .select(F.col("vec_id").alias("cid"), F.col("cvec").alias("centvec"))
            .withColumn(
                "cnorm",
                F.sqrt(int_dot(F.col("centvec"), F.col("centvec")).cast("double")),
            )
        )
        tmp = self.root + ".build"
        shutil.rmtree(tmp, ignore_errors=True)
        cent.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        assign = self._assign_fn(*self._load_centroids(tmp))
        cq.mapInPandas(
            assign, schema="vec_id long, cvec array<bigint>, cid long"
        ).write.mode("overwrite").partitionBy("cid").parquet(os.path.join(tmp, "assign"))
        max_id = cq.agg(F.max("vec_id")).collect()[0][0]
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump({"n": n, "stride": stride, "max_id": int(max_id)}, f)
        # publish: a force-rebuild must replace the existing directory
        # (os.rename onto a non-empty dir raises, which would silently
        # keep the STALE index); swap via .old so a crash leaves either
        # the old or the new index, never neither
        if os.path.exists(self.root):
            old = self.root + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(self.root, old)
            try:
                os.rename(tmp, self.root)
            except OSError:
                os.rename(old, self.root)  # restore; lost a concurrent race
                shutil.rmtree(tmp, ignore_errors=True)
                return
            shutil.rmtree(old, ignore_errors=True)
        else:
            try:
                os.rename(tmp, self.root)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost a build race

    # -- incremental maintenance -----------------------------------------
    def append(self, batch: DataFrame) -> int:
        """Assign NEW vectors to the existing trained centroids and
        append them to the inverted lists; returns the number added.

        The FAISS train-once/add-many contract: centroids stay fixed
        (probe results remain comparable across appends), new vectors
        land in their centroid's parquet partition directory — the only
        writes are to the probed-at-read, partition-pruned assign/ table,
        so maintenance cost is O(|batch| x sqrt(n_train)) with no touch
        of existing lists. Idempotent by vec_id WITHOUT a full-index
        scan per batch: the meta file tracks the max indexed id, so ids
        above it are provably new and skip the duplicate check entirely
        — for monotone id streams (the normal ingest shape) steady-state
        cost is O(|batch|) no matter how big the index grows. Only ids
        at-or-below the high-water mark (replay suspects) anti-join
        against the index's id column (column-pruned scan). The
        streaming carrier (streaming.ann_maintenance.
        StreamingIvfMaintainer) relies on this for its exactly-once
        story. Re-train by rebuilding with ``build(corpus, force=True)``
        when drift warrants it.
        """
        import json
        import os

        if not self.exists():
            raise ValueError("IvfIndex.append: build() an index first")
        cq = batch.select(
            F.col(self.id_col).alias("vec_id"),
            quantize(F.col(self.vec_col)).alias("cvec"),
        ).dropDuplicates(["vec_id"])
        with open(self._meta_path) as f:
            meta = json.load(f)
        max_id = meta.get("max_id")
        if max_id is not None:
            suspects = cq.filter(F.col("vec_id") <= max_id)
            fresh = cq.filter(F.col("vec_id") > max_id)
            if not suspects.isEmpty():
                existing = self.spark.read.parquet(
                    os.path.join(self.root, "assign")
                )
                suspects = suspects.join(
                    existing.select("vec_id"), "vec_id", "left_anti"
                )
                cq = fresh.unionByName(suspects)
            else:
                cq = fresh
        else:  # pre-max_id index layout: full anti-join fallback
            existing = self.spark.read.parquet(os.path.join(self.root, "assign"))
            cq = cq.join(existing.select("vec_id"), "vec_id", "left_anti")
        assign = self._assign_fn(*self._load_centroids())
        out = cq.mapInPandas(
            assign, schema="vec_id long, cvec array<bigint>, cid long"
        ).localCheckpoint(eager=True)  # one compute: count + write
        n_new = out.count()
        if n_new:
            out.write.mode("append").partitionBy("cid").parquet(
                os.path.join(self.root, "assign")
            )
            meta["n"] = int(meta["n"]) + int(n_new)
            batch_max = out.agg(F.max("vec_id")).collect()[0][0]
            if max_id is not None:
                meta["max_id"] = max(int(max_id), int(batch_max))
            else:
                meta["max_id"] = int(
                    self.spark.read.parquet(os.path.join(self.root, "assign"))
                    .agg(F.max("vec_id"))
                    .collect()[0][0]
                )
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_path)
        return int(n_new)

    def _compact_lock(self):
        """Advisory exclusive lock (flock on ``<root>/_compact.lock``)
        serializing compaction and crash recovery per index root:
        without it, a second process CONSTRUCTING the index while
        another's compact() is mid-swap would rmtree the live staging
        dir or "restore" a backup that is not stale (r7 advisor
        finding — build() explicitly tolerates concurrent processes on
        shared /tmp roots, so compact must too). A crashed holder's
        lock is released by the kernel, so recovery still runs after
        real crashes. Returns an open fd holding the lock, or None if
        the root is missing or another process holds it. Same-machine
        scope only (flock; matches the /tmp shared-root usage)."""
        import fcntl
        import os

        if not os.path.isdir(self.root):
            return None
        fd = os.open(
            os.path.join(self.root, "_compact.lock"),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            return None
        return fd

    def _recover_compaction(self) -> None:
        """Heal a compact() interrupted between its two renames —
        lock-guarded: skipped (not blocked) when another process holds
        the compaction lock, because leftover staging/backup state then
        belongs to a LIVE compact, not a crash. Called from __init__
        and compact(), so the next index use after a crash self-heals
        before any read can miss a partition."""
        import fcntl
        import os

        fd = self._compact_lock()
        if fd is None:
            return
        try:
            self._recover_compaction_locked()
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _recover_compaction_locked(self) -> None:
        """Recovery body (callers hold the compaction lock): if a
        ``_compact_old_cid=N`` backup exists while ``assign/cid=N`` is
        missing, the crash hit the window after the live dir moved away
        and before the staging dir moved in — restore the backup (the
        staging copy may be incomplete; the backup is the pre-compact
        truth). If the live dir EXISTS alongside a backup, the swap
        finished and only the cleanup was lost — drop the backup."""
        import os
        import shutil

        if not os.path.isdir(self.root):
            return
        assign_root = os.path.join(self.root, "assign")
        for entry in os.listdir(self.root):
            if not entry.startswith("_compact_old_cid="):
                continue
            backup = os.path.join(self.root, entry)
            live = os.path.join(assign_root, entry[len("_compact_old_") :])
            if os.path.isdir(live):
                shutil.rmtree(backup, ignore_errors=True)
            else:
                os.rename(backup, live)
        shutil.rmtree(
            os.path.join(self.root, "_compact_staging"), ignore_errors=True
        )

    def compact(self, max_files: int = 8) -> int:
        """Small-file maintenance for the inverted lists (the IVF twin
        of SnapshotTable.compact): every :meth:`append` batch adds one
        parquet file per touched cid partition, so a long-running
        StreamingIvfMaintainer accretes files until probe task counts
        scale with batches, not bytes. Rewrites ONLY cid partitions
        whose data-file count exceeds ``max_files`` — one Spark job
        reads the hot partitions (partition-pruned) and writes them
        compacted to a staging dir, then each partition directory is
        swapped via a backup rename pair; a crash inside the swap
        window is healed by :meth:`_recover_compaction` (runs at
        construction and at the next compact), restoring the pre-swap
        backup, so every partition ends fully old or fully new. Returns
        the number of partitions compacted. Centroids, _meta.json, and
        probe results are untouched (row-identity pinned by test).
        Lock-guarded end to end (swap included): a concurrent compact()
        or recovery on the same root skips instead of interleaving —
        returns 0 in that case."""
        import fcntl
        import os

        lock_fd = self._compact_lock()
        if lock_fd is None:
            return 0  # missing root, or another process compacting
        try:
            return self._compact_locked(max_files)
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
            os.close(lock_fd)

    def _compact_locked(self, max_files: int) -> int:
        import os
        import shutil

        self._recover_compaction_locked()
        assign_root = os.path.join(self.root, "assign")
        if not os.path.isdir(assign_root):
            return 0
        hot: list[str] = []
        for entry in os.listdir(assign_root):
            d = os.path.join(assign_root, entry)
            if not entry.startswith("cid=") or not os.path.isdir(d):
                continue
            n = sum(
                1
                for f in os.listdir(d)
                if not f.startswith(("_", ".")) and not os.path.isdir(os.path.join(d, f))
            )
            if n > max_files:
                hot.append(entry)
        if not hot:
            return 0
        hot_cids = [int(e.split("=", 1)[1]) for e in hot]
        # staging dir OUTSIDE assign/ so partition discovery never sees
        # half-written data; underscore prefix keeps Spark readers out
        staging = os.path.join(self.root, "_compact_staging")
        shutil.rmtree(staging, ignore_errors=True)
        (
            self.spark.read.parquet(assign_root)
            .filter(F.col("cid").isin(hot_cids))  # partition-pruned scan
            .repartition("cid")  # one task per cid -> one file each
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(staging)
        )
        n_done = 0
        for entry in hot:
            src = os.path.join(staging, entry)
            if not os.path.isdir(src):
                continue  # partition vanished (shouldn't happen)
            live = os.path.join(assign_root, entry)
            old = os.path.join(self.root, f"_compact_old_{entry}")
            shutil.rmtree(old, ignore_errors=True)
            os.rename(live, old)
            try:
                os.rename(src, live)
            except OSError:
                os.rename(old, live)  # restore; partition stays uncompacted
                continue
            shutil.rmtree(old, ignore_errors=True)
            n_done += 1
        shutil.rmtree(staging, ignore_errors=True)
        return n_done

    # -- probe ----------------------------------------------------------
    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        max_queries: int = 10_000,
    ) -> DataFrame:
        """Top-k for a SMALL query set (the interactive probe shape:
        the query set is collected driver-side to rank centroids —
        fine for thousands of queries, wrong for millions; use
        :meth:`topk_batch` for offline large-query-set reprocessing).
        ``qvec`` must be quantized (array<bigint>). Reads only the
        probed cid partitions.

        The small-query-set contract is ENFORCED, not advisory (r7
        verdict residual #3): the collect is LIMIT-bounded to
        ``max_queries + 1`` rows, and exceeding ``max_queries`` raises
        a typed error naming :meth:`topk_batch` — an unbounded query
        frame can never OOM the driver through this path."""
        import os

        import numpy as np
        import pandas as pd

        q_rows = queries.orderBy(query_id_col).limit(max_queries + 1).collect()
        if len(q_rows) > max_queries:
            raise ValueError(
                f"IvfIndex.topk: query set exceeds max_queries="
                f"{max_queries} — this interactive path collects queries "
                "driver-side; use topk_batch for large query sets (it "
                "never collects them), or raise max_queries explicitly"
            )
        q_ids = np.asarray([r[query_id_col] for r in q_rows], dtype=np.int64)
        Q = np.asarray([r[query_vec_col] for r in q_rows], dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

        cids, CENT, cn = self._load_centroids()

        # rank centroids per query driver-side (m × sqrt(n) — tiny)
        csims = (Q @ CENT.T).astype(np.float64) / cn[None, :]
        pairs = []
        for i, qid in enumerate(q_ids):
            order = np.lexsort((cids, -csims[i]))  # sim desc, cid asc
            for cid in cids[order[:n_probe]]:
                pairs.append((int(qid), int(cid)))
        probed_cids = sorted({cid for _, cid in pairs})

        assign = self.spark.read.parquet(os.path.join(self.root, "assign"))
        # filter BEFORE the cast so the parquet source partition-prunes
        cand = (
            assign.filter(F.col("cid").isin(probed_cids))
            .withColumn("cid", F.col("cid").cast("long"))
            .join(
                F.broadcast(
                    self.spark.createDataFrame(pairs, "query_id long, cid long")
                ),
                on="cid",
            )
        )
        qvec_by_id = {int(q): Q[i] for i, q in enumerate(q_ids)}
        qn_by_id = {int(q): float(qn[i]) for i, q in enumerate(q_ids)}

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                C = _np_rows(pdf["cvec"])
                Qsel = np.stack([qvec_by_id[q] for q in pdf["query_id"]])
                dots = np.einsum("ij,ij->i", C, Qsel)  # exact int64 row dots
                cnr = np.sqrt((C * C).sum(axis=1).astype(np.float64))
                qnr = np.asarray([qn_by_id[q] for q in pdf["query_id"]])
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "vec_id": pdf["vec_id"],
                        "cosine_sim": dots.astype(np.float64) / (cnr * qnr),
                    }
                )

        scored = cand.mapInPandas(
            score, schema="query_id long, vec_id long, cosine_sim double"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cosine_sim", "rnk")
        )

    def topk_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        carry: "DataFrame | None" = None,
        query_label_col: "str | None" = None,
        cand_label_col: "str | None" = None,
    ) -> DataFrame:
        """Batch-scoring twin of :meth:`topk` for LARGE query sets — the
        offline-reprocessing shape (r6 verdict task 3): the query set is
        never collected driver-side, so it can be millions of rows.

        Dataflow (each stage distributed):
        1. centroids (~sqrt(n) rows, train-once) ship in the kernel
           closure; an Arrow-batched mapInPandas assigns each query its
           ``n_probe`` probe cids executor-side — (query_id, cid) pairs
           only, no vectors duplicated;
        2. the probed-cid SET (bounded by the centroid count, NOT the
           query count) is collected for parquet partition pruning of
           the assign/ table — the only driver materialization;
        3. query vectors join back by query_id (shuffle join — scales
           with the query set), then a cid-cogrouped applyInPandas
           scores each probe cluster against its queries with one exact
           int64 matmul per group, emitting per-(query, cid) top-k
           partials;
        4. a keyed window takes the global per-query top-k.

        Row-identical to :meth:`topk` (same quantized arithmetic, same
        (sim DESC, cid/vec_id ASC) tie-breaks; pinned by test and by the
        shared DuckDB oracle). ``query_id`` must be unique per query.

        Carry / label hooks (r8 verdict task — the hard-negative batch
        path): ``carry`` is a (vec_id, attributes…) frame joined onto
        the candidate side BEFORE the cogrouped scorer — one co-keyed
        corpus-sized join, never a join of the |corpus| × m scored
        fan-out — and its non-key columns ride the Arrow batches into
        the output. When ``query_label_col`` (a column of ``queries``)
        and ``cand_label_col`` (a column of ``carry``) are both set,
        same-label (query, candidate) pairs are EXCLUDED inside the
        score kernel before the per-group top-k — the different-label
        filter of hard-negative mining, applied where it must be so the
        k survivors are the k best VALID candidates.
        """
        import os

        import numpy as np
        import pandas as pd

        if (query_label_col is None) != (cand_label_col is None):
            raise ValueError(
                "topk_batch: query_label_col and cand_label_col must be "
                "set together (the different-label filter needs both)"
            )
        if cand_label_col is not None and carry is None:
            raise ValueError(
                "topk_batch: cand_label_col requires a carry frame "
                "providing it"
            )

        cids, CENT, cn = self._load_centroids()

        # Pin the query lineage ONCE: both the probe assignment and the
        # qvec join-back consume it, and a nondeterministic source
        # (sample, unordered limit, concurrently-appended view) evaluated
        # twice would score a query against clusters ranked for a
        # DIFFERENT vector — silently wrong top-k. Lazy checkpoint: it
        # materializes on the first action (the pairs checkpoint) and is
        # reused by the join.
        qcols = [
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ]
        if query_label_col is not None:
            qcols.append(F.col(query_label_col).alias("_qlab"))
        queries = queries.select(*qcols).localCheckpoint(eager=False)
        query_id_col, query_vec_col = "query_id", "qvec"

        def assign_probes(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = _np_rows(pdf[query_vec_col])
                sims = (Q @ CENT.T).astype(np.float64) / cn[None, :]
                # stable argsort over cid-ascending columns == the
                # per-query path's lexsort((cids, -csims)): sim DESC,
                # cid ASC on ties
                order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
                reps = order.shape[1]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            pdf[query_id_col].to_numpy(), reps
                        ),
                        "cid": cids[order].ravel(),
                    }
                )

        pairs = queries.mapInPandas(
            assign_probes, schema="query_id long, cid long"
        ).localCheckpoint(eager=True)  # consumed by distinct + join
        probed_cids = sorted(
            r["cid"] for r in pairs.select("cid").distinct().collect()
        )
        assign = self.spark.read.parquet(os.path.join(self.root, "assign"))
        cand = assign.filter(F.col("cid").isin(probed_cids)).select(
            F.col("vec_id"), F.col("cvec"), F.col("cid").cast("long").alias("cid")
        )
        carry_fields: list = []
        if carry is not None:
            carry_fields = [f for f in carry.schema.fields if f.name != "vec_id"]
            if not carry_fields:
                raise ValueError("topk_batch: carry frame has no non-key columns")
            cand = cand.join(carry, "vec_id")
        carry_names = [f.name for f in carry_fields]
        qside = pairs.join(queries, "query_id")

        def score_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "vec_id": pd.Series(dtype="int64"),
                    "cosine_sim": pd.Series(dtype="float64"),
                    **{c: pd.Series(dtype="object") for c in carry_names},
                }
            )
            if left.empty or right.empty:
                return empty
            right = right.sort_values("vec_id")  # vec_id ASC tie-break
            C = _np_rows(right["cvec"])
            vids = right["vec_id"].to_numpy()
            cl = (
                right[cand_label_col].to_numpy()
                if cand_label_col is not None
                else None
            )
            cnr = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            out = []
            kk = min(k, len(vids))
            for lo in range(0, len(left), 2048):  # bound the sim matrix
                chunk = left.iloc[lo : lo + 2048]
                Q = _np_rows(chunk["qvec"])
                qnr = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
                dots = Q @ C.T  # exact int64
                sims = dots.astype(np.float64) / (cnr[None, :] * qnr[:, None])
                if cl is not None:
                    # different-label filter BEFORE top-k: same-label
                    # candidates sink to -inf (stable sort keeps vec_id
                    # ASC ties) and are dropped after selection, so the
                    # kk survivors are the kk best VALID candidates
                    ql = chunk["_qlab"].to_numpy()
                    sims = np.where(cl[None, :] == ql[:, None], -np.inf, sims)
                top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                flat_sims = np.take_along_axis(sims, top, axis=1).ravel()
                cols = {
                    "query_id": np.repeat(chunk["query_id"].to_numpy(), kk),
                    "vec_id": vids[top].ravel(),
                    "cosine_sim": flat_sims,
                }
                for c in carry_names:
                    cols[c] = right[c].to_numpy()[top].ravel()
                pdf = pd.DataFrame(cols)
                if cl is not None:
                    pdf = pdf[np.isfinite(flat_sims)]
                out.append(pdf)
            return pd.concat(out, ignore_index=True) if out else empty

        carry_schema = "".join(
            f", {f.name} {f.dataType.simpleString()}" for f in carry_fields
        )
        scored = (
            qside.groupBy("cid")
            .cogroup(cand.groupBy("cid"))
            .applyInPandas(
                score_group,
                schema="query_id long, vec_id long, cosine_sim double"
                + carry_schema,
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", *carry_names, "cosine_sim", "rnk")
        )


# ---------------------------------------------------------------------------
# embedding preprocessing — int8 quantization
# ---------------------------------------------------------------------------
def quantize_int8(col: Column) -> Column:
    """array<float> → symmetric int8-style quantization: round(x*127/max|x|).

    The storage trade every vector store makes at scale (4 bytes → 1 byte
    per component, ~1% recall loss). Scale is per-vector max-abs computed
    on the exact integer form, so both the scale and the quantized codes
    are engine-reproducible. Returns array<int> in [-127, 127]; pair with
    :func:`quantize_int8_scale` to reconstruct.
    """
    qv = quantize(col)
    mx = F.array_max(F.transform(qv, lambda x: F.abs(x)))
    return F.transform(
        qv,
        lambda x: F.floor(x.cast("double") * 127.0 / mx.cast("double") + 0.5).cast(
            "int"
        ),
    )


def quantize_int8_scale(col: Column, decimals: int = 6) -> Column:
    """Per-vector dequantization scale (max|x| / 127) matching
    :func:`quantize_int8`, rounded for hash stability."""
    qv = quantize(col)
    mx = F.array_max(F.transform(qv, lambda x: F.abs(x)))
    return F.round(mx.cast("double") / 1000000.0 / 127.0, decimals)

# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style): blocked cosine pairs -> clusters -> keep-one
# ---------------------------------------------------------------------------
def blocked_cosine_pairs_int(
    corpus: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine near-dup pairs within blocks, on integer-quantized
    vectors (engine-exact; see :func:`quantize`).

    The pair space is bounded by the blocking key — at 100 TB the block
    is a coarse cluster id (IVF cell / LSH bucket), which is exactly the
    SemDeDup recipe (Abbas et al. 2023): cluster with a cheap index, then
    compare only within clusters. One shuffle on the block key; the
    within-block pairwise scoring runs as Arrow-batched int64 matmuls
    (``applyInPandas`` per block) instead of an expression self-join —
    the dot products are exact integers and the final division repeats
    the oracle's IEEE ops bit-for-bit, so vectorizing changes nothing
    the value-hash can see (measured ~50× over the interpreted
    ``aggregate(zip_with(...))`` fold on the quadratic pair space).
    Skewed blocks bound the stage: SemDeDup caps cluster sizes upstream;
    row-chunking inside the kernel bounds memory to chunk×|block|.
    """
    import numpy as np
    import pandas as pd

    q = corpus.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        quantize(F.col(vec_col)).alias("v"),
    )

    chunk = 1024

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy()
        V = _np_rows(pdf["v"])
        nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        # float64 matmul is EXACT for these integers (products ≤ 1e12,
        # partial sums ≤ dim·1e12 < 2^53 — every intermediate is an
        # exactly-representable integer, any summation order), and it
        # runs on BLAS; int64 matmul has no BLAS path (~6× slower)
        Vf = V.astype(np.float64)
        out_a: list = []
        out_b: list = []
        for s in range(0, len(ids), chunk):
            e = min(s + chunk, len(ids))
            dots = Vf[s:e] @ Vf.T  # exact (see above)
            sims = dots / (nrm[s:e, None] * nrm[None, :])
            ii, jj = np.nonzero(sims >= threshold)
            keep = ids[s:e][ii] < ids[jj]  # each unordered pair once
            out_a.append(ids[s:e][ii][keep])
            out_b.append(ids[jj][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
            }
        )

    return q.groupBy("blk").applyInPandas(block_pairs, "id_a long, id_b long")


def semantic_dedup_survivors(
    corpus: DataFrame,
    threshold: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: keep one document per
    embedding-similarity cluster.

    Pipeline: blocked exact-cosine pairs above ``threshold`` →
    connected components (min-label propagation, operators/dedup.py) →
    drop every cluster member except the minimum id. Returns the
    surviving (id, block) rows — singletons pass through untouched via
    an anti-join, so the corpus is never materialized driver-side.

    Scale shape: one block-key shuffle for pairs, O(log diameter)
    label-propagation rounds over the (tiny) pair graph, one broadcast
    anti-join of losers against the corpus.
    """
    from .dedup import connected_components

    pairs = blocked_cosine_pairs_int(
        corpus, threshold, block_col=block_col, id_col=id_col, vec_col=vec_col
    )
    clusters = connected_components(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("loser_id")
    )
    return corpus.join(
        F.broadcast(losers),
        corpus[id_col] == losers["loser_id"],
        "left_anti",
    ).select(id_col, block_col)

def hard_negatives_int(
    corpus: DataFrame,
    k: int = 5,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    index: "IvfIndex | None" = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar vectors with a DIFFERENT label.

    The embedding-training data op (in-batch negatives are easy; the
    negatives that actually move a model are the near-boundary ones):
    rank every cross-label candidate by exact int-quantized cosine and
    keep the k hardest. Same execution shape as brute_force_topk_int —
    tiny query set collected at plan time, corpus streams map-only
    through the Arrow int64-matmul scorer, one WindowGroupLimit top-k —
    plus one label filter; the candidate labels ride the same scan.
    At production scale the scorer swaps for the IVF probe
    (:func:`hard_negatives_int_batch` over ``IvfIndex.topk_batch``):
    only the candidate generator differs, the different-label filter
    and top-k are identical. Pass ``index`` to make the >512 routing
    automatic instead of an error.
    """
    if n_queries > 512:
        # same contract as IvfIndex.topk's query cap: this path collects
        # the query set driver-side — past a few hundred queries, route
        # through the distributed batch scorer (never collects queries).
        if index is not None:
            return hard_negatives_int_batch(
                corpus, index, k=k, n_queries=n_queries, id_col=id_col,
                vec_col=vec_col, label_col=label_col,
            )
        raise ValueError(
            f"hard_negatives_int: n_queries {n_queries} > 512; use "
            "hard_negatives_int_batch (IvfIndex.topk_batch with the "
            "label carry) for large query sets, or pass index= to "
            "route automatically"
        )
    cq = corpus.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("cvec"),
        F.col(label_col).alias("clab"),
    )
    q_rows = (
        cq.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    )
    import numpy as np

    q_ids = [r["vec_id"] for r in q_rows]
    q_vecs = np.asarray([r["cvec"] for r in q_rows], dtype=np.int64)
    # candidate labels ride the scorer's Arrow batches (carry_cols) and
    # the m query labels become a literal CASE — NO post-fan-out join of
    # the |corpus| x m scored stream anywhere
    scored = score_int_cosine(
        cq, q_ids, q_vecs, carry_cols=(("clab", "int"),)
    )
    q_labs = {r["vec_id"]: r["clab"] for r in q_rows}
    qlab = F.lit(None).cast("int")
    for qid, lab in q_labs.items():
        qlab = F.when(F.col("query_id") == qid, F.lit(lab)).otherwise(qlab)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.filter(F.col("clab") != qlab)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", F.col("clab").alias("neg_label"),
                "cosine_sim", "rnk")
    )


def hard_negatives_int_batch(
    corpus: DataFrame,
    index: "IvfIndex",
    k: int = 5,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_probe: "int | None" = None,
) -> DataFrame:
    """Batch twin of :func:`hard_negatives_int` — the production-scale
    path the r8 guard routes to: queries are NEVER collected driver-side
    (they stream through ``IvfIndex.topk_batch``'s executor-side probe
    assignment), and candidate labels arrive via the carry join — one
    co-keyed corpus-sized join before the cogrouped scorer, never a join
    of the scored fan-out. The different-label filter runs inside the
    score kernel before the per-group top-k.

    ``n_probe=None`` probes EVERY cluster — the candidate set is the
    full corpus, making the result row-identical to
    :func:`hard_negatives_int` (same int64 cosine, same tie-breaks;
    pinned by test and by the shared DuckDB oracle). Set ``n_probe`` to
    a small value for the IVF approximation trade at 100 TB, where
    scanning the full corpus per query is the thing being avoided.
    """
    if not index.exists():
        index.build(corpus)
    q = corpus.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        quantize(F.col(vec_col)).alias("qvec"),
        F.col(label_col).alias("_hn_qlab"),
    )
    carry = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("neg_label")
    )
    if n_probe is None:
        cids, _, _ = index._load_centroids()
        n_probe = len(cids)
    return index.topk_batch(
        q, k=k, n_probe=n_probe, carry=carry,
        query_label_col="_hn_qlab", cand_label_col="neg_label",
    ).select("query_id", "vec_id", "neg_label", "cosine_sim", "rnk")
