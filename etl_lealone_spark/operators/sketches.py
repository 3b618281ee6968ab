"""Approximate-aggregation sketches, cross-engine deterministic.

At 100 TB, exact DISTINCT / quantiles over high-cardinality columns are
shuffle-bound: every distinct value crosses the network once. The
standard fix is a mergeable sketch. This module implements the two
sketches whose *estimates themselves* are deterministic functions of the
data — so the driver's DuckDB oracle can recompute them bit-for-bit,
unlike engine-specific HLL registers (Spark's ``approx_count_distinct``
HLL++ and DuckDB's ``approx_distinct`` disagree by construction; the
native HLL stays available through the function registry and is
tolerance-tested in pytest):

- **KMV (k-minimum-values) distinct sketch** (Bar-Yossef et al. 2002,
  the "theta sketch" bottom-k special case): hash every value with the
  repo's cross-engine md5-based 60-bit family (operators/xhash.py), keep
  the k smallest *distinct* hashes. The k-th smallest hash estimates the
  distinct count as ``(k-1) / kth_normalized``. The sketch is a set →
  union-mergeable across partitions, shards, and even engines; Spark
  computes it as partial-distinct + ``TakeOrderedAndProject`` (a k-item
  heap per partition, k rows shuffled — never the values themselves).
- **Hash-threshold uniform sample** for quantile estimation: rows whose
  key-hash lands under ``2^60 / rate`` form a deterministic 1/rate
  sample (the same rows in every engine/run — unlike Bernoulli
  ``TABLESAMPLE``); exact interpolated quantiles over the sample
  approximate the population quantiles with the usual sqrt(n) error.

Reference parity: the reference engine (single-node BTree) has neither
surface — its COUNT(DISTINCT) materializes a ValueHashMap
(Aggregate.java) and SELECTIVITY (Constants.java:SELECTIVITY_*) is its
only cardinality estimate. These operators are the distributed-scale
replacements (BASELINE.json extension family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .xhash import md5_hash60, md5_hash60_sql

# Hash space is 60-bit: [0, 2^60).
HSPACE = float(1 << 60)


def kmv_hashes(df: DataFrame, col: Column, k: int, *, tag: str = "kmv") -> DataFrame:
    """The KMV sketch itself: k smallest distinct 60-bit hashes of ``col``.

    Plan shape at scale: map-side partial distinct on the 8-byte hash →
    one shuffle of (near-)distinct hashes → ``sort.limit(k)`` compiles to
    TakeOrderedAndProject (per-partition k-heap, k rows to the driver
    stage) — the full value set never concentrates anywhere.
    """
    return (
        df.select(md5_hash60(col.cast("string")).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_estimate(df: DataFrame, col: Column, k: int, *, tag: str = "kmv") -> DataFrame:
    """One-row distinct-count estimate from a k-minimum-values sketch.

    Columns: ``n_sketch`` (hashes kept, = k unless the column has fewer
    distinct values), ``kth_hash``, ``est_distinct``. When the sketch is
    not full the estimate IS the exact distinct count.
    """
    sk = kmv_hashes(df, col, k, tag=tag)
    return sk.agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("hv").alias("kth_hash"),
    ).select(
        "n_sketch",
        "kth_hash",
        F.when(
            F.col("n_sketch") < k, F.col("n_sketch").cast("double")
        )
        .otherwise(
            (F.col("n_sketch") - 1).cast("double") / (F.col("kth_hash") / F.lit(HSPACE))
        )
        .alias("est_distinct"),
    )


def kmv_estimate_sql(table_expr: str, col_expr: str, k: int) -> str:
    """DuckDB SQL recomputing :func:`kmv_estimate` bit-for-bit."""
    return f"""
    WITH sk AS (
      SELECT DISTINCT {md5_hash60_sql(f"cast({col_expr} as varchar)")} AS hv
      FROM {table_expr}
      ORDER BY hv LIMIT {k}
    )
    SELECT count(*) AS n_sketch,
           max(hv) AS kth_hash,
           CASE WHEN count(*) < {k} THEN cast(count(*) as double)
                ELSE cast(count(*) - 1 as double) / (max(hv) / {HSPACE!r})
           END AS est_distinct
    FROM sk
    """


def hash_sample(df: DataFrame, key: Column, rate: int, *, tag: str = "hs") -> DataFrame:
    """Deterministic 1/``rate`` row sample: keep rows whose key hash falls
    in the lowest 1/rate of the hash space.

    Unlike ``df.sample()`` (seeded per-partition Bernoulli — different
    rows under AQE re-partitioning, unreproducible across engines), the
    kept set is a pure function of the data, so a resumed 100 TB job and
    its oracle select the same rows. Map-only; no shuffle.
    """
    threshold = (1 << 60) // rate
    return df.filter(md5_hash60(key.cast("string")) < threshold)


def hash_sample_pred_sql(key_expr: str, rate: int) -> str:
    threshold = (1 << 60) // rate
    return f"{md5_hash60_sql(f'cast({key_expr} as varchar)')} < {threshold}"


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — point-frequency
# estimates in depth x width integer counters. Mergeable by cell-wise
# addition; est(v) = min over lanes of counter[lane][bucket_lane(v)],
# always >= the true count, within eps*N with prob 1-delta for
# width=ceil(e/eps), depth=ceil(ln 1/delta). Buckets come from the
# cross-engine md5 family, so the COUNTERS AND ESTIMATES are
# deterministic and oracle-recomputable — same design rule as KMV.
# ---------------------------------------------------------------------------
def _cms_lane_buckets(
    col: Column, depth: int, width: int, tag: str
) -> Column:
    """array<struct<lane,bucket>> for a value — THE bucket derivation,
    shared by sketch build and point probes so the two sides can never
    drift apart (the one-sided-error guarantee and the cross-engine
    oracle both require byte-identical bucketing). Lane d hashes value
    v to md5_hash60(concat('<tag><d>|', v)) % width."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("lane"),
                (
                    md5_hash60(F.concat(F.lit(f"{tag}{d}|"), col)) % width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def cms_counters(
    df: DataFrame, col: Column, depth: int = 4, width: int = 512,
    *, tag: str = "cms",
) -> DataFrame:
    """(lane, bucket, cnt) Count-Min counter table — the sketch itself.

    One explode (depth rows per input) + one partial+final aggregation:
    the shuffle carries at most depth*width rows per task regardless of
    input size.
    """
    lanes = df.select(
        F.explode(_cms_lane_buckets(col, depth, width, tag)).alias("lb")
    )
    return lanes.groupBy(
        F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))


def stride_quantile_points(
    df: DataFrame, value: Column, key: Column,
    buckets: int = 32, k: int = 64,
    group_cols: list[str] | None = None,
    chunk: tuple[int, int | None] | None = None,
) -> DataFrame:
    """The mergeable quantile sketch itself: ≤ ``buckets * k`` weighted
    points ``(bucket, v, w, berr)`` whose weights sum to the (non-null)
    row count.

    Construction (KLL-style bounded summary, made cross-engine
    deterministic the same way KMV/CMS are): rows hash-partition into
    ``buckets`` by the 60-bit md5 of ``key``; within a bucket, rows take
    a total order (value, key-hash — the hash tiebreak makes the order,
    hence the whole sketch, a pure function of the data); a bucket of
    n_b rows keeps every s_b-th row where ``s_b = ceil(n_b / k)``, each
    kept point carrying the weight of the ≤ s_b rows it stands for.
    Equivalent to one level of deterministic KLL compaction per bucket
    (compact-by-stride instead of compact-by-coin; Karnin-Lang-Liberty
    2016 uses random offsets for an unbiased estimator — the stride
    variant trades that for bit-for-bit oracle replay, keeping the same
    worst-case rank-error shape).

    Guarantee (pinned by test): for any value x, the sketch's cumulative
    weight below x overestimates the true rank of x by at most
    ``sum_b (s_b - 1)`` — ≈ n/k under balanced hashing — so any quantile
    read from the sketch lands within that many ranks of exact.
    ``berr`` carries ``s_b - 1`` on each bucket's first point (rn=1 is
    always kept) so the bound is a cheap SUM downstream.

    Plan shape at scale: one hash-partition shuffle on ``bucket`` (the
    window), then a map-side filter keeps ≤ k points per bucket — the
    sketch that leaves the stage is ``buckets * k`` rows regardless of
    input size, and sketches of disjoint row sets union-merge (weights
    are additive; re-striding a merged sketch re-bounds its size).
    ``buckets`` is the parallelism knob: size it like shuffle partitions
    (a 1000-executor run wants thousands), k is the accuracy knob.

    ``group_cols`` builds one independent sketch per group (the grouped
    twin, same convention as the KMV global/per-group pair): buckets
    nest INSIDE each group — partitioning, stride, and the error bound
    are all per-group, so a group's accuracy is governed by its own
    size, never its neighbors'."""
    from pyspark.sql.window import Window

    g = list(group_cols or [])
    hv = md5_hash60(key.cast("string"))
    base = df.filter(value.isNotNull())
    part_cols = [*g, "bucket"]
    chunk_sel: list = []
    if chunk is not None:
        n_chunks, chunk_id = chunk
        if chunk_id is None:
            # ALL chunks in one scan (r12 optimization, guide §2.4 /
            # §1.2-1): chunk membership becomes a partition column of
            # the same window instead of a per-chunk filter, so the
            # n_chunks independent sketches come out of ONE pass over
            # the data. Per-(chunk, bucket) row sets, order (v, hv),
            # rn/nb/stride — hence every emitted point — are identical
            # to n_chunks filtered builds; the chunk id is dropped from
            # the output exactly like the filtered path never had it.
            chunk_sel = [(hv % n_chunks).alias("_ck")]
            part_cols = ["_ck", *part_cols]
        else:
            # shard membership from the SAME key hash the sketch already
            # derives — the per-shard/per-batch build path: each chunk
            # sketches independently and the results union-merge
            base = base.filter((hv % n_chunks) == chunk_id)
    base = base.select(
        *g,
        *chunk_sel,
        (hv % buckets).alias("bucket"),
        value.cast("double").alias("v"),
        hv.alias("hv"),
    )
    w_rn = Window.partitionBy(*part_cols).orderBy("v", "hv")
    w_nb = Window.partitionBy(*part_cols)
    return (
        base.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("nb", F.count(F.lit(1)).over(w_nb))
        .withColumn("s", F.expr(f"CAST((nb + {k} - 1) DIV {k} AS BIGINT)"))
        .filter((F.col("rn") - 1) % F.col("s") == 0)
        .select(
            *g,
            "bucket",
            "v",
            F.least(F.col("s"), F.col("nb") - F.col("rn") + 1)
            .cast("long")
            .alias("w"),
            F.when(F.col("rn") == 1, F.col("s") - 1)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("berr"),
        )
    )


def stride_quantiles(
    df: DataFrame, value: Column, key: Column,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    buckets: int = 32, k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate quantiles from a :func:`stride_quantile_points`
    sketch: one row per q with ``(q, est_value, n_total, n_points,
    rank_err_bound)`` — ``est_value`` is the smallest sketch point whose
    cumulative weight reaches ``max(1, ceil(q * n))`` (lower-rank
    selection), within ``rank_err_bound`` ranks of the exact quantile.

    The final selection deliberately AVOIDS a global window: the point
    set is bounded (``buckets * k``) by construction, so it folds into
    ONE ungrouped aggregate row — ``sort_array`` orders the points
    (struct field order (v, bucket, w) makes tie order deterministic;
    the selected VALUE is tie-order-invariant anyway) and a JVM
    ``aggregate`` HOF walks the running weight per q. An ungrouped
    final aggregate is the lint-sanctioned 1-row SinglePartition shape;
    a cumulative-sum Window here would funnel through one task with no
    WindowGroupLimit bound.

    With ``group_cols`` the fold becomes a grouped aggregate (one
    ≤ buckets*k point list PER GROUP — still bounded by construction)
    and the output carries the group columns, one row per (group, q)."""
    g = list(group_cols or [])
    pts = stride_quantile_points(
        df, value, key, buckets=buckets, k=k, group_cols=g
    )
    return fold_quantiles_from_points(pts, qs, group_cols=g)


def fold_quantiles_from_points(
    pts: DataFrame, qs: tuple[float, ...],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The sketch→quantiles fold, factored so MERGED point sets (union
    of per-shard/per-batch sketches — weights are additive, ``berr``
    bounds add) read through the identical selection as a single-build
    sketch. ``pts`` must carry (``group_cols``…, v, bucket, w, berr)."""
    g = list(group_cols or [])
    folded = pts.groupBy(*g).agg(
        F.sort_array(
            F.collect_list(F.struct("v", "bucket", "w", "berr"))
        ).alias("pts"),
        F.sum("w").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("berr").cast("long").alias("rank_err_bound"),
    )
    sel = F.expr(
        """
        aggregate(
          pts,
          named_struct('cum', CAST(0 AS BIGINT), 'est', CAST(NULL AS DOUBLE)),
          (a, x) -> CASE
            WHEN a.est IS NOT NULL THEN a
            WHEN a.cum + x.w >= GREATEST(CAST(1 AS BIGINT),
                                         CAST(ceil(q * n_total) AS BIGINT))
              THEN named_struct('cum', a.cum + x.w, 'est', x.v)
            ELSE named_struct('cum', a.cum + x.w,
                              'est', CAST(NULL AS DOUBLE))
          END
        ).est
        """
    )
    return (
        folded.select(
            *g,
            F.explode(
                F.array(*[F.lit(float(q)) for q in qs])
            ).alias("q"),
            "pts",
            "n_total",
            "n_points",
            "rank_err_bound",
        )
        .select(
            *g,
            "q",
            sel.alias("est_value"),
            "n_total",
            "n_points",
            "rank_err_bound",
        )
        .orderBy(*g, "q")
    )


def stride_quantiles_merged(
    df: DataFrame, value: Column, key: Column,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    buckets: int = 32, k: int = 64, n_chunks: int = 3,
) -> DataFrame:
    """Quantiles from ``n_chunks`` INDEPENDENTLY-built sketches
    union-merged — the sharded/incremental build path a 100 TB ingest
    actually takes (each shard or micro-batch sketches its own rows;
    the driver merges buckets*k-point summaries, never re-reads data).

    Chunk membership comes from the same key hash the sketch derives
    (hv % n_chunks), so the decomposition is deterministic and the
    oracle replays every per-chunk sketch bit-for-bit. Weights are
    additive under union; the merged rank_err_bound is the SUM of the
    chunks' bounds — typically SMALLER than the single build's
    (pytest-pinned: each chunk's per-bucket stride is ~1/n_chunks of
    the whole-corpus stride), at the cost of an n_chunks-times-bigger
    summary. A long-running ingest that must hold the summary at
    buckets*k points re-strides the merged set (trading points back
    for bound); the final fold is the same bounded selection either
    way — fold_quantiles_from_points."""
    # ONE scan builds all n_chunks sketches (chunk=(n, None) nests the
    # chunk id as a window partition key): the emitted point multiset is
    # identical to n_chunks filtered builds union-merged — pinned by
    # tests/test_sketches.py::test_merged_single_scan_equals_filtered —
    # but the data is read (and the key hashed) once instead of
    # n_chunks times, and the n_chunks window shuffles collapse to one
    # (guide §2.4: remove shuffles outright / §1.2: fewer passes).
    pts = stride_quantile_points(
        df, value, key, buckets=buckets, k=k, chunk=(n_chunks, None)
    )
    return fold_quantiles_from_points(pts, qs)


def stride_quantiles_merged_sql(
    table_expr: str, value_expr: str, key_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    buckets: int = 32, k: int = 64, n_chunks: int = 3,
) -> str:
    """DuckDB SQL recomputing :func:`stride_quantiles_merged`
    bit-for-bit — one pts chain per chunk, unioned, then the shared
    selection."""
    h = md5_hash60_sql(f"cast({key_expr} as varchar)")
    q_list = ", ".join(repr(float(q)) for q in qs)
    chains = []
    for i in range(n_chunks):
        chains.append(f"""
    base_{i} AS (
      SELECT {h} % {buckets} AS bucket,
             CAST({value_expr} AS DOUBLE) AS v,
             {h} AS hv
      FROM {table_expr}
      WHERE {value_expr} IS NOT NULL AND {h} % {n_chunks} = {i}
    ),
    rk_{i} AS (
      SELECT bucket, v,
             row_number() OVER (PARTITION BY bucket ORDER BY v, hv) AS rn,
             count(*) OVER (PARTITION BY bucket) AS nb
      FROM base_{i}
    ),
    pts_{i} AS (
      SELECT bucket, v,
             CAST(least(s, nb - rn + 1) AS BIGINT) AS w,
             CAST(CASE WHEN rn = 1 THEN s - 1 ELSE 0 END AS BIGINT) AS berr
      FROM (SELECT *, (nb + {k} - 1) // {k} AS s FROM rk_{i})
      WHERE (rn - 1) % s = 0
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM pts_{i}" for i in range(n_chunks)
    )
    return f"""
    WITH {",".join(chains)},
    pts AS ({union}),
    tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(berr) AS BIGINT) AS rank_err_bound
      FROM pts
    ),
    cum AS (
      SELECT v, sum(w) OVER (ORDER BY v, bucket, w
                             ROWS UNBOUNDED PRECEDING) AS cw
      FROM pts
    )
    SELECT q,
           (SELECT min(v) FROM cum
            WHERE cw >= greatest(CAST(1 AS BIGINT),
                                 CAST(ceil(q * tot.n_total) AS BIGINT)))
             AS est_value,
           tot.n_total, tot.n_points, tot.rank_err_bound
    FROM unnest([{q_list}]) AS t(q), tot
    ORDER BY q
    """


def stride_quantiles_sql(
    table_expr: str, value_expr: str, key_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    buckets: int = 32, k: int = 64,
    group_cols: list[str] | None = None,
) -> str:
    """DuckDB SQL recomputing :func:`stride_quantiles` bit-for-bit —
    the same bucketing hash, stride, weights, and lower-rank selection
    (per group when ``group_cols`` is given, mirroring the Spark build's
    nested (group, bucket) partitioning)."""
    g = list(group_cols or [])
    h = md5_hash60_sql(f"cast({key_expr} as varchar)")
    q_list = ", ".join(repr(float(q)) for q in qs)
    gsel = "".join(f"{c}, " for c in g)          # "g1, g2, " or ""
    gpart = ", ".join(g)                          # window partition keys
    gpart_pre = f"{gpart}, " if g else ""
    gby = f"GROUP BY {gpart}" if g else ""
    tot_g = "".join(f"tot.{c}, " for c in g)
    cum_part = f"PARTITION BY {gpart} " if g else ""
    corr = " AND ".join(f"cum.{c} = tot.{c}" for c in g)
    corr_pre = f"{corr} AND " if g else ""
    order = ", ".join([f"tot.{c}" for c in g] + ["q"])
    return f"""
    WITH base AS (
      SELECT {gsel}{h} % {buckets} AS bucket,
             CAST({value_expr} AS DOUBLE) AS v,
             {h} AS hv
      FROM {table_expr} WHERE {value_expr} IS NOT NULL
    ),
    rk AS (
      SELECT {gsel}bucket, v,
             row_number() OVER (PARTITION BY {gpart_pre}bucket
                                ORDER BY v, hv) AS rn,
             count(*) OVER (PARTITION BY {gpart_pre}bucket) AS nb
      FROM base
    ),
    pts AS (
      SELECT {gsel}bucket, v,
             CAST(least(s, nb - rn + 1) AS BIGINT) AS w,
             CAST(CASE WHEN rn = 1 THEN s - 1 ELSE 0 END AS BIGINT) AS berr
      FROM (SELECT *, (nb + {k} - 1) // {k} AS s FROM rk)
      WHERE (rn - 1) % s = 0
    ),
    tot AS (
      SELECT {gsel}CAST(sum(w) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(berr) AS BIGINT) AS rank_err_bound
      FROM pts {gby}
    ),
    cum AS (
      SELECT {gsel}v, sum(w) OVER ({cum_part}ORDER BY v, bucket, w
                             ROWS UNBOUNDED PRECEDING) AS cw
      FROM pts
    )
    SELECT {tot_g}q,
           (SELECT min(v) FROM cum
            WHERE {corr_pre}cw >= greatest(CAST(1 AS BIGINT),
                                 CAST(ceil(q * tot.n_total) AS BIGINT)))
             AS est_value,
           tot.n_total, tot.n_points, tot.rank_err_bound
    FROM unnest([{q_list}]) AS t(q), tot
    ORDER BY {order}
    """


def cms_point_estimate(
    counters: DataFrame, terms: DataFrame, term_col: str,
    depth: int = 4, width: int = 512, *, tag: str = "cms",
) -> DataFrame:
    """min-over-lanes estimate for each DISTINCT row of ``terms`` — adds
    a ``cms_est`` column. The probe side re-derives each term's bucket
    per lane and joins the (bounded, depth x width) counter table.
    Duplicate ``terms`` rows collapse to one output row (the estimate is
    a function of the row, so nothing is lost — but multiplicity is not
    preserved). Reserved column names would collide with the probe/join
    plumbing, so they are rejected typed rather than silently joined on
    (r6 advice finding)."""
    reserved = {"lane", "bucket", "cnt", "lb", "cms_est"}
    clash = reserved.intersection(c.lower() for c in terms.columns)
    if clash:
        raise ValueError(
            f"cms_point_estimate: terms columns {sorted(clash)} collide "
            f"with the probe/join plumbing ({sorted(reserved)}); rename "
            f"them before probing"
        )
    t = F.col(term_col)
    probes = terms.select(
        "*",
        F.explode(_cms_lane_buckets(t, depth, width, tag)).alias("lb"),
    ).select("*", F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
    group_cols = [c for c in terms.columns]
    # no broadcast hint: the counter side is a keyed aggregate bounded
    # at depth*width rows — AQE picks the broadcast at runtime, which
    # keeps the static plan hint-free for the fleet lint's
    # forced-broadcast dominance rule
    return (
        probes.join(counters, ["lane", "bucket"], "left")
        .groupBy(*group_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
