"""Sketch operators: estimate accuracy + scale plan pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_lealone_spark.operators.sketches import (
    hash_sample,
    kmv_estimate,
    kmv_hashes,
)
from etl_lealone_spark.plans import count_exchanges, explain_str, has_take_ordered


def test_kmv_exact_when_sketch_not_full(spark, tables):
    """Fewer distinct values than k → the sketch degrades to an exact
    distinct count."""
    ev = tables["events"]
    row = kmv_estimate(ev, F.col("user_id"), 4096).collect()[0]
    exact = ev.select("user_id").distinct().count()
    assert row.n_sketch == exact
    assert row.est_distinct == float(exact)


def test_kmv_estimate_within_bound(spark, tables):
    """Full sketch: KMV standard error is ~1/sqrt(k-1); assert a lax
    4-sigma band so the test is deterministic-data-tight, not flaky."""
    ev = tables["events"]
    k = 256
    exact = ev.select("event_id").distinct().count()
    assert exact > k, "fixture must exercise the estimation path"
    row = kmv_estimate(ev, F.col("event_id"), k).collect()[0]
    rel = abs(row.est_distinct - exact) / exact
    assert rel < 4.0 / (k - 1) ** 0.5, (row.est_distinct, exact, rel)


def test_kmv_sketch_merge_is_union(spark, tables):
    """Sketch mergeability: KMV(A ∪ B) == bottom-k of KMV(A) ∪ KMV(B) —
    the property that lets 1000 executors sketch independently."""
    ev = tables["events"]
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    k = 64
    merged = (
        kmv_hashes(a, F.col("event_id"), k)
        .unionAll(kmv_hashes(b, F.col("event_id"), k))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )
    direct = kmv_hashes(ev, F.col("event_id"), k)
    assert [r.hv for r in merged.collect()] == [r.hv for r in direct.collect()]


def test_kmv_topk_is_take_ordered(spark, tables):
    """The bottom-k must compile to TakeOrderedAndProject (k-item heap
    per partition), never a global sort of all distinct hashes."""
    df = kmv_hashes(tables["events"], F.col("event_id"), 256)
    assert has_take_ordered(df)


def test_hash_sample_map_only(spark, tables):
    """The deterministic sample is a filter — zero exchanges."""
    li = tables["lineitem"]
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    df = hash_sample(li, key, 16)
    assert count_exchanges(df) == 0


def test_hash_sample_deterministic_and_sized(spark, tables):
    li = tables["lineitem"]
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    n1 = hash_sample(li, key, 16).count()
    n2 = hash_sample(li.repartition(13), key, 16).count()
    assert n1 == n2, "sample must not depend on partitioning"
    total = li.count()
    assert 0.5 * total / 16 < n1 < 2.0 * total / 16


def test_native_hll_within_tolerance(spark, tables):
    """Spark's HLL++ stays available for pure-Spark pipelines; pin its
    error band vs exact (rsd default 5% → lax 15% assert)."""
    ev = tables["events"]
    exact = ev.select("event_id").distinct().count()
    approx = ev.agg(F.approx_count_distinct("event_id").alias("a")).collect()[0].a
    assert abs(approx - exact) / exact < 0.15


def test_cms_overestimates_and_merges(spark):
    """Count-Min invariants: est(v) >= true(v) for every v (one-sided
    error by construction), exact for collision-free terms at small
    cardinality, and the counter table is cell-wise additive — the
    sketch of a union equals the cell-wise sum of the parts' sketches."""
    from pyspark.sql import functions as F

    from etl_lealone_spark.operators.sketches import (
        cms_counters,
        cms_point_estimate,
    )

    rows = [(f"t{i % 37}",) for i in range(1000)] + [("rare",)] * 3
    d = spark.createDataFrame(rows, "v string").repartition(7)
    counters = cms_counters(d, F.col("v"), depth=3, width=64)
    truth = d.groupBy(F.col("v").alias("term")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    est = cms_point_estimate(counters, truth, "term", depth=3, width=64)
    got = {r["term"]: (r["true_n"], r["cms_est"]) for r in est.collect()}
    assert len(got) == 38
    assert all(e >= t for t, e in got.values())
    assert got["rare"][1] >= 3
    # mergeability: sketch(A union B) == cellwise_sum(sketch(A), sketch(B))
    a, b = d.randomSplit([0.5, 0.5], seed=7)
    merged = (
        cms_counters(a, F.col("v"), depth=3, width=64)
        .unionAll(cms_counters(b, F.col("v"), depth=3, width=64))
        .groupBy("lane", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_counters(a.unionAll(b), F.col("v"), depth=3, width=64)
    diff = (
        merged.join(whole, ["lane", "bucket"], "full")
        .filter(
            F.coalesce(merged["cnt"], F.lit(0))
            != F.coalesce(whole["cnt"], F.lit(0))
        )
        .count()
    )
    assert diff == 0


def test_cms_probe_rejects_reserved_columns(spark):
    """A terms frame already carrying lane/bucket/cnt would silently
    join on the wrong columns — rejected typed instead (r6 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_lealone_spark.operators.sketches import (
        cms_counters,
        cms_point_estimate,
    )

    d = spark.createDataFrame([("x",), ("y",)], "v string")
    counters = cms_counters(d, F.col("v"), depth=3, width=64)
    bad = spark.createDataFrame([("x", 0)], "term string, lane int")
    with pytest.raises(ValueError, match="lane"):
        cms_point_estimate(counters, bad, "term", depth=3, width=64)
    bad2 = spark.createDataFrame([("x", 1)], "term string, CNT int")
    with pytest.raises(ValueError, match="cnt"):
        cms_point_estimate(counters, bad2, "term", depth=3, width=64)


# ---------------------------------------------------------------------------
# stride-quantile sketch (deterministic KLL-style bounded summary)
# ---------------------------------------------------------------------------
def _exact_rank_bounds(values, est):
    """[#values strictly below est + 1, #values <= est] — the rank range
    the estimate occupies in the exact sorted order (ties collapse)."""
    lo = sum(1 for v in values if v < est) + 1
    hi = sum(1 for v in values if v <= est)
    return lo, hi


def test_stride_quantiles_exact_when_small(spark, tables):
    """Every bucket under k rows → stride 1, every row is a point with
    weight 1, rank_err_bound 0, and the estimates are EXACT lower-rank
    quantiles."""
    from etl_lealone_spark.operators.sketches import stride_quantiles

    li = tables["lineitem"].limit(500)
    qs = (0.1, 0.5, 0.9)
    rows = stride_quantiles(
        li, F.col("l_extendedprice"), F.col("l_orderkey"), qs=qs,
        buckets=4, k=200,
    ).collect()
    vals = sorted(
        float(r.l_extendedprice) for r in li.select("l_extendedprice").collect()
    )
    n = len(vals)
    assert rows[0].n_total == n
    for r in rows:
        assert r.rank_err_bound == 0
        import math

        target = max(1, math.ceil(r.q * n))
        assert r.est_value == vals[target - 1], (r.q, r.est_value)


def test_stride_quantiles_rank_error_within_bound(spark, tables):
    """The pinned guarantee: the exact rank of each estimate lands
    within rank_err_bound of the target rank max(1, ceil(q*n))."""
    import math

    from etl_lealone_spark.operators.sketches import stride_quantiles

    li = tables["lineitem"]
    qs = (0.25, 0.5, 0.9, 0.99)
    rows = stride_quantiles(
        li, F.col("l_extendedprice"), F.col("l_orderkey"), qs=qs,
        buckets=8, k=32,
    ).collect()
    vals = [
        float(r.l_extendedprice) for r in li.select("l_extendedprice").collect()
    ]
    n = len(vals)
    assert rows[0].n_total == n
    assert rows[0].n_points <= 8 * 32
    # bound must be meaningfully sublinear before the assertion means
    # anything (≈ n/k under balanced hashing)
    assert 0 < rows[0].rank_err_bound < n / 4
    for r in rows:
        target = max(1, math.ceil(r.q * n))
        lo, hi = _exact_rank_bounds(vals, r.est_value)
        # estimate's rank range must intersect [target-bound, target+bound]
        assert lo <= target + r.rank_err_bound, (r.q, lo, target)
        assert hi >= target - r.rank_err_bound, (r.q, hi, target)


def test_stride_points_weights_partition_the_input(spark, tables):
    """sum(w) == non-null row count; per-bucket point count <= k; the
    sketch is a weighted partition of the rows, never a sample that
    loses mass."""
    from etl_lealone_spark.operators.sketches import stride_quantile_points

    li = tables["lineitem"]
    pts = stride_quantile_points(
        li, F.col("l_extendedprice"), F.col("l_orderkey"), buckets=8, k=32
    )
    agg = pts.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("np"), F.sum("w").alias("wsum")
    )
    rows = agg.collect()
    assert all(r.np <= 32 for r in rows)
    total = sum(r.wsum for r in rows)
    assert total == li.filter(F.col("l_extendedprice").isNotNull()).count()


def test_stride_points_union_merge_keeps_bound(spark, tables):
    """Mergeability: sketches of disjoint halves UNION into a valid
    sketch of the whole — cumulative-weight rank error is bounded by the
    SUM of the halves' bounds (weights are additive; no recompaction
    needed until size matters)."""
    import math

    from etl_lealone_spark.operators.sketches import stride_quantile_points

    li = tables["lineitem"]
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    pa = stride_quantile_points(
        a, F.col("l_extendedprice"), F.col("l_orderkey"), buckets=4, k=32
    )
    pb = stride_quantile_points(
        b, F.col("l_extendedprice"), F.col("l_orderkey"), buckets=4, k=32
    )
    merged = sorted(
        ((r.v, r.w, r.berr) for r in pa.unionAll(pb).collect()),
        key=lambda t: t[0],
    )
    bound = sum(t[2] for t in merged)
    n = sum(t[1] for t in merged)
    vals = [
        float(r.l_extendedprice) for r in li.select("l_extendedprice").collect()
    ]
    assert n == len(vals)
    for q in (0.5, 0.95):
        target = max(1, math.ceil(q * n))
        cum = 0
        est = None
        for v, w, _ in merged:
            cum += w
            if cum >= target:
                est = v
                break
        lo, hi = _exact_rank_bounds(vals, est)
        assert lo <= target + bound and hi >= target - bound, (q, lo, hi)


def test_stride_quantiles_single_shuffle_before_fold(spark, tables):
    """Plan pin: the sketch stage is ONE hash-partition exchange on the
    bucket key plus the 1-row fold — an exact global percentile would
    need a full sort instead."""
    from etl_lealone_spark.operators.sketches import stride_quantile_points

    li = tables["lineitem"]
    pts = stride_quantile_points(
        li, F.col("l_extendedprice"), F.col("l_orderkey"), buckets=8, k=32
    )
    plan = explain_str(pts)
    assert count_exchanges(pts) == 1, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_stride_quantiles_grouped_equals_per_group_runs(spark, tables):
    """Group independence: the grouped sketch must equal running the
    ungrouped operator on each group's filtered rows — buckets, stride,
    and bound all nest inside the group."""
    from etl_lealone_spark.operators.sketches import stride_quantiles

    li = tables["lineitem"]
    key = F.col("l_orderkey")
    qs = (0.5, 0.9)
    grouped = {
        (r.l_returnflag, r.q): (
            r.est_value, r.n_total, r.n_points, r.rank_err_bound
        )
        for r in stride_quantiles(
            li, F.col("l_extendedprice"), key, qs=qs,
            buckets=8, k=32, group_cols=["l_returnflag"],
        ).collect()
    }
    flags = [r.l_returnflag for r in li.select("l_returnflag").distinct().collect()]
    for flag in flags:
        solo = stride_quantiles(
            li.filter(F.col("l_returnflag") == flag),
            F.col("l_extendedprice"), key, qs=qs, buckets=8, k=32,
        ).collect()
        for r in solo:
            assert grouped[(flag, r.q)] == (
                r.est_value, r.n_total, r.n_points, r.rank_err_bound
            ), (flag, r.q)
    assert len(grouped) == len(flags) * len(qs)


def test_stride_quantiles_merged_matches_contract(spark, tables):
    """Sharded build: merged per-chunk sketches cover the same mass
    (n_total == non-null rows), carry the SUMMED error bound, and every
    estimate's exact rank stays inside that merged bound."""
    import math

    from etl_lealone_spark.operators.sketches import (
        stride_quantiles,
        stride_quantiles_merged,
    )

    li = tables["lineitem"]
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    qs = (0.5, 0.95)
    merged = stride_quantiles_merged(
        li, F.col("l_extendedprice"), key, qs=qs, buckets=8, k=32,
        n_chunks=3,
    ).collect()
    single = stride_quantiles(
        li, F.col("l_extendedprice"), key, qs=qs, buckets=8, k=32,
    ).collect()
    n = li.filter(F.col("l_extendedprice").isNotNull()).count()
    assert merged[0].n_total == n == single[0].n_total
    # union without recompaction keeps up to n_chunks x the points, so
    # the merged bound is sum-of-chunk-bounds — typically SMALLER than
    # the single build's (each chunk's per-bucket stride is ~1/3), at
    # the cost of a bigger summary; both stay sublinear in n
    assert single[0].n_points <= merged[0].n_points <= 3 * 8 * 32
    assert 0 < merged[0].rank_err_bound < n / 2
    vals = [
        float(r.l_extendedprice) for r in li.select("l_extendedprice").collect()
    ]
    for r in merged:
        target = max(1, math.ceil(r.q * n))
        lo, hi = _exact_rank_bounds(vals, r.est_value)
        assert lo <= target + r.rank_err_bound, (r.q, lo, target)
        assert hi >= target - r.rank_err_bound, (r.q, hi, target)


def test_merged_single_scan_equals_filtered(spark, tables):
    """The r12 single-scan merged build (chunk id as a window partition
    key) emits the EXACT point multiset of n_chunks independent
    filtered builds union-merged — the equivalence the optimization
    rides on (one scan + one shuffle instead of n_chunks of each)."""
    from etl_lealone_spark.operators.sketches import stride_quantile_points

    li = tables["lineitem"]
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    single_scan = stride_quantile_points(
        li, F.col("l_extendedprice"), key, buckets=8, k=32, chunk=(3, None)
    ).collect()
    filtered = []
    for i in range(3):
        filtered.extend(
            stride_quantile_points(
                li, F.col("l_extendedprice"), key, buckets=8, k=32,
                chunk=(3, i),
            ).collect()
        )
    canon = lambda rows: sorted((r.bucket, r.v, r.w, r.berr) for r in rows)
    assert canon(single_scan) == canon(filtered)
    assert len(single_scan) > 8  # non-degenerate sketch
