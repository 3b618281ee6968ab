"""Third core batch: full window-function family (extension), the
7-table join (the shape that stresses the reference's cost-based join
order search, Optimizer.java:78-147 — Catalyst + AQE handle it natively),
and multimodal binary-column metadata."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_tables
from . import workload
from .helpers import dsum, o_dsum


# ---------------------------------------------------------------------------
# window family: rank/dense_rank/ntile/lag/lead/first/last
# ---------------------------------------------------------------------------
@workload(
    "window_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           lag(o_orderkey)  OVER w AS prev_key,
           lead(o_orderkey) OVER w AS next_key,
           first_value(o_orderkey) OVER w AS first_key
    FROM orders
    WHERE o_custkey < 20
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="RANK/DENSE_RANK/NTILE/LAG/LEAD/FIRST_VALUE (window extension; "
    "reference has no OVER clause, SURVEY §2.5).",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.filter(F.col("o_custkey") < 20).select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


# ---------------------------------------------------------------------------
# 7-table join — the reference searches join orders exhaustively up to 7
# tables (Optimizer.java:23-27); we declare the join graph and let
# Catalyst (+AQE at runtime) order it.
# ---------------------------------------------------------------------------
@workload(
    "join_seven_tables",
    f"""
    SELECT r_name, o_orderpriority,
           {o_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           count(*) AS n
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size <= 25 AND c_acctbal > 0
    GROUP BY r_name, o_orderpriority
    """,
    doc="7-table join graph (reference: exhaustive join-order search, "
    "Optimizer.java:78-147; here Catalyst orders it, dims broadcast).",
)
def join_seven_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter((F.col("p_size") <= 25) & (F.col("c_acctbal") > 0))
        .groupBy("r_name", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal: binary payload metadata (opaque blob handling)
# ---------------------------------------------------------------------------
@workload(
    "multimodal_metadata",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS payload_bytes,
           md5(text) AS payload_md5,
           length(text) % 640 + 32 AS width
    FROM documents
    """,
    doc="Opaque binary columns: payload byte length + content digest + "
    "derived metadata (multimodal plumbing, BASELINE extension).",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    payload = F.encode("text", "utf-8")  # the text's bytes as an opaque blob
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(payload).alias("payload_bytes"),
        F.md5(payload).alias("payload_md5"),
        (F.length("text") % 640 + 32).cast("int").alias("width"),
    )


# ---------------------------------------------------------------------------
# events: lag-based per-user deltas (change-detection shape)
# ---------------------------------------------------------------------------
@workload(
    "events_lag_delta",
    """
    SELECT user_id, event_id,
           cast(floor(epoch(ts)) as bigint)
             - cast(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))) as bigint)
             AS gap_seconds
    FROM events
    WHERE user_id < 10
    """,
    doc="Per-user event gaps via LAG — the change-detection window shape.",
)
def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.filter(F.col("user_id") < 10).select(
        "user_id",
        "event_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# §2.5 extension: distribution window functions (percent_rank, cume_dist,
# nth_value) — completes the rank family (window_rank_family)
# ---------------------------------------------------------------------------
@workload(
    "window_distribution",
    """
    SELECT c_custkey,
           c_acctbal,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_best
    FROM customer
    WHERE c_custkey < 300
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
    doc="percent_rank / cume_dist / nth_value over a keyed partition — "
    "distribution stats per group with a deterministic tie-break, "
    "never SinglePartition.",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"].filter(F.col("c_custkey") < 300)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        c.select(
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.nth_value("c_custkey", 2).over(wrows).alias("second_best"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.5 extension: time-interval RANGE frame (rolling 30-day revenue)
# ---------------------------------------------------------------------------
@workload(
    "rolling_window_time",
    """
    SELECT o_orderkey, o_custkey,
           cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
           as double) AS rolling_30d
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    doc="Time-interval RANGE frame: per-customer rolling 30-day revenue "
    "— the event-time sibling of the numeric RANGE frame "
    "(window_range_frame); keyed partition, decimal-exact sum.",
)
def rolling_window_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("__orders_rwt")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
               as double) AS rolling_30d
        FROM __orders_rwt
        WHERE o_custkey < 100
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# §2.5 extension: percent-of-total window (share within group)
# ---------------------------------------------------------------------------
@workload(
    "window_share_of_total",
    """
    WITH cust AS (
      SELECT c_custkey, c_nationkey,
             sum(cast(o_totalprice as decimal(18,2))) AS spend
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_nationkey
    )
    SELECT c_custkey, spend, nation_share FROM (
      SELECT c_custkey,
             cast(spend as double) AS spend,
             round(cast(spend as double)
                   / cast(sum(spend) OVER (PARTITION BY c_nationkey) as double),
                   9) AS nation_share
      FROM cust
    ) t
    WHERE c_custkey < 200
    ORDER BY c_custkey
    """,
    doc="Percent-of-total: each customer's share of their nation's "
    "revenue — one keyed agg + one keyed window, both decimal-exact "
    "before the single double division.",
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    )
    w = Window.partitionBy("c_nationkey")
    return (
        cust.select(
            "c_custkey",
            F.col("spend").cast("double").alias("spend"),
            F.round(
                F.col("spend").cast("double")
                / F.sum("spend").over(w).cast("double"),
                9,
            ).alias("nation_share"),
        )
        .filter(F.col("c_custkey") < 200)
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.10 extension: LATERAL correlated derived table (top-n per outer row)
# ---------------------------------------------------------------------------
@workload(
    "lateral_topn_per_nation",
    """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n.n_name, t.c_custkey
    """,
    doc="LATERAL correlated subquery: top-2 customers per nation — the "
    "correlated-limit shape Catalyst decorrelates into a ranked window "
    "join rather than per-row re-execution.",
)
def lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t["nation"].createOrReplaceTempView("__lat_nation")
    t["customer"].createOrReplaceTempView("__lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM __lat_nation n,
        LATERAL (SELECT c_custkey, c_acctbal FROM __lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n.n_name, t.c_custkey
        """
    )


# ---------------------------------------------------------------------------
# §2.4 extension: FILTER clause on aggregates (conditional aggregation)
# ---------------------------------------------------------------------------
@workload(
    "filter_clause_agg",
    f"""
    SELECT o_orderpriority,
           count(*) AS n_total,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
           {o_dsum('o_totalprice')} AS total,
           cast(sum(cast(o_totalprice as decimal(18,2)))
                FILTER (WHERE o_orderstatus = 'F') as double) AS total_f
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="ANSI FILTER clause: per-aggregate predicates in one pass — the "
    "readable form of sum(CASE WHEN…), identical partial+final plan.",
)
def filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("__fc_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_total,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
               cast(sum(cast(o_totalprice as decimal(18,2))) as double)
                 AS total,
               cast(sum(cast(o_totalprice as decimal(18,2)))
                    FILTER (WHERE o_orderstatus = 'F') as double) AS total_f
        FROM __fc_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# §2.4 extension: GROUP BY ALL (modern sugar — group on every
# non-aggregate select item)
# ---------------------------------------------------------------------------
@workload(
    "group_by_all",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           {o_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="GROUP BY ALL: grouping keys inferred from the non-aggregate "
    "select items — identical plan to the explicit form.",
)
def group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("__gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               cast(sum(cast(o_totalprice as decimal(18,2))) as double)
                 AS total
        FROM __gba_orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
        """
    )
