"""Seeded operation sequences for the three workloads.

Nothing here touches Spark, so the self-tests can check that a seed
always yields the same sequence. Every run of a workload executes a
sequence of fixed length (set by ``--seconds``), so op counts, and the
counts derived from them, repeat exactly from run to run.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from perfbench.datagen import PRIORITIES, SEGMENTS

# sql_oltp working tables: copies of sf0.1 orders and customer
N_ORD = 150_000
N_CUST = 15_000
FIRST_NEW_ORDERKEY = 10_000_000
ZIPF_A = 1.2

# One block of the statement stream: 18 reads and 6 writes (75% / 25%).
# Each block is shuffled on its own, so every prefix of whole blocks
# holds exactly the same mix of statement kinds whatever the seed. With
# two blocks the median (the 24th and 25th of 48 latencies) falls inside
# the range reads and the tail (the 38th, 10 above it) among the light
# writes (DELETE and the cust UPDATE), below the six heavy ones.
READ_KINDS = (
    ("point_ord", 6),
    ("point_cust", 3),
    ("range_group", 5),
    ("top10", 2),
    ("join_agg", 2),
)
WRITE_KINDS = (
    ("update_ord", 2),
    ("insert_ord", 1),
    ("delete_ord", 1),
    ("update_cust", 1),
    ("merge_cust", 1),
)
BLOCK = tuple(k for k, n in READ_KINDS + WRITE_KINDS for _ in range(n))
WRITE_KIND_SET = frozenset(k for k, _ in WRITE_KINDS)

ORD_COLS = (
    "o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, o_orderstatus VARCHAR, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR"
)
CUST_COLS = (
    "c_custkey BIGINT PRIMARY KEY, c_name VARCHAR, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment VARCHAR"
)


@dataclass(frozen=True)
class Statement:
    """One client statement: the text sent to ``EngineSession.sql`` and
    the equivalent DuckDB text applied to the mirror."""

    kind: str
    sql: str
    mirror_sql: str

    @property
    def is_write(self) -> bool:
        return self.kind in WRITE_KIND_SET


class _Keys:
    """Zipf-skewed key draws: rank r (1 = hottest) maps through a seeded
    permutation, so hot keys are spread over the key space."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        self.n = n
        self.perm = rng.permutation(n)

    def draw(self) -> int:
        rank = int(self.rng.zipf(ZIPF_A)) - 1
        return int(self.perm[rank % self.n])


def _money(rng: np.random.Generator, lo: float, hi: float) -> str:
    return f"{int(rng.integers(int(lo * 100), int(hi * 100))) / 100:.2f}"


def oltp_statements(seed: int, n_blocks: int, phase: int = 1) -> list[Statement]:
    """The sql_oltp statement stream: ``n_blocks`` shuffled blocks.

    ``phase`` gives set-up (0) and the timed stream (1) their own draws
    and disjoint ranges of inserted keys."""
    rng = np.random.default_rng([seed, 10 + phase])
    ords, custs = _Keys(rng, N_ORD), _Keys(rng, N_CUST)
    next_key = FIRST_NEW_ORDERKEY * (phase + 1)
    out: list[Statement] = []
    for _ in range(n_blocks):
        for kind in rng.permutation(np.array(BLOCK)):
            kind = str(kind)
            if kind == "point_ord":
                k = ords.draw()
                q = f"SELECT * FROM ord WHERE o_orderkey = {k}"
                out.append(Statement(kind, q, q))
            elif kind == "point_cust":
                k = custs.draw()
                q = f"SELECT * FROM cust WHERE c_custkey = {k}"
                out.append(Statement(kind, q, q))
            elif kind == "range_group":
                lo = ords.draw()
                q = (
                    "SELECT o_orderstatus, count(*) AS n, "
                    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
                    f"FROM ord WHERE o_orderkey BETWEEN {lo} AND {lo + 999} "
                    "GROUP BY o_orderstatus"
                )
                out.append(Statement(kind, q, q))
            elif kind == "top10":
                c = custs.draw()
                tail = (
                    f"o_orderkey, o_totalprice FROM ord WHERE o_custkey = {c} "
                    "ORDER BY o_totalprice DESC, o_orderkey"
                )
                out.append(Statement(
                    kind, f"SELECT TOP 10 {tail}", f"SELECT {tail} LIMIT 10"
                ))
            elif kind == "join_agg":
                nation = int(rng.integers(0, 25))
                q = (
                    "SELECT c_mktsegment, count(*) AS n, "
                    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
                    "FROM ord JOIN cust ON o_custkey = c_custkey "
                    f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment"
                )
                out.append(Statement(kind, q, q))
            elif kind == "update_ord":
                k = ords.draw()
                q = (
                    f"UPDATE ord SET o_totalprice = {_money(rng, 1000, 500000)}, "
                    f"o_orderstatus = 'F' WHERE o_orderkey = {k}"
                )
                out.append(Statement(kind, q, q))
            elif kind == "insert_ord":
                k, next_key = next_key, next_key + 1
                day = 9131 + int(rng.integers(0, 2404))  # 1995-01-01 .. 2001-08
                ts = np.datetime64(day, "D").astype(str)
                vals = (
                    f"({k}, {custs.draw()}, 'O', {_money(rng, 1000, 500000)}, "
                    f"TIMESTAMP '{ts} 00:00:00', "
                    f"'{PRIORITIES[int(rng.integers(0, 5))]}')"
                )
                q = f"INSERT INTO ord VALUES {vals}"
                out.append(Statement(kind, q, q))
            elif kind == "delete_ord":
                q = f"DELETE FROM ord WHERE o_orderkey = {ords.draw()}"
                out.append(Statement(kind, q, q))
            elif kind == "update_cust":
                q = (
                    f"UPDATE cust SET c_acctbal = {_money(rng, -999, 9999)} "
                    f"WHERE c_custkey = {custs.draw()}"
                )
                out.append(Statement(kind, q, q))
            elif kind == "merge_cust":
                # keys past N_CUST insert a new customer; others replace
                k = custs.draw() if rng.random() < 0.5 else N_CUST + int(rng.integers(0, 1000))
                vals = (
                    f"({k}, 'Customer#{k:09d}', {int(rng.integers(0, 25))}, "
                    f"{_money(rng, -999, 9999)}, '{SEGMENTS[int(rng.integers(0, 5))]}')"
                )
                out.append(Statement(
                    kind,
                    f"MERGE INTO cust KEY (c_custkey) VALUES {vals}",
                    f"INSERT OR REPLACE INTO cust VALUES {vals}",
                ))
            else:  # pragma: no cover - BLOCK and the branches above agree
                raise AssertionError(kind)
    return out


def oltp_warmup(seed: int) -> list[Statement]:
    """One statement of every kind, run during set-up so that the first
    timed statement of a kind does not pay its first-use cost."""
    seen: dict[str, Statement] = {}
    for st in oltp_statements(seed, n_blocks=1, phase=0):
        seen.setdefault(st.kind, st)
    return list(seen.values())


# etl_batch: registered workloads at sf0.1. TPC-H queries are execute-
# heavy; the corpus workloads do most of their work in build (eager jobs,
# index builds). dedup_clusters and ngram_jaccard_blocked are left out:
# their DuckDB oracles take 107 s and 32 s, longer than a run may last.
ETL_ROSTER = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "dedup_minhash_pairs",
    "pretrain_pipeline_e2e",
    "ann_ivf_topk_batch",
    "bm25_topk",
)

# stream_ingest: streaming drains. stream_upsert_sink commits through
# SnapshotTable via foreachBatch. Left out: scd2_stream_compacted
# memoizes through a marker file, so warm runs measure nothing; and the
# other drains (stream_stateful_totals 8 s, stream_interval_join 4 s,
# stream_session_agg 2.6 s, stream_enrich_agg 2.2 s warm, about twice
# that cold) would not leave room for two timed passes in a run.
# The three kept cover windowed aggregation state, dedup state and the
# foreachBatch commit.
STREAM_ROSTER = (
    "stream_tumbling_agg",
    "stream_dedup_hashes",
    "stream_upsert_sink",
)


def roster_order(seed: int, roster: tuple[str, ...], n_passes: int, phase: int = 1) -> list[str]:
    """``n_passes`` whole passes over the roster, each in its own seeded
    order. ``phase`` as in oltp_statements."""
    rng = np.random.default_rng([seed, 20 + phase])
    return [roster[i] for _ in range(n_passes) for i in rng.permutation(len(roster))]
