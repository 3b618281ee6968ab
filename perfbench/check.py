"""Result checks, kept out of every timing.

Two references:

- ``Mirror`` keeps DuckDB copies of the sql_oltp working tables, applies
  every statement the engine receives, and compares each SELECT result.
- ``frames_match`` compares a roster workload's result with its
  ``Workload.oracle`` query run by DuckDB over the same parquet inputs.

Both compare with the repo's oracle gate comparator,
``scripts/check_oracles.canonical``: columns sorted by name, cells
normalized (floats by ``repr``, so 0.0 and 0 differ; list cells
rejected), rows sorted.
"""

from __future__ import annotations

import importlib.util
import os
from typing import Any, Sequence

import pandas as pd


def _load_oracle_gate():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_gate = _load_oracle_gate()
canonical = _gate.canonical
NonScalarCell = _gate.NonScalarCell
duck_con = _gate.duck_con


def frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    """Row count, column names and canonical values of two pandas frames,
    compared as ``scripts/check_oracles.py`` compares them."""
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s = spark_pdf.rename(columns=str.lower)
    o = oracle_pdf.rename(columns=str.lower)
    if sorted(s.columns) != sorted(o.columns):
        return False, f"columns spark={sorted(s.columns)} oracle={sorted(o.columns)}"
    try:
        cs, co = canonical(s), canonical(o)
    except NonScalarCell as e:
        return False, str(e)
    if not cs.equals(co):
        bad = int((cs != co).any(axis=1).sum())
        return False, f"value mismatch on {bad}/{len(cs)} rows"
    return True, ""


def _frame(columns: Sequence[str], rows: Sequence[Sequence[Any]]) -> pd.DataFrame:
    # object dtype keeps each cell the Python value the client received
    return pd.DataFrame([tuple(r) for r in rows], columns=list(columns), dtype=object)


# Order-independent fingerprints of the working tables, exact in both
# engines (integer and decimal sums only).
TABLE_FINGERPRINTS = {
    "ord": (
        "SELECT count(*) AS n, sum(o_orderkey) AS keys, sum(o_custkey) AS custs, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, "
        "count_if(o_orderstatus = 'F') AS f FROM ord"
    ),
    "cust": (
        "SELECT count(*) AS n, sum(c_custkey) AS keys, sum(c_nationkey) AS nations, "
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal FROM cust"
    ),
}


class Mirror:
    """DuckDB copies of ``ord`` and ``cust`` that follow the same DML."""

    def __init__(self, sf_dir: str, ord_cols: str, cust_cols: str):
        self.con = duck_con(sf_dir)
        self.con.execute(f"CREATE TABLE ord ({ord_cols})")
        self.con.execute("INSERT INTO ord SELECT * FROM orders")
        self.con.execute(f"CREATE TABLE cust ({cust_cols})")
        self.con.execute("INSERT INTO cust SELECT * FROM customer")

    def apply(self, mirror_sql: str) -> None:
        self.con.execute(mirror_sql)

    def query(self, mirror_sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(mirror_sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def matches(self, mirror_sql: str, columns: Sequence[str], rows) -> bool:
        """True when the engine's (columns, rows) equal the mirror's."""
        return frames_match(_frame(columns, rows), _frame(*self.query(mirror_sql)))[0]
