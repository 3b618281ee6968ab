"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics, ops  # noqa: E402
from perfbench.check import Mirror, frames_match  # noqa: E402
from perfbench.datagen import write_tables  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402
from perfbench.worker import Oltp, Run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return write_tables(str(tmp_path_factory.mktemp("sf")), seed=7)


def test_benchmark_json_matches_metric_catalog(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == [
        w for w in metrics.WORKLOADS if w in {x["name"] for x in bench["workloads"]}]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        expected = "higher" if m["name"] in metrics.HIGHER_IS_BETTER else "lower"
        assert m["better"] == expected, m
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_output_names_every_end_to_end_metric_with_its_unit():
    lat = [float(i) for i in range(1, 61)]
    out, tail_info = metrics.end_to_end(12.5, lat, busy_s=30.0)
    assert {k: v["unit"] for k, v in out.items()} == metrics.END_TO_END
    assert all(set(v) == {"value", "unit"} and v["value"] > 0 for v in out.values())
    assert out["ops_per_s"]["value"] == 2.0
    # 60 samples: the tail is the 50th, with 10 above it
    assert out["op_tail_ms"]["value"] == 50.0
    assert tail_info == {"percentile": pytest.approx(100 * 50 / 60), "n": 60}
    layers = metrics.with_units({"tables.load_ms": 3.0})
    assert {k: v["unit"] for k, v in layers.items()} == metrics.PER_LAYER
    assert layers["tables.load_ms"]["value"] == 3.0 and layers["trace.ops_per_s"]["value"] == 0.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        metrics.tail([1.0] * 10)
    assert metrics.tail([float(i) for i in range(11)]) == (0.0, pytest.approx(100 / 11))


def test_same_seed_same_operation_sequence():
    a = ops.oltp_statements(3, n_blocks=3)
    assert a == ops.oltp_statements(3, n_blocks=3)
    assert a != ops.oltp_statements(4, n_blocks=3)
    assert a != ops.oltp_statements(3, n_blocks=3, phase=2)
    # every block holds exactly the same mix: 18 reads, 6 writes
    for i in range(0, len(a), len(ops.BLOCK)):
        block = a[i:i + len(ops.BLOCK)]
        assert sorted(s.kind for s in block) == sorted(ops.BLOCK)
        assert sum(s.is_write for s in block) == 6
    r = ops.roster_order(3, ops.STREAM_ROSTER, 4)
    assert r == ops.roster_order(3, ops.STREAM_ROSTER, 4)
    assert sorted(r) == sorted(ops.STREAM_ROSTER * 4)


def test_same_seed_same_inputs(tmp_path):
    def digest(d):
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
        return h.hexdigest()

    a = write_tables(str(tmp_path / "a"), seed=5, sf=0.001)
    b = write_tables(str(tmp_path / "b"), seed=5, sf=0.001)
    c = write_tables(str(tmp_path / "c"), seed=6, sf=0.001)
    assert digest(a) == digest(b) != digest(c)


class _FakeFrame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class _FakeSession:
    """An 'engine' answering from its own DuckDB copy of the tables; it
    can be told to return a wrong result for one statement kind."""

    def __init__(self, sf_dir, statements, wrong_kind=None):
        self.engine = Mirror(sf_dir, ops.ORD_COLS, ops.CUST_COLS)
        self.by_sql = {s.sql: s for s in statements}
        self.wrong_kind = wrong_kind

    def sql(self, text):
        st = self.by_sql.get(text)
        if st is None:  # the final table fingerprints
            return _FakeFrame(*self.engine.query(text))
        if st.is_write:
            self.engine.apply(st.mirror_sql)
            return _FakeFrame(["status"], [])
        cols, rows = self.engine.query(st.mirror_sql)
        if st.kind == self.wrong_kind:
            rows = [tuple(v + 1 if isinstance(v, int) else v for v in r) for r in rows]
        return _FakeFrame(cols, rows)


def _error_rate(session, sf_dir, stmts) -> float:
    """Run ``stmts`` through the worker's sql_oltp op against ``session``,
    checked by a DuckDB mirror, and return the failed share."""
    oltp = Oltp(Run(SimpleNamespace(seed=1, seconds=16.0, sf_dir=sf_dir), spark=None))
    oltp.session = session
    oltp.mirror = Mirror(sf_dir, ops.ORD_COLS, ops.CUST_COLS)
    recs = [oltp.do(s) for s in stmts]
    failed = sum(not r.ok for r in recs) + (not oltp.final_check())
    return failed / oltp.attempted


def test_planted_wrong_result_raises_error_rate(monkeypatch, tmp_path, sf_dir):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    stmts = ops.oltp_statements(1, n_blocks=1)
    assert _error_rate(_FakeSession(sf_dir, stmts), sf_dir, stmts) == 0.0
    planted = _FakeSession(sf_dir, stmts, wrong_kind="join_agg")
    # two join_agg reads in a block of 24 statements
    assert _error_rate(planted, sf_dir, stmts) == pytest.approx(2 / 24)


def test_roster_oracle_comparison_catches_a_planted_mismatch():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert frames_match(good, good[["v", "k"]].iloc[::-1])[0]
    assert not frames_match(good, good.assign(v=[0.5, 1.25]))[0]
    assert not frames_match(good, good.iloc[:1])[0]
    # a float 0.0 against an integer 0 is a mismatch, not a pass
    assert not frames_match(pd.DataFrame({"x": [0]}), pd.DataFrame({"x": [0.0]}))[0]


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    tr.spans = [
        Span(0, "session.sql", 0.0, 10.0, None, 0),
        Span(1, "catalog.route", 1.0, 9.0, 0, 0),
        Span(2, "dialect.rewrite", 2.0, 3.0, 1, 0),
        Span(3, "dialect.rewrite", 2.5, 4.0, 1, 0),
    ]
    assert tr.self_time("session.sql") == pytest.approx(2.0)
    assert tr.self_time("catalog.route") == pytest.approx(6.0)
    assert tr.count("dialect.rewrite") == 2
    assert tr.total("dialect.rewrite") == pytest.approx(2.5)
