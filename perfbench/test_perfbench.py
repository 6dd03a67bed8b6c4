"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402


# --- span self-time arithmetic -------------------------------------------------

def _span(sid, start, end, parent=None, name="s"):
    return spans.Span(sid, name, start, end, parent, "r", {})


def test_self_time_subtracts_children():
    tree = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 5.0, 9.0, 0)]
    assert spans.self_times(tree) == {0: 3.0, 1: 3.0, 2: 4.0}


def test_self_time_counts_overlapping_children_once():
    tree = [_span(0, 0.0, 10.0), _span(1, 1.0, 6.0, 0), _span(2, 4.0, 8.0, 0)]
    assert spans.self_times(tree)[0] == pytest.approx(3.0)


def test_self_time_clips_children_to_parent():
    tree = [_span(0, 2.0, 6.0), _span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]
    assert spans.self_times(tree)[0] == pytest.approx(2.0)


def test_self_time_grandchildren_only_reduce_their_parent():
    tree = [_span(0, 0.0, 10.0), _span(1, 0.0, 8.0, 0), _span(2, 0.0, 5.0, 1)]
    assert spans.self_times(tree) == {0: 2.0, 1: 3.0, 2: 5.0}


def test_tracer_nests_and_adds_measured_spans():
    t = spans.Tracer("run-1")
    with t.span("key", key="k") as k:
        with t.span("build") as b:
            pass
    t.add("catalyst", b.start, b.end, b)
    names = [(s.name, s.parent) for s in t.spans]
    assert names == [("key", None), ("build", k.sid), ("catalyst", b.sid)]
    assert all(r["run_id"] == "run-1" for r in t.to_json())


# --- the tail-percentile rule ---------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    tail, pct = stats.tail(values)
    assert (tail, pct) == (90.0, 90)
    assert sum(v > tail for v in values) == 10


@pytest.mark.parametrize("n", [11, 12, 25, 37, 1000])
def test_tail_rule_for_any_sample_size(n):
    values = [float(i) for i in range(n)]
    tail, pct = stats.tail(values[::-1])
    assert sum(v > tail for v in values) == 10
    assert pct == (100 * (n - 10)) // n


def test_tail_undefined_below_eleven_samples():
    assert stats.tail([1.0] * 10) == (None, None)


# --- seeded sampler and generator ---------------------------------------------

POOL = [(f"k{i:03d}", (i * 37 % 101) / 10.0) for i in range(120)]


def test_sampler_is_deterministic_and_seed_dependent():
    a = stats.stratified_sample(POOL, 12, seed=5)
    assert a == stats.stratified_sample(POOL, 12, seed=5)
    assert a != stats.stratified_sample(POOL, 12, seed=6)
    assert len(set(a)) == 12


def test_sampler_takes_one_key_per_cost_stratum():
    cost = dict(POOL)
    ranked = sorted(POOL, key=lambda kc: (kc[1], kc[0]))
    for seed in range(20):
        picks = sorted(stats.stratified_sample(POOL, 10, seed), key=lambda k: (cost[k], k))
        for i, key in enumerate(picks):
            stratum = {k for k, _ in ranked[i * 12:(i + 1) * 12]}
            assert key in stratum


def test_sampler_rejects_impossible_sizes():
    with pytest.raises(ValueError):
        stats.stratified_sample(POOL, 0, seed=1)
    with pytest.raises(ValueError):
        stats.stratified_sample(POOL, 121, seed=1)


SMALL = {"region": 5, "nation": 25, "supplier": 10, "customer": 50, "part": 40,
         "orders": 200, "lineitem": 800, "events": 300, "documents": 60,
         "embeddings": 30}


def test_generator_is_deterministic_and_seed_dependent():
    a = datagen.make_tables(3, SMALL)
    b = datagen.make_tables(3, SMALL)
    c = datagen.make_tables(4, SMALL)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_generated_files_are_byte_identical(tmp_path):
    r1 = datagen.write_etl(9, str(tmp_path / "one"))
    r2 = datagen.write_etl(9, str(tmp_path / "two"))
    assert r1 == r2
    assert r1["day1"]["rows"] == datagen.ETL_DAY1_ROWS


def test_generated_tables_match_declared_schemas():
    import pyarrow as pa

    from ai_to_cvent_etl_spark.io import SCHEMAS

    tables = datagen.make_tables(1, SMALL)
    assert sorted(tables) == sorted(SCHEMAS)
    for name, tbl in tables.items():
        assert tbl.column_names == SCHEMAS[name].names
        assert tbl.num_rows == SMALL[name]
    assert tables["orders"].schema.field("o_orderdate").type == pa.timestamp("us")


def test_change_chunks_follow_day1():
    day1, chunks = datagen.make_etl(2, day1_rows=1000, users=50, chunks=3, chunk_rows=100)
    last_ts = day1.column("ts").to_pylist()[-1]
    last_id = day1.column("event_id").to_pylist()[-1]
    for c in chunks:
        assert min(c.column("ts").to_pylist()) > last_ts
        assert min(c.column("event_id").to_pylist()) > last_id
        last_ts = max(c.column("ts").to_pylist())
        last_id = max(c.column("event_id").to_pylist())


# --- failure counting ---------------------------------------------------------

class _FakeFrame:
    """Stands in for a Spark DataFrame in ``tests.harness.compare``."""

    def __init__(self, rows, columns, dtypes):
        self.columns, self.dtypes, self._rows = columns, dtypes, rows

    def collect(self):
        return self._rows


class _Spec:
    def __init__(self, oracle):
        self.oracle = oracle


def test_mismatch_marks_key_failed(tmp_path):
    datagen.write_tables(0, str(tmp_path))
    registry = {"good": _Spec("SELECT count(*) AS n FROM region"),
                "bad": _Spec("SELECT count(*) AS n FROM nation")}
    ops = [
        {"key": "good", "ok": True, "df": _FakeFrame([(5,)], ["n"], [("n", "bigint")])},
        {"key": "bad", "ok": True, "df": _FakeFrame([(5,)], ["n"], [("n", "bigint")])},
        {"key": "crashed", "ok": False, "error": "boom"},
    ]
    worker.verify_queries(registry, str(tmp_path), ops)
    assert [op["ok"] for op in ops] == [True, False, False]
    assert "values differ" in ops[1]["error"]


def test_failed_ops_count_in_the_result(monkeypatch, capsys):
    import run

    result = {"ops": [{"key": "a", "ok": True, "s": 1.0},
                      {"key": "b", "ok": False, "error": "values differ"}],
              "setups": [{"setup_s": 2.0}], "wall_s": 1.5, "peak_rss_mb": 100.0,
              "load_start": [0.1, 0.1, 0.1], "phases": {}, "verify_s": 0.5}
    monkeypatch.setattr(run, "run", lambda *a: result)
    code = run.main(["--workload", "query_mix", "--seed", "1", "--seconds", "1"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert (last["correct"], last["attempted"], last["failed"]) == (False, 2, 1)
    assert set(last["metrics"]) == {"setup_s", "wall_s", "op_p50_s"}
