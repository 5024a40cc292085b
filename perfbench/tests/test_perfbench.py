"""Tests of the benchmark itself: the percentile rule, self-time
subtraction, failure counting, and a smoke run of every workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import stats  # noqa: E402
from tracing import Tracer, jobs_within  # noqa: E402
import workloads as W  # noqa: E402


# -- percentile rule ---------------------------------------------------------

def test_tail_needs_twenty_samples():
    assert stats.tail(range(19)) is None
    assert stats.tail([]) is None


@pytest.mark.parametrize("n", [20, 21, 29, 30, 57, 100, 1000])
def test_tail_leaves_at_least_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    pct, value, count = stats.tail(reversed(xs))
    assert count == n
    beyond = sum(x > value for x in xs)
    assert beyond >= stats.TAIL_BEYOND
    # the highest such percentile: one more point would leave fewer
    assert sum(x > value for x in xs) < stats.TAIL_BEYOND + n / 100 + 1
    assert pct == int(pct)


def test_tail_values():
    assert stats.tail(range(1, 21)) == (50.0, 10.0, 20)
    assert stats.tail(range(1, 101)) == (90.0, 90.0, 100)


# -- self time -----------------------------------------------------------------

def test_union_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 7)]) == 5
    assert stats.union_length([(3, 1)]) == 0


def test_self_time_clips_and_counts_overlap_once():
    # children overlap each other and one runs past the span's end
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 5
    assert stats.self_time(0, 10, [(20, 30)]) == 10
    assert stats.self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_tracer_self_seconds_subtracts_children_and_jobs(monkeypatch):
    tr = Tracer()
    clock = iter([0.0, 1.0, 3.0, 5.0, 6.0, 10.0])
    monkeypatch.setattr("tracing.time.time", lambda: next(clock))
    b = tr.begin("plans.build")           # 0
    c = tr.begin("sources.load_table")    # 1
    tr.end(c)                             # 3
    c = tr.begin("operators.dedup")       # 5
    tr.end(c)                             # 6
    tr.end(b)                             # 10
    # one job inside the operator call (counted once), one on its own
    jobs = [{"start": 5.2, "end": 5.8}, {"start": 7.0, "end": 8.0}]
    assert tr.self_seconds("plans.build", jobs) == pytest.approx(6.0)
    assert tr.layer("plans.build") == (1, 10.0)


def test_layer_counts_outer_calls_only():
    tr = Tracer()
    f = tr.wrap(lambda n: g(n - 1) if n else None, "operators.dedup")
    g = tr.wrap(lambda n: f(n) if n else None, "operators.dedup")
    f(3)
    calls, secs = tr.layer("operators.dedup")
    assert calls == 1 and len(tr.spans) == 6  # f g f g f g
    assert secs >= 0 and tr.overhead > 0
    tr.enabled = False
    f(3)
    assert len(tr.spans) == 6


def test_jobs_within_attributes_by_submission():
    jobs = [{"start": 1.0}, {"start": 5.0}, {"start": 9.0}]
    assert jobs_within(jobs, [(0, 2), (8, 10)]) == [jobs[0], jobs[2]]


# -- failure counting ----------------------------------------------------------

class _Noop:
    """Stands in for a session and a DataFrame: every attribute and call
    returns itself."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self


def test_raising_query_is_counted_and_the_pass_continues(monkeypatch):
    calls = []

    def ok(spark, d):
        calls.append("ok")
        return _Noop()

    def boom(spark, d):
        calls.append("boom")
        raise ValueError("broken plan")

    from slipstream_async_spark.plans import catalog

    monkeypatch.setattr(catalog, "queries", lambda: {"a": ok, "b": boom, "c": ok})
    res = W.Result()
    W.catalog_pass(_Noop(), "unused", ["a", "b", "c"], 1, res)
    assert sorted(calls) == ["boom", "ok", "ok"]
    assert (res.attempted, res.failed) == (3, 1)
    assert "broken plan" in res.errors["b"]
    assert len(res.latencies) == 2 and len(res.pass_seconds) == 1


def test_failures_never_exceed_attempts():
    res = W.Result()
    res.attempted = 2
    res.fail("x", "wrong", ops=5)
    assert res.failed == 2


def test_wrong_result_counts_every_operation(tmp_path):
    import datagen

    tables = str(tmp_path / "t")
    datagen.write_tables(tables, 0.001)
    import duckdb
    from slipstream_async_spark.plans.catalog import oracle_sql

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    right = con.execute(oracle_sql()["q5_region_revenue"]).df()
    wrong = right.copy()
    wrong.iloc[0, -1] = wrong.iloc[0, -1] + 1
    res = W.Result()
    res.attempted, res.ops_of = 5, {"q5_region_revenue": 2, "j": 3}
    W.check_catalog(ROOT, tables, {"q5_region_revenue": wrong}, res,
                    str(tmp_path / "cache"), "test")
    assert res.failed == 2 and "q5_region_revenue" in res.errors
    res2 = W.Result()
    res2.attempted = 2
    W.check_catalog(ROOT, tables, {"q5_region_revenue": right}, res2,
                    str(tmp_path / "cache"), "test")
    assert res2.failed == 0
    assert len(os.listdir(tmp_path / "cache")) == 1  # answer cached once


def test_doc_stream_is_seeded_with_unique_ids():
    import datagen

    base = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 4
    a = datagen.doc_stream(base, 7, 3, 50)
    assert a == datagen.doc_stream(base, 7, 3, 50)
    assert a != datagen.doc_stream(base, 8, 3, 50)
    ids = [i for rows in a for i, _ in rows]
    assert len(ids) == len(set(ids)) == 150
    texts = [t for rows in a for _, t in rows]
    assert len(set(texts)) < len(texts)  # exact copies are injected


def test_tables_are_deterministic():
    import datagen

    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


# -- smoke ---------------------------------------------------------------------

def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert list(last["metrics"]) == want
    if not trace:
        assert all(m["value"] > 0 for m in last["metrics"].values())
    lines = out.stdout.splitlines()
    for name in ("setup_s", "run_s", "op_p50_s", "peak_rss_mb", "error_rate"):
        assert any(l.startswith(f"{workload} {name} ") for l in lines), name


def test_refuses_to_run_without_the_library(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert out.returncode != 0 and out.stdout == ""
    assert time.time() - t0 < 180
