"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import seeds  # noqa: E402
from oracle import OracleCache, oracle_key, rowset_digest  # noqa: E402
from quantiles import percentile, summarize  # noqa: E402
from workloads import chernoff_band  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert seeds.sample_round(7, 0) == seeds.sample_round(7, 0)
    assert seeds.sample_round(7, 0) != seeds.sample_round(8, 0)
    assert seeds.sample_round(7, 0) != seeds.sample_round(7, 1)
    names = [f"q{i}_x" for i in range(1, 23)]
    assert seeds.query_order(7, 0, names) == seeds.query_order(7, 0, reversed(names))
    assert seeds.query_order(7, 0, names) != seeds.query_order(8, 0, names)
    assert sorted(seeds.query_order(8, 0, names)) == sorted(names)


def test_sample_round_is_balanced_and_repeats_run_after_their_original():
    reqs = seeds.sample_round(3, 0, size=100, repeats=8)
    assert len(reqs) == 100
    for f in seeds.FRACTIONS:
        assert sum(r.fraction == f for r in reqs) == 25
    repeats = [(i, r) for i, r in enumerate(reqs) if r.repeat_of >= 0]
    assert len(repeats) == 8
    for i, r in repeats:
        orig = reqs[r.repeat_of]
        assert r.repeat_of < i
        assert (orig.fraction, orig.seed) == (r.fraction, r.seed)
    assert len({(r.fraction, r.seed) for r in reqs}) == 92


def test_percentiles_report_their_sample_count():
    xs = [float(i) for i in range(1, 101)]
    p90 = percentile(xs, 90)
    assert p90.n == 100
    assert p90.beyond == 10
    assert p90.value == pytest.approx(90.1)
    s = summarize(xs)
    assert (s["n"], s["p90_beyond"]) == (100, 10)
    assert percentile([5.0], 50) == (50, 5.0, 1, 0)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_oracle_cache_invalidates_when_oracle_text_changes(tmp_path):
    table = tmp_path / "t.parquet"
    table.write_bytes(b"rows")
    tables = {"t": str(table)}
    cache = OracleCache(str(tmp_path / "cache"))
    calls = []

    def fake_run(sql, tables):
        calls.append(sql)
        return {"columns": ["a"], "rows": len(calls), "digest": sql}

    import oracle

    real = oracle.run_duckdb
    oracle.run_duckdb = fake_run
    try:
        first = cache.answer("q", "SELECT 1 AS a", tables)
        assert cache.answer("q", "SELECT 1 AS a", tables) == first
        assert len(calls) == 1
        cache.answer("q", "SELECT 2 AS a", tables)
        assert len(calls) == 2
        # new table bytes miss as well
        table.write_bytes(b"other rows")
        cache.answer("q", "SELECT 1 AS a", tables)
        assert len(calls) == 3
    finally:
        oracle.run_duckdb = real
    assert oracle_key("SELECT 1", tables) != oracle_key("SELECT 1 ", tables)


def test_rowset_digest_ignores_row_and_column_order():
    a = rowset_digest(["x", "y"], [(1, 0.5), (2, float("nan"))])
    b = rowset_digest(["y", "x"], [(float("nan"), 2), (0.5, 1)])
    assert a == b
    assert a["rows"] == 2
    assert rowset_digest(["x", "y"], [(1, 0.5)]) != a


def test_chernoff_band_holds_the_mean_and_narrows_with_size():
    lo, hi = chernoff_band(60000, 0.3)
    assert lo < 18000 < hi
    assert (hi - lo) / 18000 < 0.15
    lo_small, hi_small = chernoff_band(60000, 0.01)
    assert (hi_small - lo_small) / 600 > (hi - lo) / 18000

