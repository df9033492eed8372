"""Pins bench.py's per-row stability rule and the session's default
parallelism: both are judged on the host that runs them, with no
constants from another machine. No Spark needed."""

from __future__ import annotations

import importlib.util
import os

from skope_api_spark.session import default_parallelism

_spec = importlib.util.spec_from_file_location(
    "bench_module",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_steady_row_not_flagged():
    rows = {"q1": (1.4, [1.00, 1.05, 1.10])}
    assert bench.row_stats(*rows["q1"]) == (1.00, 1.05, 1.10)
    assert bench.unstable(rows) == []


def test_wide_warm_spread_flagged():
    rows = {"q1": (2.0, [1.0, 1.2, 1.6])}
    assert bench.unstable(rows) == ["q1"]


def test_warm_median_above_cold_flagged():
    # the cold run pays codegen; a warm median slower than it means the
    # warm runs were disturbed, however tight they are
    rows = {"q1": (1.0, [1.10, 1.12, 1.15])}
    assert bench.unstable(rows) == ["q1"]


def test_slow_row_does_not_flag_its_neighbours():
    steady = {f"q{i}": (1.5, [1.0, 1.02, 1.04]) for i in range(5)}
    # one row 3x slower than its neighbours, but steady in itself
    rows = {**steady, "slow": (4.5, [3.0, 3.06, 3.12])}
    assert bench.unstable(rows) == []
    rows["noisy"] = (4.5, [1.0, 3.0, 3.0])
    assert bench.unstable(rows) == ["noisy"]


def test_no_warm_runs_give_cold_only_stats():
    rows = {"q1": (2.5, [])}
    assert bench.row_stats(*rows["q1"]) == (2.5, 2.5, 2.5)
    assert bench.unstable(rows) == []


def test_default_parallelism_is_the_host_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
