"""bench.py: the steal stamps, the per-query timeout, the warm-up pass, and
running it from outside the repository."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench
from perfbench.sparkstats import drain_listeners

ROOT = os.path.dirname(os.path.abspath(bench.__file__))

# /proc/stat "cpu" lines: user nice system idle iowait irq softirq steal guest guest_nice
_START = "cpu  1000 10 500 90000 200 0 30 100 0 0\n"
_QUIET = "cpu  1400 10 600 91000 200 0 30 110 0 0\n"  # 10 of 1,510 ticks stolen
_LOADED = "cpu  1400 10 600 90500 200 0 30 200 0 0\n"  # 100 of 1,100 ticks stolen


def test_steal_frac_is_the_stolen_share_of_all_ticks():
    assert bench.steal_frac(_START, _QUIET) == 10 / 1510
    assert bench.steal_frac(_START, _LOADED) == 100 / 1100


def test_steal_frac_all_idle_or_no_ticks_is_zero():
    assert bench.steal_frac(_START, "cpu  1000 10 500 95000 200 0 30 100 0 0") == 0.0
    assert bench.steal_frac(_START, _START) == 0.0


def test_quiet_payload_is_not_contended():
    quiet = bench.build_payload({"t01_token_topk": 1.5}, {}, False, bench.steal_frac(_START, _QUIET), 0.0)
    assert "contended" not in quiet
    assert quiet["steal_frac"] == round(10 / 1510, 4) and quiet["value"] == 1.5
    loaded = bench.build_payload({"t01_token_topk": 1.5}, {}, False, bench.steal_frac(_START, _LOADED), 0.0)
    assert loaded["contended"] is True


def test_payload_records_idle_steal_beside_the_rows_steal():
    # The idle reading is recorded; "contended" still reads the rows' steal.
    busy_rows = bench.build_payload(
        {"t01_token_topk": 1.5}, {}, False,
        bench.steal_frac(_START, _LOADED), bench.steal_frac(_START, _QUIET),
    )
    assert busy_rows["idle_steal_frac"] == round(10 / 1510, 4)
    assert busy_rows["steal_frac"] == round(100 / 1100, 4)
    assert busy_rows["contended"] is True
    busy_idle = bench.build_payload(
        {"t01_token_topk": 1.5}, {}, False,
        bench.steal_frac(_START, _QUIET), bench.steal_frac(_START, _LOADED),
    )
    assert busy_idle["idle_steal_frac"] == round(100 / 1100, 4)
    assert "contended" not in busy_idle


def test_hung_row_is_a_timeout_error_and_the_rest_still_run(spark, monkeypatch):
    from pyspark.sql import functions as F

    def _sleep(x):
        import time

        time.sleep(20)
        return x

    hang = F.udf(_sleep, "long")
    monkeypatch.setattr(bench, "QUERY_TIMEOUT_S", 1.0)
    timings, errors = bench.run_rows(
        spark,
        {
            "hung": lambda s, sf: s.range(0, 1, 1, 1).select(hang("id")),
            "quick": lambda s, sf: s.range(0, 10, 1, 1),
        },
    )
    assert errors == {"hung": "timeout"}
    assert list(timings) == ["quick"]
    drain_listeners(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []


def test_every_row_is_warmed_before_any_is_timed(spark):
    calls = []

    def row(name):
        def build(s, sf):
            calls.append(name)
            return s.range(0, 10, 1, 1)

        return build

    timings, errors = bench.run_rows(spark, {n: row(n) for n in ("a", "b", "c")})
    assert errors == {} and list(timings) == ["a", "b", "c"]
    assert calls == ["a", "b", "c", "a", "a", "b", "b", "c", "c"]


def test_bench_runs_from_another_directory(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_ONLY="t01_token_topk",
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert "errors" not in payload
    assert payload["queries"]["t01_token_topk"] > 0
    assert 0.0 <= payload["idle_steal_frac"] <= 1.0
