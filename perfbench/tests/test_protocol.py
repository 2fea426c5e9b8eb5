"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The metric-name test runs the harness twice (untraced and traced) on a
one-query workload, so the file takes about a minute.
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import protocol  # noqa: E402
import run  # noqa: E402


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_keeps_ten_samples_beyond(n):
    pct = protocol.tail_percentile(n)
    values = list(range(n))  # value == number of samples below it
    if pct == 100:
        # too few samples for a percentile above the median to keep ten
        # beyond it: the tail is the maximum
        assert n <= 2 * protocol.TAIL_BEYOND
        assert n - 1 - protocol.percentile(values, 51) < protocol.TAIL_BEYOND
        return
    assert pct > 50
    beyond = n - 1 - protocol.percentile(values, pct)
    assert beyond >= protocol.TAIL_BEYOND
    # the next whole percentile would leave fewer than ten beyond it
    assert n - 1 - protocol.percentile(values, pct + 1) < protocol.TAIL_BEYOND


def test_tail_is_the_value_at_that_rank():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    summary = protocol.latency_summary(values)
    assert summary["tail_pct"] == 75
    assert summary["tail"] == 30.0  # 10 samples (31..40) beyond it
    assert summary["p50"] == 20.5


@pytest.fixture()
def spark():
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[1]")
               .config("spark.ui.enabled", "false")
               .appName("perfbench-tests").getOrCreate())
    yield session
    session.stop()


def test_leak_counter_counts_a_persist_and_a_view(spark):
    df = spark.range(10).persist()
    df.count()
    df.createOrReplaceTempView("left_behind")
    assert protocol.reset_session(spark) == (1, 1)
    assert protocol.cache_entries(spark) == 0
    assert protocol.temp_views(spark) == []
    assert protocol.reset_session(spark) == (0, 0)


def test_printed_metric_names_match_benchmark_json(monkeypatch):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tiny = {"sf": 0.01, "passes": 1,
            "queries": ["dedup_exact"]}
    monkeypatch.setattr(run, "load_workload", lambda name: tiny)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        _, result = run.run(run._args([
            "--workload", "tiny", "--seed", "1", "--seconds", "0",
            "--trace", str(trace)]))
        printed = {name: m["unit"] for name, m in result["metrics"].items()}
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert printed == declared, key
        assert result["correct"] and result["failed"] == 0
