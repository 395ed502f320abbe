"""Tests of the benchmark itself: ``python -m pytest graftbench -q``."""

from __future__ import annotations

import json

import pandas as pd
import pytest

import checks
import report
import stats
from spans import Span, Tracer


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    assert stats.percentile(list(range(20)), 50) == 9
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 99, 90)
    assert stats.percentile([float(x) for x in range(100)], 90) == 89.0
    with pytest.raises(ValueError):
        stats.percentile(list(range(1000)), 100)


def test_tail_mean_is_the_mean_beyond_the_percentile():
    xs = [float(x) for x in range(75)]
    assert stats.percentile(xs, 86) == 64.0
    assert stats.tail_mean(xs, 86) == sum(range(65, 75)) / 10
    with pytest.raises(ValueError):
        stats.tail_mean(xs[:70], 86)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("graftbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _split(spark, seed: int) -> dict[int, int]:
    import workloads

    df = spark.range(2000).withColumnRenamed("id", "event_id")
    rows = df.select("event_id", workloads.batch_column(seed, workloads.BATCHES).alias("b")).collect()
    return {r.event_id: r.b for r in rows}


def test_batch_split_is_seeded_and_total(spark):
    import workloads

    first, again, other = _split(spark, 7), _split(spark, 7), _split(spark, 8)
    assert first == again
    assert sorted(first) == list(range(2000))  # every event exactly once
    assert set(first.values()) <= set(range(workloads.BATCHES))
    assert len(set(first.values())) == workloads.BATCHES
    assert first != other


def test_printer_emits_every_metric_with_its_unit():
    spec = report.load_spec()
    for kind in ("end_to_end", "per_layer"):
        entries = spec[kind]
        values = {e["name"]: 1.5 for e in entries}
        line = json.loads(report.result_line(values, entries, attempted=3, failed=0))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True
        assert {k: v["unit"] for k, v in line["metrics"].items()} == {e["name"]: e["unit"] for e in entries}
        with pytest.raises(KeyError):
            report.result_line({}, entries, attempted=1, failed=0)
    assert json.loads(report.result_line({}, [], attempted=2, failed=1))["correct"] is False


def test_self_time_subtracts_children():
    tr = Tracer(spark=None, enabled=False, t0=0.0)
    tr.spans = [
        Span(2, "build", 1, 0, start=0.0, end=1.0),
        Span(3, "exec", 1, 0, start=1.0, end=3.5),
        Span(1, "query", None, 0, start=0.0, end=4.0),
    ]
    assert tr.self_times() == {1: 0.5, 2: 1.0, 3: 2.5}


def test_expected_aggregate_counts_repeated_folds():
    events = pd.DataFrame(
        {"user_id": [1, 1, 2], "event_type": ["a", "a", "b"], "value": [1.0, 3.0, 5.0], "batch": [0, 1, 1]}
    )
    got = checks.expected_aggregate(events, [0, 1, 1]).set_index(["user_id", "event_type"])
    assert got.loc[(1, "a"), "n"] == 3 and got.loc[(1, "a"), "sum_v"] == 7.0
    assert got.loc[(2, "b"), "n"] == 2 and got.loc[(2, "b"), "max_v"] == 5.0
    assert got.loc[(1, "a"), "min_v"] == 1.0


def test_joined_groups_counts_distinct_groups_of_known_users():
    events = pd.DataFrame(
        {"user_id": [1, 1, 2, 3], "event_type": ["a", "a", "b", "a"], "value": [1.0] * 4, "batch": [0, 1, 1, 0]}
    )
    assert checks.joined_groups(events, [0], {1, 2, 3}) == 2
    assert checks.joined_groups(events, [0, 1, 1], {1, 2}) == 2
    assert checks.joined_groups(events, [], {1, 2, 3}) == 0


def test_span_before_the_session_has_no_counters():
    tr = Tracer(spark=None, enabled=True, t0=0.0)
    with tr.span("get_session") as s:
        pass
    assert tr.spans == [s] and s.counters == {} and s.wall >= 0
