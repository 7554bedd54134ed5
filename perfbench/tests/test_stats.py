"""Metric helpers."""

import pytest

import harness
import stats


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 99) == pytest.approx(99.01)
    assert stats.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_q_keeps_ten_samples_beyond():
    assert stats.tail_q(1000, 99.0) == 99.0      # 10 beyond p99
    assert stats.tail_q(999, 99.0) == 90.0       # 9.99 beyond p99: too few
    assert stats.tail_q(100, 99.0) == 90.0
    assert stats.tail_q(40, 99.0) == 75.0
    assert stats.tail_q(10, 99.0) == 50.0
    assert stats.tail_q(1000, 90.0) == 90.0      # never above the wanted one
    assert stats.tail_q(24, 90.0, min_beyond=3) == 75.0


def test_tail_mean_averages_the_slowest_share():
    assert stats.tail_mean(range(1, 13), 0.25) == 11.0
    assert stats.tail_mean([5.0], 0.25) == 5.0


def test_latency_is_measured_from_due_time():
    # a record due at 10.0 but sent late at 10.5 and emitted at 11.0
    # waited 1000 ms, not 500 ms
    assert stats.latencies_ms([10.0, 10.1], [11.0, 11.0]) == \
        pytest.approx([1000.0, 900.0])


def test_backlog_series_and_slope():
    due = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0]
    emit = [1.0, 1.0, 2.0, 2.0]
    assert stats.backlog_series(due, emit, [0.9, 1.0, 2.0, 3.0]) == [2, 1, 1, 3]
    assert stats.slope([0, 1, 2, 3], [0, 2, 4, 6]) == pytest.approx(2.0)
    assert stats.slope([0, 1, 2], [5, 5, 5]) == 0.0
    assert stats.slope([1], [3]) == 0.0


def test_exactly_once_accounting():
    acc = stats.exactly_once([1, 2, 3, 4], [1, 2, 2, 2, 4, 9])
    assert acc == {"missing": 1, "duplicated": 2, "unexpected": 1}
    assert stats.exactly_once([1, 2], [2, 1]) == \
        {"missing": 0, "duplicated": 0, "unexpected": 0}


def test_parse_sql_metric_values():
    assert harness.parse_metric("0.0 B") == 0.0
    assert harness.parse_metric("2,000,000") == 2_000_000
    assert harness.parse_metric(
        "total (min, med, max (stageId: taskId))\n15.3 MiB (3.8 MiB, ...)") \
        == pytest.approx(15.3 * 1024 ** 2)
    assert harness.parse_metric(
        "total (min, med, max (stageId: taskId))\n7.4 s (1.8 s, ...)") \
        == pytest.approx(7400.0)
    assert harness.parse_metric("50 ms") == 50.0


def test_span_self_time_subtracts_children():
    tr = harness.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert outer["run"] == inner["run"] == tr.run_id
    st = tr.self_times()
    assert st["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    off = harness.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def _scripted_steal(monkeypatch, steals):
    it = iter(steals)
    monkeypatch.setattr(harness, "cpu_steal",
                        lambda since=None: "mark" if since is None
                        else next(it))
    monkeypatch.setattr(harness.time, "sleep", lambda s: None)


def test_measure_quietly_retries_a_stolen_try(monkeypatch):
    _scripted_steal(monkeypatch, [20.0, 3.0])
    tries = iter(["stolen", "quiet"])
    assert harness.measure_quietly(lambda: next(tries)) == ("quiet", 3.0, 2)


def test_measure_quietly_stops_at_its_budget(monkeypatch):
    # instant tries: each retry costs one 5-s pause of a 12-s budget
    monkeypatch.setattr(harness, "RETRY_BUDGET_S", 12.0)
    _scripted_steal(monkeypatch, [20.0, 30.0, 9.0, 1.0])
    n = iter(range(10))
    assert harness.measure_quietly(lambda: next(n)) == (2, 9.0, 3)


def test_measure_quietly_without_retry_measures_once(monkeypatch):
    _scripted_steal(monkeypatch, [50.0])
    assert harness.measure_quietly(lambda: "x", retry=False) == ("x", 50.0, 1)


def test_multiset_diff_is_exact_and_order_free():
    from datetime import datetime, timezone

    import pyarrow as pa

    from wl_replay import _multiset_diff

    naive = pa.table({"t": pa.array([datetime(2024, 1, 1, 1)] * 2),
                      "n": pa.array([2, 1], pa.int32()),
                      "v": [0.1, 0.2]})
    aware = pa.table({"a": pa.array(
        [datetime(2024, 1, 1, 1, tzinfo=timezone.utc)] * 2,
        pa.timestamp("us", tz="UTC")),
        "b": pa.array([1, 2], pa.int64()), "c": [0.2, 0.1]})
    assert _multiset_diff(aware, naive) == ""
    dup = pa.concat_tables([naive, naive.slice(0, 1)])
    assert "3 rows vs batch 2" in _multiset_diff(dup, naive)
    off = pa.table({"t": naive["t"], "n": naive["n"],
                    "v": [0.1, 0.2 + 1e-12]})
    assert _multiset_diff(off, naive) != ""


def test_oracle_canonical_form_ignores_order_and_sub_micro_noise():
    from datetime import datetime, timezone

    import pyarrow as pa

    from wl_batch import canonical

    spark = pa.table({"v": [0.1 + 1e-9, float("nan"), None],
                      "k": pa.array([2, 1, 3], pa.int32()),
                      "t": pa.array([datetime(2024, 1, 1, tzinfo=timezone.utc)]
                                    * 3, pa.timestamp("us", tz="UTC"))})
    duck = pa.table({"k": pa.array([3, 1, 2], pa.int64()),
                     "t": pa.array([datetime(2024, 1, 1)] * 3),
                     "v": [None, float("nan"), 0.1]})
    assert canonical(spark).equals(canonical(duck))
    off = duck.set_column(2, "v", pa.array([None, float("nan"), 0.1001]))
    assert not canonical(spark).equals(canonical(off))
