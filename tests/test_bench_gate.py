"""bench.py's measurement helpers: the pre-session load gate (loadavg is read
after each 5 s sampling window, and only the wait beyond the first window is
reported), the oracle estimator record, and the per-query status-store
counts."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import bench
from tests.conftest import SF_SMALL


class _Host:
    """Scripted loadavg readings; sleeping advances the clock."""

    def __init__(self, loads):
        self.loads = list(loads)
        self.slept = 0.0
        self.reads_at = []

    def sleep(self, s):
        self.slept += s

    def loadavg(self):
        self.reads_at.append(self.slept)
        return [self.loads.pop(0), 0.0, 0.0]


def _gate(monkeypatch, loads):
    host = _Host(loads)
    monkeypatch.setattr(bench.time, "sleep", host.sleep)
    monkeypatch.setattr(bench, "_loadavg", host.loadavg)
    monkeypatch.setattr(bench, "_steal_jiffies", lambda: 0)
    return bench._load_gate(), host


def test_calm_host_reports_no_wait(monkeypatch):
    waited, host = _gate(monkeypatch, [0.5])
    assert waited == 0.0
    assert host.slept == 5.0  # the one sampling window still runs


def test_loadavg_is_read_after_the_window(monkeypatch):
    # busy at the end of window 1, calm at the end of window 2
    waited, host = _gate(monkeypatch, [9.0, 0.5])
    assert host.reads_at == [5.0, 10.0]
    assert waited == 5.0


def test_wait_is_capped(monkeypatch):
    windows = int(bench.LOAD_GATE_MAX_WAIT_SEC // 5)
    waited, _ = _gate(monkeypatch, [9.0] * windows)
    assert waited == bench.LOAD_GATE_MAX_WAIT_SEC - 5.0


def _oracle_over_temp_parquet(tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"v": list(range(100))}), path)
    return bench._time_oracles(
        SF_SMALL, {"q": f"SELECT sum(v) FROM read_parquet('{path}')"}
    )


def test_cheap_oracle_records_median3(tmp_path):
    sec, estimator = _oracle_over_temp_parquet(tmp_path)
    assert estimator == {"q": "median3"}
    assert sec["q"] < 5.0


def test_expensive_oracle_records_min2(tmp_path, monkeypatch):
    # every clock read advances 6 s, so the first sample is 6 s (>= 5 s)
    clock = iter(range(0, 600, 6))
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(clock))
    sec, estimator = _oracle_over_temp_parquet(tmp_path)
    assert estimator == {"q": "min2"}
    assert sec == {"q": 6.0}


def test_counts_repeat_for_the_same_query(spark, monkeypatch):
    monkeypatch.setattr(bench, "TIMED_RUNS", 2)
    counters = bench.SparkCounters(spark)

    def aggregation(session, _data_dir):  # a new DataFrame per run
        return session.range(0, 2000, 1, 4).groupBy(F.col("id") % 7).count()

    _, first = bench._timed_runs(spark, counters, aggregation, "")
    _, second = bench._timed_runs(spark, counters, aggregation, "")
    structure = ("jobs", "stages", "skipped_stages")
    assert [first[k] for k in structure] == [second[k] for k in structure]
    assert first["jobs"] >= 1
    assert first["shuffle_write_bytes"] > 0
