"""bench.py's pre-session load gate: loadavg is read after each 5 s sampling
window, and only the wait beyond the first window is reported."""

import bench


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
