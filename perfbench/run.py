"""Loopback Flight SQL serving benchmark.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 25 --trace 0

Starts the repository's Flight SQL server (``perfbench/server.py``) in its
own process on loopback and drives it from this process with closed-loop
client threads (``perfbench/client.py``); the workloads and their oracle are
in ``perfbench/workloads.py``. Every response is checked against DuckDB's
answer over the same parquet files; a wrong answer counts as a failed
request.

``--trace 0`` measures for about ``--seconds`` (in whole rounds of the
workload's request mix) and reports the end-to-end metrics: the CPU time
the server spends per request and on its set-up. The client-side walls
(throughput, latency percentiles, first batch, goodput, set-up) and the
server's peak RSS of the same pass are printed beside them but not
bounded: on a shared host hypervisor steal moves the walls, and allocator
retention the peak RSS, by a quarter or more from one run to the next.
``--trace 1`` starts the server with spans installed (``perfbench/spans.py``),
runs the same measured pass with span recording off, then a fixed request
script with it on, so structural counts repeat exactly; it reports the
per-layer metrics, the walls (``wall.*``), peak RSS and per-operation
p50s (``ops.*``) of the untraced pass and the tracing overhead. Both print a
readable table and a telemetry line, then the one-line JSON result as the
last line of standard output. ``error_rate`` is ``failed / attempted`` of
that JSON line.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

# DuckDB scans the client's Arrow tables through Acero, which warns on every
# Flight buffer that is not 64-byte aligned.
os.environ.setdefault("ACERO_ALIGNMENT_HANDLING", "ignore")

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

PACKAGE = ROOT / "datafusion_flight_sql_server_spark"
if not (PACKAGE / "server" / "service.py").is_file():
    sys.exit(f"perfbench: the server package is missing under {ROOT}")
sys.path.insert(0, str(ROOT))

from data import ensure_data  # noqa: E402
from workloads import (  # noqa: E402
    BI_CLIENTS, CYCLE, METADATA, PREPARED, SCHEMA_PROBE, STATEMENT, WORKLOADS, Oracle,
)

_now = time.perf_counter

#: Cores shared by the server's Spark task slots and the client threads.
CPU_BUDGET = min(len(os.sched_getaffinity(0)), 4)
CLIENTS = {"point_lookup": 1, "bulk_scan": 1, "bi_session": BI_CLIENTS}
#: Requests per client before measuring (JIT, caches, Python workers).
WARMUP = {"point_lookup": 4, "bulk_scan": 3, "bi_session": 3}
#: Requests per client in the traced pass (whole rounds).
TRACE_SCRIPT = {"point_lookup": 24, "bulk_scan": 6, "bi_session": 10}
#: Seeded requests generated per client, more than any run can send.
POOL = 1000
DRIVER_MEMORY = "2g"
STARTUP_TIMEOUT = 120.0

#: Bounded metrics. On a shared 4-vCPU host, hypervisor steal and busy
#: neighbours move every wall by up to a quarter between runs, and the wall
#: set-up time by more than a third. CPU time moves less, as the kernel
#: leaves stolen time out of it, though the memory-bound copying of
#: bulk_scan still slows beside busy neighbours. So ``server_cpu_ms`` is the
#: server's CPU time per request and ``setup_s`` the CPU time its processes
#: spend from launch to the first answered RPC; both show work added to the
#: server or moved into its set-up.
END_TO_END = {
    "server_cpu_ms": "ms",
    "setup_s": "s",
}
#: Figures of the untraced pass that are reported, not bounded: the walls a
#: client waits for move with steal, and the server's peak RSS with how
#: much freed memory its allocators happen to keep (216-276 MB between runs
#: of one commit on bulk_scan). ``wall.setup_s`` is the wall time from
#: launch to the first answered RPC.
UNTRACED = {
    "wall.throughput_qps": "1/s",
    "wall.latency_p50_ms": "ms",
    "wall.latency_p90_ms": "ms",
    "wall.first_batch_p50_ms": "ms",
    "wall.goodput_mb_s": "MB/s",
    "server_peak_rss_mb": "MB",
    "wall.setup_s": "s",
}
PER_LAYER = {
    **UNTRACED,
    "plans.rewrite_ms": "ms",
    "plans.gate_ms": "ms",
    "plans.gate_calls": "count",
    "plans.bind_ms": "ms",
    "plans.bind_calls": "count",
    "plans.schema_ms": "ms",
    "plans.schema_calls": "count",
    "plans.param_schema_ms": "ms",
    "engine.sql_to_plan_ms": "ms",
    "engine.sql_to_plan_calls": "count",
    "engine.stream_first_ms": "ms",
    "engine.stream_ms": "ms",
    "engine.stream_self_ms": "ms",
    "engine.batches_out": "count",
    "engine.runjob_calls": "count",
    "engine.runjob_ms": "ms",
    "engine.metadata_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "server.get_flight_info_ms": "ms",
    "server.do_get_ms": "ms",
    "server.do_action_ms": "ms",
    "server.do_put_ms": "ms",
    "client.flight_info_ms": "ms",
    "client.do_get_ms": "ms",
    "client.first_batch_ms": "ms",
    "client.bytes": "bytes",
    "self.client_ms": "ms",
    "self.server_ms": "ms",
    "self.plans_ms": "ms",
    "self.engine_ms": "ms",
    "self.runjob_ms": "ms",
    "ops.statement_p50_ms": "ms",
    "ops.prepared_p50_ms": "ms",
    "ops.metadata_p50_ms": "ms",
    "ops.schema_probe_p50_ms": "ms",
    "trace.requests": "count",
    "trace.coverage_pct": "%",
    "trace.server_share_pct": "%",
    "tracing_overhead": "%",
    "host.steal_s": "s",
    "host.loadavg_1m": "load",
}
#: Counts steal cannot move; two traced runs of one commit must agree.
STRUCTURAL = ("spark.jobs", "spark.stages", "plans.gate_calls", "engine.runjob_calls")


# -- host telemetry -----------------------------------------------------------

def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def load_gate(sample: float = 1.0, limit: float = 0.10, max_wait: float = 10.0) -> dict:
    """Wait while hypervisor steal exceeds ``limit`` of the host's cores.

    The first ``sample`` seconds are the sampling window; only windows after
    it count as ``gate_wait_s``. Load average is read after the sleep, so it
    describes the window just sampled."""
    waited = 0.0
    while True:
        s0 = steal_seconds()
        time.sleep(sample)
        share = (steal_seconds() - s0) / (sample * (os.cpu_count() or 1))
        load = loadavg_1m()
        if share <= limit or waited >= max_wait:
            return {"gate_sample_s": sample, "gate_wait_s": waited,
                    "gate_steal_share": round(share, 4), "gate_loadavg_1m": load}
        waited += sample


# -- server process -----------------------------------------------------------

class Server:
    """One ``perfbench/server.py`` process in its own process group."""

    def __init__(self, data_dir: Path, trace: bool, cpus: int, tmp: Path):
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_MASTER", None)
        env.update(self.settings(cpus))
        env["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
        env["TMPDIR"] = str(tmp)
        env["PYSPARK_PYTHON"] = sys.executable
        (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
        self.log = open(tmp / "server.log", "ab")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server.py"), str(data_dir), "1" if trace else "0"],
            cwd=str(tmp), env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    @staticmethod
    def settings(cpus: int) -> dict:
        return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": DRIVER_MEMORY}

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def read(self, timeout: float) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server gave no answer within {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError(f"server exited with code {self.proc.wait()}")
        if not line.startswith("{"):
            return self.read(timeout)
        return json.loads(line)

    def command(self, cmd: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def reset_peak_rss(self) -> None:
        """Restart the VmHWM high-water mark."""
        with open(f"/proc/{self.proc.pid}/clear_refs", "w") as f:
            f.write("5")

    def cpu_s(self) -> float:
        """User plus system CPU seconds of the server's process group (the
        Python server, its JVM and any Python workers), reaped children
        included. The kernel leaves stolen time out of these counters."""
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            if int(fields[2]) == self.proc.pid:  # process group id
                total += sum(int(x) for x in fields[11:15])  # utime..cstime
        return total / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing")

    def stop(self) -> None:
        """Kill the server's whole process group (the JVM and Python workers
        with it) and wait until none of it is left."""
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            if self.proc.poll() is None:
                self.proc.wait(timeout=10)
            time.sleep(0.05)
        self.proc.wait(timeout=10)
        self.log.close()


def launch(data_dir: Path, trace: bool, cpus: int, tmp: Path) -> tuple[Server, float]:
    """Start a server; returns it with the wall seconds from launch to the
    first successful RPC (session build, table registration, then planning
    a statement)."""
    from client import Client
    from datafusion_flight_sql_server_spark.protocol.flightsql import CommandStatementQuery

    t0 = _now()
    server = Server(data_dir, trace, cpus, tmp)
    try:
        port = server.read(STARTUP_TIMEOUT)["port"]
        client = Client(f"grpc://127.0.0.1:{port}")
        try:
            client.executor.flight_info(CommandStatementQuery(query="SELECT * FROM nation"))
        finally:
            client.close()
    except BaseException:
        server.stop()
        raise
    server.port = port
    return server, _now() - t0


# -- load generation ----------------------------------------------------------

def drive(uri: str, streams: list, deadline: float | None = None, cycle: int = 1):
    """Closed loop: each client thread sends its next request when the
    previous one completed, through its whole stream or until ``deadline``.
    A client stops only between whole ``cycle``s of requests, so its sample
    holds whole rounds of the workload's request mix: at the first round
    boundary where a round as long as its last one would end more than half
    past the deadline, so a run lasts about as long as asked. Answers are
    checked on a thread of their own. Returns each client's records and the
    seconds its loop ran."""
    from client import Checker, Client

    results: list[list] = [[] for _ in streams]
    elapsed = [0.0] * len(streams)
    errors: list[BaseException] = []
    checker = Checker()

    def loop(i: int) -> None:
        client = Client(uri)
        t0 = round_start = _now()
        last_round = 0.0
        try:
            for n, req in enumerate(streams[i]):
                if n % cycle == 0:
                    now = _now()
                    last_round, round_start = now - round_start, now
                    if deadline is not None and time.monotonic() + last_round / 2 >= deadline:
                        break
                res, got = client.run(req)
                results[i].append(res)
                checker.submit(req, res, got)
        except BaseException as exc:  # noqa: BLE001 - re-raised in the caller
            errors.append(exc)
        finally:
            elapsed[i] = _now() - t0
            client.close()

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(streams))]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        checker.close()
    if errors:
        raise errors[0]
    if deadline is not None and any(len(r) == len(s) for r, s in zip(results, streams)):
        raise RuntimeError("request stream exhausted before the deadline")
    return results, elapsed


def pct(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def wall_metrics(per_client: list[list], elapsed: list[float]) -> dict:
    """Rates are summed over clients, each client's requests completed
    (or bytes decoded) over the time its closed loop ran: clients end at
    their own round boundary, so one shared window would count a finished
    client's idle tail."""
    flat = [r for rs in per_client for r in rs]
    walls = [r.wall * 1e3 for r in flat]
    first = [r.first_batch * 1e3 for r in flat if r.first_batch is not None]
    return {
        "wall.throughput_qps": sum(len(rs) / e for rs, e in zip(per_client, elapsed)),
        "wall.latency_p50_ms": pct(walls, 0.5),
        "wall.latency_p90_ms": pct(walls, 0.9),
        "wall.first_batch_p50_ms": pct(first, 0.5),
        "wall.goodput_mb_s": sum(
            sum(r.bytes for r in rs) / e for rs, e in zip(per_client, elapsed)
        ) / 1e6,
    }


def op_p50s(flat: list) -> dict:
    """p50 wall per request kind; 0 for a kind the workload does not send."""
    out = {}
    for kind in (STATEMENT, PREPARED, METADATA, SCHEMA_PROBE):
        walls = [r.wall * 1e3 for r in flat if r.kind == kind]
        out[f"ops.{kind}_p50_ms"] = pct(walls, 0.5)
    return out


def per_layer(flat: list, rpcs: list[dict], spark: dict) -> dict:
    """Per-request means of the traced pass; self times by layer."""
    n = len(flat)
    totals: dict[str, list] = {}
    roots = 0.0
    for rpc in rpcs:
        for name, (ms, calls, self_ms) in rpc["spans"].items():
            entry = totals.setdefault(name, [0.0, 0, 0.0])
            entry[0] += ms
            entry[1] += calls
            entry[2] += self_ms
        roots += rpc["spans"][rpc["kind"]][0]

    def ms(name: str) -> float:
        return totals.get(name, [0.0])[0] / n

    def calls(name: str) -> float:
        return totals.get(name, [0, 0])[1] / n

    def self_ms(prefix: str, skip: str = "") -> float:
        return sum(v[2] for k, v in totals.items()
                   if k.startswith(prefix) and k != skip) / n

    firsts = [r["stream_first_ms"] for r in rpcs if r["stream_first_ms"] is not None]
    client_rpc = sum(sum(r.spans.values()) for r in flat) * 1e3
    wall = sum(r.wall for r in flat) * 1e3
    out = {
        "plans.rewrite_ms": ms("plans.rewrite"),
        "plans.gate_ms": ms("plans.gate"),
        "plans.gate_calls": calls("plans.gate"),
        "plans.bind_ms": ms("plans.bind"),
        "plans.bind_calls": calls("plans.bind"),
        "plans.schema_ms": ms("plans.schema"),
        "plans.schema_calls": calls("plans.schema"),
        "plans.param_schema_ms": ms("plans.param_schema"),
        "engine.sql_to_plan_ms": ms("engine.sql_to_plan"),
        "engine.sql_to_plan_calls": calls("engine.sql_to_plan"),
        "engine.stream_first_ms": statistics.fmean(firsts) if firsts else 0.0,
        "engine.stream_ms": ms("engine.stream"),
        "engine.stream_self_ms": totals.get("engine.stream", [0, 0, 0.0])[2] / n,
        "engine.batches_out": sum(r["batches"] for r in rpcs) / n,
        "engine.runjob_calls": calls("engine.runjob"),
        "engine.runjob_ms": ms("engine.runjob"),
        "engine.metadata_ms": ms("engine.metadata"),
        "spark.jobs": spark["jobs"] / n,
        "spark.stages": spark["stages"] / n,
        "spark.tasks": spark["tasks"] / n,
        "spark.shuffle_read_mb": spark["shuffle_read_bytes"] / 1e6 / n,
        "spark.shuffle_write_mb": spark["shuffle_write_bytes"] / 1e6 / n,
        "spark.executor_cpu_s": spark["executor_cpu_ns"] / 1e9 / n,
        "spark.gc_s": spark["gc_ms"] / 1e3 / n,
    }
    for rpc in ("get_flight_info", "do_get", "do_action", "do_put"):
        out[f"server.{rpc}_ms"] = ms(f"server.{rpc}")
    for span in ("flight_info", "do_get"):
        out[f"client.{span}_ms"] = sum(r.spans.get(f"client.{span}", 0.0) for r in flat) * 1e3 / n
    firsts = [r.first_batch * 1e3 for r in flat if r.first_batch is not None]
    out["client.first_batch_ms"] = statistics.fmean(firsts) if firsts else 0.0
    out["client.bytes"] = sum(r.bytes for r in flat) / n
    out.update({
        "self.client_ms": (client_rpc - roots) / n,
        "self.server_ms": self_ms("server."),
        "self.plans_ms": self_ms("plans."),
        "self.engine_ms": self_ms("engine.", skip="engine.runjob"),
        "self.runjob_ms": totals.get("engine.runjob", [0, 0, 0.0])[2] / n,
        "trace.requests": n,
        "trace.coverage_pct": 100 * client_rpc / wall if wall else 0.0,
        "trace.server_share_pct": 100 * roots / wall if wall else 0.0,
    })
    return out


# -- the run ------------------------------------------------------------------

def run(args) -> dict:
    workload = args.workload
    clients = CLIENTS[workload]
    cycle = CYCLE[workload]
    cpus = max(1, CPU_BUDGET - clients)
    data_dir = ensure_data()
    tmp = data_dir.parent / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)

    started = time.monotonic()
    oracle = Oracle(data_dir, CPU_BUDGET)
    streams = [iter(s) for s in WORKLOADS[workload](args.seed, oracle, POOL)]
    oracle.con.close()
    oracle_s = time.monotonic() - started

    server = None
    try:
        server, setup_wall_s = launch(data_dir, bool(args.trace), cpus, tmp)
        setup_s = server.cpu_s()
        uri = f"grpc://127.0.0.1:{server.port}"
        t0 = time.monotonic()
        warm, _ = drive(uri, [list(_take(s, WARMUP[workload])) for s in streams])
        warmup_s = time.monotonic() - t0
        # Drawn before the measured pass so that it is the same in every
        # traced run of a seed.
        script = [list(_take(s, TRACE_SCRIPT[workload])) for s in streams]
        gate = load_gate()
        telemetry = {"workload": workload, "seed": args.seed, "clients": clients,
                     "settings": {**Server.settings(cpus),
                                  "spark.ui.showConsoleProgress": "false"},
                     "oracle_s": round(oracle_s, 3), "warmup_s": round(warmup_s, 3), **gate}
        steal0, load0 = steal_seconds(), loadavg_1m()
        server.reset_peak_rss()
        cpu0 = server.cpu_s()
        t0 = time.monotonic()
        measured, elapsed = drive(uri, [list(_take(s, POOL)) for s in streams],
                                  deadline=t0 + args.seconds, cycle=cycle)
        window = time.monotonic() - t0
        server_cpu_s = server.cpu_s() - cpu0
        peak_rss_mb = server.peak_rss_mb()
        steal = steal_seconds() - steal0
        load1 = loadavg_1m()
        results = measured
        if args.trace:
            server.command("spark")  # start of the traced pass
            server.command("trace on")
            traced, _ = drive(uri, script)
            server.command("trace off")
            rpcs = server.command("spans")["rpcs"]
            spark = server.command("spark")
            results = measured + traced
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    measured_flat = [r for rs in measured for r in rs]
    e2e = {"server_cpu_ms": 1e3 * server_cpu_s / len(measured_flat), "setup_s": setup_s}
    untraced = {**wall_metrics(measured, elapsed), "server_peak_rss_mb": peak_rss_mb,
                "wall.setup_s": setup_wall_s}
    ops = op_p50s(measured_flat)
    flat = [r for rs in results for r in rs]
    failed = len([r for r in flat if not r.ok])
    failures = [r for rs in warm + results for r in rs if not r.ok]
    telemetry.update({"window_s": round(window, 3),
                      "requests_per_client": [len(rs) for rs in measured],
                      "server_cpu_s": round(server_cpu_s, 3), "host.steal_s": round(steal, 3),
                      "host.loadavg_1m": [load0, load1],
                      "error_rate": failed / len(flat)})
    if args.trace:
        traced_flat = [r for rs in traced for r in rs]
        metrics = per_layer(traced_flat, rpcs, spark)
        metrics.update(untraced)
        metrics.update(ops)
        metrics["tracing_overhead"] = 100 * (
            statistics.fmean(r.wall for r in traced_flat)
            / statistics.fmean(r.wall for r in measured_flat) - 1
        )
        metrics["host.steal_s"] = steal
        metrics["host.loadavg_1m"] = load1
        units = PER_LAYER
    else:
        metrics = e2e
        units = END_TO_END
    sent = {k: v for k, v in ops.items()
            if any(r.kind == k[4:-7] for r in measured_flat)}
    _print_report(workload, {**e2e, **untraced, **sent}, metrics if args.trace else {},
                  telemetry, failures)
    return {
        "correct": not failures,
        "attempted": len(flat),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _take(it, n: int):
    return itertools.islice(it, n)


def _print_report(workload, e2e: dict, layers: dict, telemetry: dict, failures) -> None:
    for r in failures[:5]:
        print(f"FAILED {r.kind}: {r.error}")
    print(f"== {workload}: end-to-end" + (" (untraced pass)" if layers else ""))
    units = {**END_TO_END, **PER_LAYER}
    for k, v in e2e.items():
        print(f"  {k:28s} {v:14.4f} {units[k]}")
    if layers:
        print(f"== {workload}: per layer, per request (traced pass)")
        for k, u in PER_LAYER.items():
            if k not in UNTRACED and not k.startswith("ops."):  # printed above
                print(f"  {k:28s} {layers[k]:14.4f} {u}")
        selfs = {k: layers[k] for k in layers if k.startswith("self.")}
        top = max(selfs, key=selfs.get)
        wall = layers["client.flight_info_ms"] + layers["client.do_get_ms"]
        print(f"  largest layer: {top[5:-3]} {selfs[top]:.1f} ms of "
              f"{wall:.1f} ms client RPC time per request "
              f"({', '.join(f'{k[5:-3]} {v:.1f}' for k, v in selfs.items())})")
        print("  structural counts: " + json.dumps({k: layers[k] for k in STRUCTURAL}))
    print("telemetry " + json.dumps(telemetry))


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10.0,
                        help="length of the measured pass (default 10)")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(parser.parse_args())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
