"""Benchmark server process: the repository's Flight SQL server on loopback.

Started by ``run.py`` as ``python3 perfbench/server.py <data-dir> <trace>``.
It builds the session with ``engine.session.build_session``, registers the
benchmark tables, and serves ``FlightSqlServer(Engine(spark))`` with the
default ``FlightSqlServiceConfig()`` on an ephemeral loopback port, so it
measures what a deployment gets. Benchmark-local settings arrive only
through the environment (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``,
``SPARK_LOCAL_DIRS``) and ``extra_conf``; no repository source is changed.

Standard output is a control channel of JSON lines: the first line is
``{"port": ...}`` once the server accepts calls. Standard input takes one
command per line and answers each with one JSON line:

- ``trace on`` / ``trace off`` switch span recording (trace mode only);
- ``spans`` returns and clears the finished RPC records;
- ``spark`` drains the listener bus and returns the status-store totals for
  jobs and stages that ran since the previous ``spark`` command;
- ``quit`` (or end of input) stops the server and the session.

With trace mode on, ``spans.install`` wraps the public entry points of each
layer before the server starts.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


class SparkCounters:
    """Totals of the jobs and stages the status store recorded since the
    previous call (stage ids only grow, so a high-water mark splits runs)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._last_job = -1
        self._last_stage = -1
        self.read()  # start after everything set-up ran

    def read(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        new_jobs = [
            jid for jid in (jobs.apply(i).jobId() for i in range(jobs.size()))
            if jid > self._last_job
        ]
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages = store.stageList(None, *defaults)
        out = {"jobs": len(new_jobs), "stages": 0, "skipped_stages": 0,
               "tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "executor_cpu_ns": 0, "gc_ms": 0}
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["executor_cpu_ns"] += s.executorCpuTime()
            out["gc_ms"] += s.jvmGcTime()
        self._last_stage = top
        if new_jobs:
            self._last_job = max(new_jobs)
        return out


def main(data_dir: str, trace: bool) -> None:
    from datafusion_flight_sql_server_spark.engine.core import Engine
    from datafusion_flight_sql_server_spark.engine.registry import register_sf_tables
    from datafusion_flight_sql_server_spark.engine.session import build_session
    from datafusion_flight_sql_server_spark.server import FlightSqlServer

    from data import TABLES

    tracer = None
    if trace:
        import spans

        tracer = spans.install()

    tmp = os.environ["TMPDIR"]
    spark = build_session(
        extra_conf={
            # the console progress bar writes "[Stage ...]" into the output
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    register_sf_tables(spark, data_dir, TABLES)
    server = FlightSqlServer(Engine(spark), location="grpc://127.0.0.1:0")
    serving = threading.Thread(target=server.serve, daemon=True)
    serving.start()
    counters = SparkCounters(spark) if trace else None

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"port": server.port})
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "quit":
                break
            if tracer is not None and cmd in ("trace on", "trace off"):
                tracer.enabled = cmd == "trace on"
                reply({"ok": True})
            elif tracer is not None and cmd == "spans":
                reply({"rpcs": tracer.drain()})
            elif counters is not None and cmd == "spark":
                reply(counters.read())
            else:
                reply({"error": f"unknown command {cmd!r}"})
    finally:
        server.shutdown()
        serving.join(timeout=30)
        spark.stop()
    reply({"stopped": True})


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2] == "1")
