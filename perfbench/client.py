"""Load-generator side: one closed-loop client and the requests it sends.

Each client owns one ``FlightSQLExecutor`` (GetFlightInfo, prepared
statements) and one ``pyarrow.flight`` client that reads DoGet streams
batch by batch, so the first decoded batch can be timed. Client spans are
kept per request: ``client.flight_info``, ``client.do_get``,
``client.do_action`` and ``client.do_put`` cover the time each RPC blocks
the caller. Answers are checked against the oracle by a ``Checker`` thread,
so a client sends its next request while its previous answer is checked.
"""

from __future__ import annotations

import queue
import threading
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.flight as fl

from datafusion_flight_sql_server_spark.client import FlightSQLExecutor
from datafusion_flight_sql_server_spark.protocol.flightsql import (
    CommandGetSqlInfo,
    CommandGetTables,
    CommandPreparedStatementQuery,
    CommandStatementQuery,
)
from workloads import METADATA, PREPARED, SCHEMA_PROBE, STATEMENT, Request, table_digest

_now = time.perf_counter


@dataclass
class Result:
    kind: str
    wall: float = 0.0
    first_batch: float | None = None
    bytes: int = 0
    ok: bool = False
    error: str = ""
    spans: dict = field(default_factory=dict)


class Client:
    def __init__(self, uri: str):
        self.executor = FlightSQLExecutor(uri)
        self.flight = fl.FlightClient(uri)

    def close(self) -> None:
        self.executor.close()
        self.flight.close()

    def run(self, req: Request):
        """Send one request; returns its record and the decoded answer, or
        ``None`` for the answer when the request failed."""
        res = Result(req.kind)
        t0 = _now()
        try:
            got = self._send(req, res, t0)
        except Exception as exc:  # noqa: BLE001 - a failed request is counted
            got = None
            res.error = f"{type(exc).__name__}: {exc}"[:300]
        res.wall = _now() - t0
        return res, got

    # -- sending --------------------------------------------------------------

    def _timed(self, res: Result, name: str, fn, *args):
        t = _now()
        try:
            return fn(*args)
        finally:
            res.spans[name] = res.spans.get(name, 0.0) + _now() - t

    def _info(self, res: Result, command) -> fl.FlightInfo:
        return self._timed(res, "client.flight_info", self.executor.flight_info, command)

    def _fetch(self, res: Result, info: fl.FlightInfo, t0: float | None = None) -> pa.Table:
        """DoGet every endpoint; with ``t0``, time the first decoded batch."""
        t = _now()
        batches = []
        for endpoint in info.endpoints:
            reader = self.flight.do_get(endpoint.ticket)
            while True:
                try:
                    chunk = reader.read_chunk()
                except StopIteration:
                    break
                if t0 is not None and res.first_batch is None:
                    res.first_batch = _now() - t0
                batches.append(chunk.data)
        res.spans["client.do_get"] = res.spans.get("client.do_get", 0.0) + _now() - t
        res.bytes = sum(b.nbytes for b in batches)
        return pa.Table.from_batches(batches, schema=info.schema)

    def _send(self, req: Request, res: Result, t0: float):
        if req.kind == STATEMENT:
            info = self._info(res, CommandStatementQuery(query=req.sql))
            return self._fetch(res, info, t0)
        if req.kind == SCHEMA_PROBE:
            return self._info(res, CommandStatementQuery(query=req.sql)).schema
        if req.kind == METADATA:
            command = CommandGetSqlInfo() if req.command == "sql_info" else CommandGetTables()
            return self._fetch(res, self._info(res, command))
        if req.kind == PREPARED:
            prepared = self._timed(res, "client.do_action", self.executor.prepare, req.sql)
            param_type = prepared.parameter_schema.field(0).type
            batch = pa.record_batch([pa.array([req.param], param_type)], names=["$1"])
            self._timed(res, "client.do_put", prepared.bind, batch)
            command = CommandPreparedStatementQuery(prepared_statement_handle=prepared.handle)
            table = self._fetch(res, self._info(res, command))
            self._timed(res, "client.do_action", prepared.close)
            return table
        raise ValueError(f"unknown request kind {req.kind!r}")



class Checker:
    """One thread that compares answers with the oracle and sets each
    record's ``ok``. The queue is short, so answers waiting to be checked
    hold little memory and a client that outruns the checker waits."""

    def __init__(self):
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 1")
        self._queue: queue.Queue = queue.Queue(maxsize=2)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def submit(self, req: Request, res: Result, got) -> None:
        self._queue.put((req, res, got))

    def close(self) -> None:
        """Check everything submitted, then stop."""
        self._queue.put(None)
        self._thread.join()
        self.duck.close()

    def _loop(self) -> None:
        while (item := self._queue.get()) is not None:
            req, res, got = item
            if got is None:
                continue
            try:
                res.ok = self._check(req, got)
                if not res.ok:
                    res.error = "result differs from the oracle"
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                res.error = f"check failed: {type(exc).__name__}: {exc}"[:300]

    def _check(self, req: Request, got) -> bool:
        if req.kind in (STATEMENT, PREPARED):
            return table_digest(self.duck, got) == req.expect
        if req.kind == SCHEMA_PROBE:
            return tuple(got.names) == req.expect
        if req.command == "sql_info":
            return got.num_rows == 4 and 0 in got.column("info_name").to_pylist()
        return tuple(sorted(got.column("table_name").to_pylist())) == req.expect
