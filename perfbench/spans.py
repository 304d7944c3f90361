"""Server-side spans, recorded around calls into each layer's entry points.

``install()`` replaces the layer entry points listed in ``_wrap_all`` with
timing wrappers; the repository's source is untouched. Every gRPC call of
the Flight server is the root span of one RPC record; spans nest on a
per-thread stack (a Flight RPC, including the iteration of the stream or
action results it returns, runs on one gRPC thread). A span's self time is
its duration minus the time its child spans cover. Records stay in memory
until the benchmark asks for them.

Span names are ``<layer>.<name>``; the layers are ``server`` (the Flight
handlers), ``plans`` (dialect rewrite, statement gate, parameter bind,
schema derivation), ``engine`` (planning, result streaming, catalog
listings) including ``engine.runjob`` around ``SparkContext.runJob``.
"""

from __future__ import annotations

import functools
import threading
import time

_now = time.perf_counter


class _Frame:
    __slots__ = ("name", "rpc", "child")

    def __init__(self, name: str, rpc: "_Rpc"):
        self.name = name
        self.rpc = rpc
        self.child = 0.0


class _Rpc:
    """One Flight call: wall time plus per-span totals."""

    def __init__(self, kind: str):
        self.kind = kind
        self.start = _now()
        self.spans: dict[str, list] = {}  # name -> [seconds, calls, self seconds]
        self.first_batch: float | None = None
        self.batches = 0

    def add(self, name: str, dur: float, self_dur: float) -> None:
        entry = self.spans.setdefault(name, [0.0, 0, 0.0])
        entry[0] += dur
        entry[1] += 1
        entry[2] += self_dur

    def record(self) -> dict:
        return {
            "kind": self.kind,
            "spans": {k: [v[0] * 1e3, v[1], v[2] * 1e3] for k, v in self.spans.items()},
            "stream_first_ms": None if self.first_batch is None else self.first_batch * 1e3,
            "batches": self.batches,
        }


class Tracer:
    def __init__(self):
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._done: list[dict] = []

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def drain(self) -> list[dict]:
        with self._lock:
            done, self._done = self._done, []
        return done

    # -- spans --------------------------------------------------------------

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        if not self.enabled or not stack:
            return fn(*args, **kwargs)
        frame = _Frame(name, stack[-1].rpc)
        stack.append(frame)
        t0 = _now()
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(frame, t0)

    def _close(self, frame: _Frame, t0: float) -> None:
        dur = _now() - t0
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1].child += dur
        frame.rpc.add(frame.name, dur, dur - frame.child)

    def rpc(self, name: str, fn, *args, **kwargs):
        """Root span of one Flight call. A call that returns a stream or an
        action iterator stays open until that result is exhausted."""
        if not self.enabled:
            return fn(*args, **kwargs)
        rpc = _Rpc(name)
        frame = _Frame(name, rpc)
        stack = self._stack()
        stack.append(frame)
        t0 = rpc.start
        open_stream = False
        try:
            result = fn(*args, **kwargs)
            if name == "server.do_action":
                open_stream = True
                return self._resume(frame, t0, result)
            if getattr(self._local, "stream", None) is not None:
                open_stream = True
                self._local.stream.root = (frame, t0)
                self._local.stream = None
            return result
        finally:
            if open_stream:
                stack.pop()  # resumed by the result iterator
            else:
                self._local.stream = None
                self._finish(frame, t0)

    def _finish(self, frame: _Frame, t0: float) -> None:
        stack = self._stack()
        if stack and stack[-1] is frame:
            stack.pop()
        dur = _now() - t0
        frame.rpc.add(frame.name, dur, dur - frame.child)
        with self._lock:
            self._done.append(frame.rpc.record())

    def _resume(self, frame: _Frame, t0: float, results):
        """Iterate an action's results under its root span, then close it."""
        stack = self._stack()
        try:
            it = iter(results)
            while True:
                stack.append(frame)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    stack.pop()
                yield item
        finally:
            stack.append(frame)
            self._finish(frame, t0)

    def stream(self, gen):
        """Time ``Engine.execute_stream``: only the time spent producing
        batches counts, not the time gRPC spends sending them."""
        if not self.enabled or not self._stack():
            return gen
        holder = _StreamHolder()
        self._local.stream = holder
        return self._timed_stream(gen, holder)

    def _timed_stream(self, gen, holder: "_StreamHolder"):
        stack = self._stack()
        root_frame = None
        busy = 0.0
        rpc = None
        try:
            while True:
                if root_frame is None and holder.root is not None:
                    root_frame, _ = holder.root
                    rpc = root_frame.rpc
                frame = _Frame("engine.stream", rpc)
                if root_frame is not None:
                    stack.append(root_frame)
                stack.append(frame)
                t0 = _now()
                try:
                    batch = next(gen)
                except StopIteration:
                    return
                finally:
                    dur = _now() - t0
                    busy += dur
                    stack.pop()
                    if root_frame is not None:
                        root_frame.child += dur
                        stack.pop()
                    if rpc is not None:
                        rpc.add("engine.stream", dur, dur - frame.child)
                rpc.batches += 1
                if rpc.first_batch is None:
                    rpc.first_batch = busy
                yield batch
        finally:
            gen.close()
            if root_frame is not None:
                stack.append(root_frame)
                self._finish(root_frame, holder.root[1])


class _StreamHolder:
    __slots__ = ("root",)

    def __init__(self):
        self.root = None


def install() -> Tracer:
    tracer = Tracer()
    _wrap_all(tracer)
    return tracer


def _span(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return tracer.call(name, fn, *args, **kwargs)

    return wrapper


def _root(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return tracer.rpc(name, fn, *args, **kwargs)

    return wrapper


def _wrap_all(tracer: Tracer) -> None:
    import pyspark

    from datafusion_flight_sql_server_spark.engine import core
    from datafusion_flight_sql_server_spark.plans import dialect, gate, params, schema
    from datafusion_flight_sql_server_spark.server import service

    server = service.FlightSqlServer
    for method in ("get_flight_info", "do_get", "do_action", "do_put"):
        setattr(server, method, _root(tracer, f"server.{method}", getattr(server, method)))

    # plans: the service imports rewrite_sql at call time, arrow_schema_for_df
    # and parameter_schema_for_sql at import time, the engine bind_sql at
    # import time and arrow_schema_for_df at call time.
    dialect.rewrite_sql = _span(tracer, "plans.rewrite", dialect.rewrite_sql)
    gate.SQLOptions.verify = _span(tracer, "plans.gate", gate.SQLOptions.verify)
    core.bind_sql = _span(tracer, "plans.bind", params.bind_sql)
    schema.arrow_schema_for_df = _span(tracer, "plans.schema", schema.arrow_schema_for_df)
    service.arrow_schema_for_df = schema.arrow_schema_for_df
    service.parameter_schema_for_sql = _span(
        tracer, "plans.param_schema", service.parameter_schema_for_sql
    )

    engine = core.Engine
    engine.sql_to_plan = _span(tracer, "engine.sql_to_plan", engine.sql_to_plan)
    execute_stream = engine.execute_stream

    @functools.wraps(execute_stream)
    def stream(self, *args, **kwargs):
        return tracer.stream(execute_stream(self, *args, **kwargs))

    engine.execute_stream = stream
    # Catalog listings build a DataFrame that the handler collects, so the
    # span sits on the handlers that list and collect.
    for method in ("_get_catalogs", "_get_db_schemas", "_get_tables", "_get_table_types"):
        setattr(server, method, _span(tracer, "engine.metadata", getattr(server, method)))

    pyspark.SparkContext.runJob = _span(tracer, "engine.runjob", pyspark.SparkContext.runJob)
