"""Spark DataSource exposing a remote Flight SQL table — federation.

The Spark-native analogue of the reference's table-provider crate
(reference: datafusion-flight-sql-table-provider/src/lib.rs:15-106): a
foreign table whose scan pushes SQL to a remote Flight SQL server and
streams Arrow batches back.

Mapping:
- schema probe      → ``select * from {t} limit 1`` FlightInfo, plan-only
                      (lib.rs:91-101)
- scan              → GetFlightInfo(statement) on the driver; one Spark input
                      partition PER FLIGHT ENDPOINT, each executor DoGets its
                      own ticket — the multi-endpoint ``select_all`` merge
                      (lib.rs:43-53) becomes Spark's native partition
                      parallelism
- filter pushdown   → supported comparison filters are unparsed into the
                      remote WHERE clause (the federation SQL push-down the
                      reference gets from datafusion-federation)

Worker-side deserialization: Spark's Python-data-source workers unpickle the
DataSource *class* (create_data_source.py reads the command), and cloudpickle
serializes classes from importable modules by reference — meaning every
executor would need this package on its PYTHONPATH. This module registers
itself for pickle-BY-VALUE instead, so the class (and this module's code)
travel inside the pickle and executors need only pyspark + pyarrow. That is
the right deployment posture for a connector: no cluster-wide package
install for a single source.

Usage::

    spark.dataSource.register(FlightSQLDataSource)
    df = (spark.read.format("flightsql")
          .option("uri", "grpc://host:port")
          .option("table", "lineitem")        # or .option("query", "SELECT ...")
          .load())
"""

from __future__ import annotations

import math
from datetime import date
from decimal import Decimal

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from datafusion_flight_sql_server_spark import client as _client_mod
from datafusion_flight_sql_server_spark.client import FlightSQLExecutor
from datafusion_flight_sql_server_spark.protocol import flightsql as _flightsql_mod
from datafusion_flight_sql_server_spark.protocol import wire as _wire_mod
from datafusion_flight_sql_server_spark.protocol.flightsql import (
    CommandStatementQuery,
)

# Spark runs a Python data source's schema()/partitions() in SEPARATE worker
# processes (create_data_source.py / plan_data_source_read.py), which
# unpickle this class and execute its methods — so both the class and every
# module it touches must reach workers. Registering the whole import chain
# (this module -> client -> protocol codecs; all pure Python + pyarrow) for
# cloudpickle BY-VALUE serialization ships the code inside the pickle, so
# executors need only pyspark + pyarrow. Registering a partially-initialized
# module at import time is fine: cloudpickle stores only the reference.
import sys as _sys

try:  # pragma: no cover - vendored path is stable in pyspark>=3.3
    from pyspark import cloudpickle as _cloudpickle

    for _m in (_sys.modules[__name__], _client_mod, _flightsql_mod, _wire_mod):
        _cloudpickle.register_pickle_by_value(_m)
except Exception:  # noqa: BLE001 - best-effort; --py-files deploys still work
    pass


class FlightEndpointPartition(InputPartition):
    """One Flight endpoint = one Spark partition. Carries the opaque ticket
    bytes and the connection details; picklable, pyarrow-only to consume."""

    def __init__(self, ticket: bytes, uri: str, token: str | None):
        self.ticket = ticket
        self.uri = uri
        self.token = token


def _sql_literal(value) -> str | None:
    """Remote SQL for a pushed filter's value, or None when the value has no
    exact literal here (the filter then stays with Spark)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return repr(value) if math.isfinite(value) else None
    if isinstance(value, str):
        # a backslash is an escape in Spark's literals and plain text in
        # ANSI ones, so no one rendering is exact for every remote
        if "\\" in value:
            return None
        return "'" + value.replace("'", "''") + "'"
    if isinstance(value, Decimal):
        return format(value, "f") if value.is_finite() else None
    if type(value) is date:  # not a datetime, which subclasses date
        return f"DATE'{value.isoformat()}'"
    return None


def _column_sql(attribute: tuple[str, ...]) -> str:
    """The full column path, each part backtick-quoted (``s.x`` is the
    struct field, not a top-level ``x``)."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in attribute)


_COMPARISONS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _filter_to_sql(f: Filter) -> str | None:
    """Unparse a pushed filter to remote SQL; None = cannot push."""
    if isinstance(f, IsNull):
        return f"{_column_sql(f.attribute)} IS NULL"
    if isinstance(f, IsNotNull):
        return f"{_column_sql(f.attribute)} IS NOT NULL"
    op = _COMPARISONS.get(type(f))
    literal = _sql_literal(f.value) if op else None
    if literal is None:
        return None
    return f"{_column_sql(f.attribute)} {op} {literal}"


class FlightSQLReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.uri = options["uri"]
        self.token = options.get("token")
        self.table = options.get("table")
        self.query = options.get("query")
        self._schema = schema
        self._pushed: list[str] = []

    def pushFilters(self, filters):  # noqa: N802 - Spark API name
        """Push supported comparisons into the remote WHERE clause; return
        the rest for Spark to evaluate (federation push-down,
        table-provider/src/lib.rs:33-41 semantics)."""
        if self.query is not None:
            # explicit query given: push nothing, Spark filters locally
            yield from filters
            return
        for f in filters:
            sql = _filter_to_sql(f)
            if sql is None:
                yield f
            else:
                self._pushed.append(sql)

    def _remote_sql(self) -> str:
        if self.query is not None:
            return self.query
        sql = f"select * from {self.table}"
        if self._pushed:
            sql += " where " + " and ".join(self._pushed)
        return sql

    def partitions(self):
        ex = FlightSQLExecutor(self.uri, token=self.token)
        try:
            info = ex.flight_info(CommandStatementQuery(query=self._remote_sql()))
            return [
                FlightEndpointPartition(
                    bytes(ep.ticket.ticket), self.uri, self.token
                )
                for ep in info.endpoints
            ]
        finally:
            ex.close()

    def read(self, partition: FlightEndpointPartition):
        # Executor-side: pyarrow only (no package import needed on workers).
        import pyarrow.flight as fl

        client = fl.FlightClient(partition.uri)
        headers = []
        if partition.token is not None:
            headers.append((b"authorization", f"Bearer {partition.token}".encode()))
        options = fl.FlightCallOptions(headers=headers)
        reader = client.do_get(fl.Ticket(partition.ticket), options)
        for chunk in reader:
            yield chunk.data
        client.close()


class FlightSQLDataSource(DataSource):
    """``spark.read.format("flightsql")`` — remote Flight SQL foreign table."""

    @classmethod
    def name(cls) -> str:
        return "flightsql"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        uri = self.options["uri"]
        table = self.options.get("table")
        query = self.options.get("query")
        if not table and not query:
            raise ValueError("flightsql requires option 'table' or 'query'")
        ex = FlightSQLExecutor(uri, token=self.options.get("token"))
        try:
            if table:
                # plan-only probe (table-provider/src/lib.rs:91-101)
                arrow_schema = ex.get_table_schema(table)
            else:
                info = ex.flight_info(CommandStatementQuery(query=query))
                arrow_schema = info.schema
        finally:
            ex.close()
        return from_arrow_schema(arrow_schema)

    def reader(self, schema: StructType) -> FlightSQLReader:
        return FlightSQLReader(self.options, schema)
