"""Arrow Flight SQL server over a Spark-backed Engine.

Re-implements the reference's ``FlightSqlService`` surface (reference:
datafusion-flight-sql-server/src/service.rs:194-1014) on
``pyarrow.flight.FlightServerBase``:

- GetFlightInfo for statements / prepared statements (plan-only schema, a
  stateless ticket embedding the whole command — service.rs:313-347,388-425)
  and for catalogs/schemas/tables/table_types (service.rs:427-516).
- DoGet dispatch: metadata tickets are bare Any-encoded commands
  (service.rs:436-438), statement tickets are CommandTicket-wrapped
  (state.rs:34-43); both decode here, mirroring arrow-flight's router +
  ``do_get_fallback`` (service.rs:209-311).
- DoAction CreatePreparedStatement / ClosePreparedStatement
  (service.rs:890-941), DoPut prepared-statement parameter binding
  (service.rs:810-862) and the ``-1`` update path (service.rs:864-875).
- Everything the reference stubs answers UNIMPLEMENTED here too
  (service.rs:518-592,733-797,943-1011) — stub parity is part of the
  protocol contract.
- Errors map to INTERNAL like the reference's blanket mapping
  (service.rs:1107-1121); auth failures surface as UNAUTHENTICATED from the
  middleware (examples/bearer_auth_flight_sql.rs:95-114).

Results stream batch-at-a-time via ``Engine.execute_stream`` — the driver
never holds a whole result over 4 MB (service.rs:186-191 behavior; SURVEY
§7 H1; smaller ones may be kept for reuse, see "Declared divergences"). The
batches are Spark's own JVM-side Arrow encoding, pulled to the driver in
partition groups as serialized record batches and decoded there: no
Python worker and no pickling sit on the result path. Batches
pass through as Spark cut them, so their size is the session's
``spark.sql.execution.arrow.maxRecordsPerBatch`` — the analogue of
DataFusion's session ``batch_size``, which is where the reference takes its
batch size from. Catalog listings (GetCatalogs/DbSchemas/Tables/TableTypes)
are built on the driver from the engine's listing rows and run no Spark job.

Like the reference, every statement's FlightInfo carries ONE endpoint
whose ticket holds the whole command, so the server keeps no per-result
state and any replica can serve the DoGet (state.rs:55-58).

Declared divergences (client-compat debugging starts here):

- **Classic sessions only**: the engine serves a classic (JVM-backed)
  SparkSession. ``Engine`` refuses a Spark Connect session with
  ``ClassicSessionRequired``, since the result path, the plan memo and
  the statement gate all read the session's JVM.
- **Substrait** (SURVEY §7 H4; narrowed in round 4): the reference hands
  serialized Substrait plans to DataFusion's full consumer
  (``get_flight_info_substrait_plan`` service.rs:349-386, DoGet branch
  service.rs:274-303, ``parse_substrait_bytes`` service.rs:1018-1029).
  Spark has no Substrait consumer, so this server CONSUMES the
  read/filter/project/sort/fetch subset (the single-table query class —
  field refs, literals, comparison/boolean functions resolved through the
  plan's extension declarations) via a Substrait→SQL front-end
  (``plans/substrait.py``) delegating to the statement path, and answers
  everything beyond it (joins, aggregates, computed projections, DML)
  NOT_IMPLEMENTED with the unsupported construct named — those clients
  must send SQL text instead.
- **Reuse** (the reference plans every statement in GetFlightInfo and
  again in DoGet, and re-executes every DoGet, service.rs:171,186-190,
  220-236): a repeated query statement is analyzed once per catalog state
  (``Engine.sql_to_plan``). Its analyzed plan is kept in a bounded memo
  under the session, SQL conf, SQL text and exactly-typed parameters, and
  a repeat gets a fresh DataFrame over it while the session's temp views
  and the local input files and listed directories (path, size, mtime,
  inode) are unchanged. A plan is kept only when it is deterministic,
  holds no UDF and reads only local files, inline rows or ``range``,
  directly or through session temp views; statements over permanent
  tables or views (which another session or metastore may alter), global
  temp views, DSv2 or ``flightsql`` sources are planned every time. A
  memo entry may also keep its statement's last whole result, which a
  DoGet with the same declared schema is then served from without a
  Spark job (``Engine.execute_stream``), unless the plan holds a clock or
  session function. Results over 4 MB are never kept, and 32 MB in
  total; a result goes when its entry is evicted or replaced, and a DDL,
  DML or command statement through the gate clears the memo. The gate
  runs on every call, and tickets stay stateless. A temporary function
  registered outside the gate under a builtin's name is not seen by an
  already memoized statement that calls the builtin.
- **Duplicate struct field names**: Arrow cannot carry them, so DoGet
  rejects such a result with Spark's ``DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT``,
  as ``DataFrame.toArrow()`` does.
- **Dictionary hydration** (service.rs:1072-1083): the reference re-encodes
  dictionary-encoded result fields to their value types before shipping
  ("hydration"). Spark's Arrow export never emits dictionary-encoded
  fields, so no hydration pass exists here; a client comparing GetFlightInfo
  schemas against DoGet data will see value types in both, which is exactly
  the reference's post-hydration wire shape.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.flight as fl

from datafusion_flight_sql_server_spark.engine.core import Engine
from datafusion_flight_sql_server_spark.plans.schema import (
    arrow_schema_for_df,
    parameter_schema_for_sql,
)
from datafusion_flight_sql_server_spark.protocol.flightsql import (
    ActionClosePreparedStatementRequest,
    ActionCreatePreparedStatementRequest,
    ActionCreatePreparedStatementResult,
    CommandGetCatalogs,
    CommandGetDbSchemas,
    CommandGetSqlInfo,
    CommandGetTables,
    CommandGetTableTypes,
    CommandPreparedStatementQuery,
    CommandPreparedStatementUpdate,
    CommandStatementQuery,
    CommandStatementSubstraitPlan,
    DoPutPreparedStatementResult,
    DoPutUpdateResult,
    Message,
    ProtobufAny,
    TYPE_URL_PREFIX,
)
from datafusion_flight_sql_server_spark.protocol.state import (
    CommandTicket,
    QueryHandle,
)
from datafusion_flight_sql_server_spark.server.session import (
    SessionStateProvider,
    StaticSessionStateProvider,
)


class FlightSqlServiceConfig:
    """Service configuration (reference: config.rs:1-14).

    Result batch size is not a service setting: batches pass through as
    Spark cuts them, so embedders size them with the session conf
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (DataFusion's session
    ``batch_size`` plays that role for the reference)."""

    def __init__(
        self,
        schema_with_metadata: bool = False,
        substrait_local_files_roots: tuple[str, ...] = (),
        strict_parameter_types: bool = False,
        substrait_extension_tables: dict | None = None,
        sql_dialect: str = "auto",
    ):
        self.schema_with_metadata = schema_with_metadata
        # H3 strict mode: error on untypeable placeholders at
        # create_prepared_statement time (like DataFusion's
        # parameter_schema_for_plan surfacing a planning error,
        # service.rs:1085-1105) instead of defaulting them to string.
        self.strict_parameter_types = strict_parameter_types
        # Allowlist of path prefixes a Substrait ReadRel.local_files may
        # read. Default () = deny: local_files otherwise hands any Flight
        # client an arbitrary-read primitive on whatever the Spark session
        # user can open (round-6 hardening; DataFusion consumes LocalFiles
        # natively, but its embedders opt in by registering providers).
        self.substrait_local_files_roots = substrait_local_files_roots
        # Per-type_url resolvers for Substrait ReadRel.extension_table —
        # the embedder-registered analogue of DataFusion TableProviders
        # (the reference reaches extension tables through providers its
        # embedder registered; here the embedder maps the opaque Any
        # payload to a FROM-able SQL fragment). Default None = reject.
        self.substrait_extension_tables = substrait_extension_tables
        # DataFusion-dialect SQL compatibility (reference clients speak
        # DataFusion SQL — service.rs:171): "auto" (default) rewrites
        # function names Spark's registry lacks into the Spark spelling
        # (strict no-op for valid Spark SQL); "datafusion" additionally
        # rewrites meaning-changing constructs (double-quoted
        # identifiers, from_unixtime, chrono to_char); "spark" disables
        # rewriting. See plans/dialect.py.
        if sql_dialect not in ("spark", "auto", "datafusion"):
            raise ValueError(
                f"sql_dialect must be 'spark', 'auto' or 'datafusion', "
                f"got {sql_dialect!r}"
            )
        self.sql_dialect = sql_dialect


# Flight SQL metadata result schemas (Arrow Flight SQL specification; the
# reference gets them from arrow-flight's builders, service.rs:427-516).
GET_CATALOGS_SCHEMA = pa.schema([pa.field("catalog_name", pa.utf8(), nullable=False)])
GET_DB_SCHEMAS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.utf8()),
        pa.field("db_schema_name", pa.utf8(), nullable=False),
    ]
)
GET_TABLES_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.utf8()),
        pa.field("db_schema_name", pa.utf8()),
        pa.field("table_name", pa.utf8(), nullable=False),
        pa.field("table_type", pa.utf8(), nullable=False),
    ]
)
GET_TABLES_SCHEMA_WITH_SCHEMA = GET_TABLES_SCHEMA.append(
    pa.field("table_schema", pa.binary(), nullable=False)
)
GET_TABLE_TYPES_SCHEMA = pa.schema([pa.field("table_type", pa.utf8(), nullable=False)])

#: GetSqlInfo result schema (Arrow Flight SQL spec): value is a dense union
#: keyed by the spec's type codes. Only the string branch is populated by
#: the minimal server-info fill below, but the full union shape is required
#: for ADBC/JDBC clients to decode the stream.
_SQL_INFO_VALUE_TYPE = pa.dense_union(
    [
        pa.field("string_value", pa.utf8()),
        pa.field("bool_value", pa.bool_()),
        pa.field("bigint_value", pa.int64()),
        pa.field("int32_bitmask", pa.int32()),
        pa.field("string_list", pa.list_(pa.utf8())),
        pa.field(
            "int32_to_int32_list_map", pa.map_(pa.int32(), pa.list_(pa.int32()))
        ),
    ],
    type_codes=[0, 1, 2, 3, 4, 5],
)
GET_SQL_INFO_SCHEMA = pa.schema(
    [
        pa.field("info_name", pa.uint32(), nullable=False),
        pa.field("value", _SQL_INFO_VALUE_TYPE, nullable=False),
    ]
)

#: Minimal server info (parity-plus: the reference stubs GetSqlInfo —
#: service.rs:518-530 — but filling the two name/version rows plus
#:  read-only costs nothing and makes ADBC clients behave; round-2 review
#: item #8). Spec ids: 0=SERVER_NAME, 1=SERVER_VERSION, 2=ARROW_VERSION,
#: 3=READ_ONLY.
def _sql_info_entries() -> list[tuple[int, object]]:
    from datafusion_flight_sql_server_spark import __version__

    return [
        (0, "datafusion-flight-sql-server-spark"),
        (1, __version__),
        (2, pa.__version__),
        (3, True),
    ]


def _sql_info_table(requested: list[int]) -> pa.Table:
    entries = _sql_info_entries()
    if requested:
        wanted = set(requested)
        entries = [e for e in entries if e[0] in wanted]
    names, type_ids, offsets = [], [], []
    strings, bools = [], []
    for info_id, value in entries:
        names.append(info_id)
        if isinstance(value, bool):
            type_ids.append(1)
            offsets.append(len(bools))
            bools.append(value)
        else:
            type_ids.append(0)
            offsets.append(len(strings))
            strings.append(str(value))
    value_arr = pa.UnionArray.from_dense(
        pa.array(type_ids, type=pa.int8()),
        pa.array(offsets, type=pa.int32()),
        [
            pa.array(strings, type=pa.utf8()),
            pa.array(bools, type=pa.bool_()),
            pa.array([], type=pa.int64()),
            pa.array([], type=pa.int32()),
            pa.array([], type=pa.list_(pa.utf8())),
            pa.array([], type=pa.map_(pa.int32(), pa.list_(pa.int32()))),
        ],
        [f.name for f in _SQL_INFO_VALUE_TYPE],
        _SQL_INFO_VALUE_TYPE.type_codes,
    )
    return pa.Table.from_arrays(
        [pa.array(names, type=pa.uint32()), value_arr], schema=GET_SQL_INFO_SCHEMA
    )


def encode_schema(schema: pa.Schema) -> bytes:
    """IPC-encapsulated schema message (service.rs:1031-1041 analogue)."""
    return schema.serialize().to_pybytes()


def decode_schema_bytes(data: bytes) -> pa.Schema:
    return pa.ipc.read_schema(pa.BufferReader(data))


def _metadata_stream(rows: list[dict], schema: pa.Schema) -> fl.FlightDataStream:
    """A catalog listing's rows as one Flight stream — built on the driver
    from the rows the engine listed, so a metadata RPC runs no Spark job."""
    return fl.RecordBatchStream(pa.Table.from_pylist(rows, schema=schema))


def _to_flight_error(exc: Exception) -> Exception:
    """Blanket INTERNAL mapping, like the reference (service.rs:1107-1121)."""
    if isinstance(exc, (fl.FlightError, NotImplementedError)):
        return exc
    return fl.FlightServerError(f"{type(exc).__name__}: {exc}")


class FlightSqlServer(fl.FlightServerBase):
    """The serving layer: Flight SQL commands in, Arrow batches out."""

    def __init__(
        self,
        engine: Engine | None = None,
        location: str = "grpc://0.0.0.0:0",
        provider: SessionStateProvider | None = None,
        config: FlightSqlServiceConfig | None = None,
        middleware: dict | None = None,
        **kwargs,
    ):
        super().__init__(location=location, middleware=middleware or {}, **kwargs)
        if provider is None:
            if engine is None:
                raise ValueError("either engine or provider is required")
            provider = StaticSessionStateProvider(engine)
        self._provider = provider
        self.config = config or FlightSqlServiceConfig()

    # -- context mint (service.rs:133-151) ----------------------------------

    def _ctx(self, context) -> Engine:
        headers = {}
        try:
            mw = context.get_middleware("auth")
            if mw is not None:
                headers["x-principal"] = [mw.principal]
        except Exception:
            pass
        return self._provider.engine_for_request(headers)

    def _rewrite(self, sql: str, engine=None) -> str:
        """DataFusion-dialect → Spark SQL at the service boundary (see
        ``FlightSqlServiceConfig.sql_dialect``). Applied where raw
        client SQL FIRST enters (statement GetFlightInfo, prepared
        creation); tickets and prepared handles then round-trip the
        rewritten SQL, so execution paths never rewrite twice (the
        datafusion-mode argument-order swaps are not idempotent).

        When ``engine`` is given, auto mode consults the LIVE session
        registry (cached ``spark.catalog.functionExists``) so an
        embedder-registered UDF whose name collides with a mapped
        DataFusion spelling is never rewritten out from under it — the
        static absent-from-Spark-4.1 guarantee only covers builtins."""
        if self.config.sql_dialect == "spark":
            return sql
        from datafusion_flight_sql_server_spark.plans.dialect import (
            rewrite_information_schema,
            rewrite_sql,
        )

        probe = None
        if engine is not None and self.config.sql_dialect == "auto":
            spark = engine.spark

            def probe(name: str) -> bool:
                # No cross-statement cache (code-review round 10): a
                # positive entry outliving a dropped UDF would suppress
                # rewrites forever, and an id()-keyed entry could leak
                # across recycled sessions. rewrite_sql memoizes per
                # statement — at most one catalog call per distinct
                # mapped CALL-shaped name per statement, and every
                # statement sees the registry as it is NOW.
                try:
                    return bool(spark.catalog.functionExists(name))
                except Exception:
                    return False

        out = rewrite_sql(sql, self.config.sql_dialect, probe)
        if engine is not None and "information_schema" in out.lower():
            # Virtualize DataFusion's information_schema views from the
            # live catalog (the one the GetTables RPC serves). Safe in
            # auto mode too: Spark has no information_schema, so the
            # reference would otherwise be a guaranteed parse-time
            # failure — UNLESS the embedder really created a database
            # of that name, which the skip probe lets win.
            spark = engine.spark
            try:
                # database-level, not per-relation: a real DB must win
                # WHOLE (mixing one real table with virtualized siblings
                # would join two different catalogs in one result)
                real_db = bool(
                    spark.catalog.databaseExists("information_schema")
                )
            except Exception:
                real_db = False
            out = rewrite_information_schema(
                out, engine.info_schema_rows, skip_rel=lambda rel: real_db
            )
        return out

    # -- GetFlightInfo ------------------------------------------------------

    def get_flight_info(self, context, descriptor) -> fl.FlightInfo:
        try:
            command = ProtobufAny.decode(bytes(descriptor.command)).unpack_command()
            engine = self._ctx(context)
            if isinstance(command, CommandStatementQuery):
                return self._info_statement(
                    engine,
                    CommandStatementQuery(
                        query=self._rewrite(command.query, engine),
                        transaction_id=command.transaction_id,
                    ),
                    descriptor,
                )
            if isinstance(command, CommandPreparedStatementQuery):
                return self._info_prepared(engine, command, descriptor)
            if isinstance(command, CommandGetCatalogs):
                return self._info_metadata(command, GET_CATALOGS_SCHEMA, descriptor)
            if isinstance(command, CommandGetDbSchemas):
                return self._info_metadata(command, GET_DB_SCHEMAS_SCHEMA, descriptor)
            if isinstance(command, CommandGetTables):
                schema = (
                    GET_TABLES_SCHEMA_WITH_SCHEMA
                    if command.include_schema
                    else GET_TABLES_SCHEMA
                )
                return self._info_metadata(command, schema, descriptor)
            if isinstance(command, CommandGetTableTypes):
                return self._info_metadata(command, GET_TABLE_TYPES_SCHEMA, descriptor)
            if isinstance(command, CommandGetSqlInfo):
                # parity-plus: reference stubs this (service.rs:518-530);
                # we answer the minimal name/version/read-only rows
                return self._info_metadata(command, GET_SQL_INFO_SCHEMA, descriptor)
            if isinstance(command, CommandStatementSubstraitPlan):
                return self._info_substrait(engine, command, descriptor)
            # keys / xdbc: stub parity (service.rs:532-592)
            raise NotImplementedError(
                f"Implement get_flight_info for {type(command).__name__}"
            )
        except Exception as exc:  # noqa: BLE001 - single mapping point
            raise _to_flight_error(exc)

    def _info_statement(
        self, engine: Engine, command: CommandStatementQuery, descriptor
    ) -> fl.FlightInfo:
        """service.rs:313-347: plan, derive schema, mint stateless ticket."""
        df = engine.sql_to_plan(command.query)
        schema = arrow_schema_for_df(df, self.config.schema_with_metadata)
        ticket = CommandTicket(command=command).try_encode()
        return self._flight_info(schema, descriptor, ticket)

    def _info_prepared(
        self, engine: Engine, command: CommandPreparedStatementQuery, descriptor
    ) -> fl.FlightInfo:
        """service.rs:388-425: decode handle, re-plan its SQL."""
        handle = QueryHandle.try_decode(command.prepared_statement_handle)
        if handle.parameters is None:
            df = engine.plan_for_schema(handle.query)
        else:
            df = engine.sql_to_plan_prepared(handle)
        schema = arrow_schema_for_df(df, self.config.schema_with_metadata)
        ticket = CommandTicket(command=command).try_encode()
        return self._flight_info(schema, descriptor, ticket)

    def _info_substrait(
        self, engine: Engine, command: CommandStatementSubstraitPlan, descriptor
    ) -> fl.FlightInfo:
        """Substrait front-end (reference: service.rs:349-386): translate the
        read/filter/project/sort/fetch subset to SQL (plans/substrait.py)
        and delegate to
        the statement path — the minted ticket round-trips as a plain
        statement, so DoGet needs no Substrait branch (the reference re-plans
        Substrait bytes at DoGet, service.rs:274-303; we re-plan the
        translated SQL, same re-plan-per-DoGet contract). Plans outside the
        subset get NOT_IMPLEMENTED with the unsupported construct named."""
        from datafusion_flight_sql_server_spark.plans.substrait import (
            substrait_to_sql,
        )

        if command.plan is None or not command.plan.plan:
            raise ValueError("CommandStatementSubstraitPlan without plan bytes")
        sql = substrait_to_sql(
            command.plan.plan,
            local_files_roots=self.config.substrait_local_files_roots,
            extension_table_handlers=self.config.substrait_extension_tables,
        )
        return self._info_statement(
            engine, CommandStatementQuery(query=sql), descriptor
        )

    def _info_metadata(self, command: Message, schema: pa.Schema, descriptor):
        """service.rs:427-516: metadata tickets are the bare Any command."""
        ticket = command.pack().encode()
        return self._flight_info(schema, descriptor, ticket)

    @staticmethod
    def _flight_info(schema: pa.Schema, descriptor, ticket: bytes) -> fl.FlightInfo:
        endpoint = fl.FlightEndpoint(fl.Ticket(ticket), [])
        return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    # -- DoGet --------------------------------------------------------------

    def do_get(self, context, ticket) -> fl.FlightDataStream:
        try:
            command = self._decode_ticket(bytes(ticket.ticket))
            engine = self._ctx(context)
            if isinstance(command, CommandStatementQuery):
                # service.rs:220-236: re-plan and stream. NO dialect
                # rewrite here: tickets minted by this server already
                # carry the REWRITTEN (Spark) SQL from GetFlightInfo,
                # and re-rewriting is not idempotent for the
                # datafusion-mode arg-order swaps (array_prepend) — a
                # second pass would swap them back. A hand-forged ticket
                # with raw DataFusion SQL errors like any invalid ticket
                # (the reference likewise re-plans ticket SQL verbatim).
                df = engine.execute(command.query)
                return self._stream_df(engine, df)
            if isinstance(command, CommandPreparedStatementQuery):
                # service.rs:238-273: re-plan, bind params, stream
                handle = QueryHandle.try_decode(command.prepared_statement_handle)
                df = engine.sql_to_plan_prepared(handle)
                return self._stream_df(engine, df)
            if isinstance(command, CommandGetCatalogs):
                return self._get_catalogs(engine)
            if isinstance(command, CommandGetDbSchemas):
                return self._get_db_schemas(engine, command)
            if isinstance(command, CommandGetTables):
                return self._get_tables(engine, command)
            if isinstance(command, CommandGetTableTypes):
                return self._get_table_types(engine)
            if isinstance(command, CommandGetSqlInfo):
                return fl.RecordBatchStream(_sql_info_table(command.info))
            raise NotImplementedError(
                f"Implement do_get for {type(command).__name__}"
            )
        except Exception as exc:  # noqa: BLE001
            raise _to_flight_error(exc)

    @staticmethod
    def _decode_ticket(raw: bytes) -> Message:
        """Metadata tickets are bare Any; statement tickets are wrapped
        (the split the reference inherits from arrow-flight's router +
        state.rs:34-43)."""
        try:
            any_msg = ProtobufAny.decode(raw)
            if any_msg.type_url.startswith(TYPE_URL_PREFIX):
                return any_msg.unpack_command()
        except Exception:
            pass
        return CommandTicket.try_decode(raw).command

    def _stream_df(self, engine: Engine, df) -> fl.FlightDataStream:
        # No dictionary-hydration pass here, deliberately: the reference
        # re-encodes dictionary fields to value types before shipping
        # (service.rs:1072-1083); Spark's Arrow export never emits
        # dictionary-encoded fields, so this stream is already in the
        # reference's post-hydration wire shape (module docstring,
        # "Declared divergences").
        schema = arrow_schema_for_df(df)
        batches = engine.execute_stream(df, schema)
        return fl.GeneratorStream(schema, batches)

    def _get_catalogs(self, engine: Engine) -> fl.FlightDataStream:
        """service.rs:616-636."""
        return _metadata_stream(engine.get_catalogs(), GET_CATALOGS_SCHEMA)

    def _get_db_schemas(
        self, engine: Engine, cmd: CommandGetDbSchemas
    ) -> fl.FlightDataStream:
        """service.rs:638-663."""
        rows = engine.get_db_schemas(cmd.catalog, cmd.db_schema_filter_pattern)
        return _metadata_stream(rows, GET_DB_SCHEMAS_SCHEMA)

    def _get_tables(self, engine: Engine, cmd: CommandGetTables) -> fl.FlightDataStream:
        """service.rs:665-706 (+ per-row IPC schema when include_schema)."""
        rows = engine.get_tables(
            cmd.catalog,
            cmd.db_schema_filter_pattern,
            cmd.table_name_filter_pattern,
            cmd.table_types or None,
        )
        if not cmd.include_schema:
            return _metadata_stream(rows, GET_TABLES_SCHEMA)
        for r in rows:
            r["table_schema"] = encode_schema(
                engine.table_arrow_schema(r["table_name"], r["db_schema_name"])
            )
        return _metadata_stream(rows, GET_TABLES_SCHEMA_WITH_SCHEMA)

    def _get_table_types(self, engine: Engine) -> fl.FlightDataStream:
        """service.rs:708-731."""
        return _metadata_stream(engine.get_table_types(), GET_TABLE_TYPES_SCHEMA)

    # -- DoPut --------------------------------------------------------------

    def do_put(self, context, descriptor, reader, writer):
        try:
            command = ProtobufAny.decode(bytes(descriptor.command)).unpack_command()
            if isinstance(command, CommandPreparedStatementQuery):
                result = self._do_put_prepared_query(command, reader)
                writer.write(pa.py_buffer(result.pack().encode()))
                return
            if isinstance(command, CommandPreparedStatementUpdate):
                # service.rs:864-875: -1 so CREATE TABLE / SET "succeed"
                result = DoPutUpdateResult(record_count=-1)
                writer.write(pa.py_buffer(result.pack().encode()))
                return
            # statement update / substrait: stubs (service.rs:799-808,877-888)
            raise NotImplementedError(
                f"Implement do_put for {type(command).__name__}"
            )
        except Exception as exc:  # noqa: BLE001
            raise _to_flight_error(exc)

    def _do_put_prepared_query(
        self, command: CommandPreparedStatementQuery, reader
    ) -> DoPutPreparedStatementResult:
        """service.rs:810-862: re-encode the client's parameter stream into
        the handle and hand the updated handle back (single schema, ≤1 row)."""
        handle = QueryHandle.try_decode(command.prepared_statement_handle)
        table = reader.read_all()
        if table.num_rows > 1:
            raise fl.FlightServerError("parameters should contain a single row")
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as ipc:
            for batch in table.to_batches():
                ipc.write_batch(batch)
        handle.set_parameters(sink.getvalue().to_pybytes())
        return DoPutPreparedStatementResult(
            prepared_statement_handle=handle.encode()
        )

    # -- DoAction -----------------------------------------------------------

    #: action type → handler name; everything else is UNIMPLEMENTED
    #: (stub parity with service.rs:943-1011)
    _ACTIONS = {
        "CreatePreparedStatement": "_action_create_prepared",
        "ClosePreparedStatement": "_action_close_prepared",
    }

    def do_action(self, context, action):
        try:
            handler = self._ACTIONS.get(action.type)
            if handler is None:
                raise NotImplementedError(f"Implement do_action {action.type}")
            results = getattr(self, handler)(context, bytes(action.body))
        except Exception as exc:  # noqa: BLE001
            raise _to_flight_error(exc)

        # Handlers are GENERATORS: their bodies run at iteration time,
        # after the try above has exited — without this wrapper any error
        # they raise (e.g. strict-mode parameter typing) would bypass the
        # A29 error mapping and reach the client as a raw pickled Python
        # exception instead of a FlightError.
        def _mapped():
            try:
                yield from results
            except Exception as exc:  # noqa: BLE001
                raise _to_flight_error(exc)

        return _mapped()

    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "Create a prepared statement"),
            ("ClosePreparedStatement", "Close a prepared statement"),
        ]

    def _action_create_prepared(self, context, body: bytes):
        """service.rs:890-925: plan once, dataset schema + parameter schema,
        stateless handle carrying the raw SQL."""
        # Body may arrive Any-packed (arrow-rs / JDBC clients) or raw.
        payload = body
        try:
            any_msg = ProtobufAny.decode(body)
            if any_msg.type_url.startswith(TYPE_URL_PREFIX):
                payload = any_msg.value
        except Exception:
            pass
        request = ActionCreatePreparedStatementRequest.decode(payload)
        engine = self._ctx(context)
        # dialect-rewrite once here; the handle round-trips the REWRITTEN
        # SQL, so every later plan (schema probe, bind, DoGet) and the
        # parameter-typing regexes see Spark SQL
        query = self._rewrite(request.query, engine)
        df = engine.plan_for_schema(query)
        dataset_schema = arrow_schema_for_df(df, self.config.schema_with_metadata)
        parameter_schema = parameter_schema_for_sql(
            engine.spark,
            query,
            strict=self.config.strict_parameter_types,
        )
        handle = QueryHandle(query=query, parameters=None)
        result = ActionCreatePreparedStatementResult(
            prepared_statement_handle=handle.encode(),
            dataset_schema=encode_schema(dataset_schema),
            parameter_schema=encode_schema(parameter_schema),
        )
        yield result.pack().encode()

    def _action_close_prepared(self, context, body: bytes):
        """service.rs:927-941: no-op — the server holds no state."""
        try:
            any_msg = ProtobufAny.decode(body)
            if any_msg.type_url.startswith(TYPE_URL_PREFIX):
                ActionClosePreparedStatementRequest.decode(any_msg.value)
        except Exception:
            pass
        return iter(())

    # -- handshake (service.rs:198-207: favor middleware) -------------------

    def do_exchange(self, context, descriptor, reader, writer):
        raise NotImplementedError("do_exchange is not supported")
