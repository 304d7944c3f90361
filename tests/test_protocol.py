"""Protocol codec tests.

Ports the reference's state round-trip tests (reference:
datafusion-flight-sql-server/tests/state_test.rs:4-37) and adds golden-bytes
checks: expected encodings are hand-computed from the protobuf wire spec, so
compatibility with prost/protobuf peers is asserted at the byte level, not
just self-round-trip.
"""

from __future__ import annotations

import pytest

from datafusion_flight_sql_server_spark.protocol.flightsql import (
    ActionCreatePreparedStatementRequest,
    ActionCreatePreparedStatementResult,
    CommandGetDbSchemas,
    CommandGetTables,
    CommandPreparedStatementQuery,
    CommandStatementQuery,
    DoPutUpdateResult,
    ProtobufAny,
    TYPE_URL_PREFIX,
)
from datafusion_flight_sql_server_spark.protocol.state import CommandTicket, QueryHandle
from datafusion_flight_sql_server_spark.protocol.wire import (
    decode_varint,
    encode_varint,
)

COMPLEX_SQL = """
        SELECT
            a.id,
            a.name,
            COUNT(b.order_id) as order_count
        FROM customers a
        LEFT JOIN orders b ON a.id = b.customer_id
        WHERE a.created_at > $1 AND a.status = $2
        GROUP BY a.id, a.name
        HAVING COUNT(b.order_id) > $3
        ORDER BY order_count DESC
        LIMIT 100
    """


class TestQueryHandle:
    def test_round_trip_complex_sql(self):
        # state_test.rs:4-26
        handle = QueryHandle(query=COMPLEX_SQL, parameters=None)
        decoded = QueryHandle.try_decode(handle.encode())
        assert decoded.query == COMPLEX_SQL
        assert decoded.parameters is None

    def test_round_trip_empty_query(self):
        # state_test.rs:29-37
        handle = QueryHandle(query="", parameters=None)
        decoded = QueryHandle.try_decode(handle.encode())
        assert decoded.query == ""

    def test_round_trip_with_parameters(self):
        handle = QueryHandle(query="SELECT $1", parameters=b"\x01\x02\xff")
        decoded = QueryHandle.try_decode(handle.encode())
        assert decoded.query == "SELECT $1"
        assert decoded.parameters == b"\x01\x02\xff"

    def test_golden_bytes(self):
        # {string query = 1}: tag 0x0A, len 8, payload
        assert QueryHandle(query="SELECT 1").encode() == b"\x0a\x08SELECT 1"
        # optional bytes parameters = 2 → tag 0x12
        assert (
            QueryHandle(query="q", parameters=b"\xab").encode()
            == b"\x0a\x01q\x12\x01\xab"
        )

    def test_display(self):
        assert str(QueryHandle(query="SELECT 1")) == "Query(SELECT 1)"


class TestCommandTicket:
    def test_statement_round_trip(self):
        cmd = CommandStatementQuery(query="SELECT * FROM t")
        ticket_bytes = CommandTicket(command=cmd).try_encode()
        decoded = CommandTicket.try_decode(ticket_bytes)
        assert isinstance(decoded.command, CommandStatementQuery)
        assert decoded.command.query == "SELECT * FROM t"

    def test_prepared_round_trip(self):
        handle = QueryHandle(query="SELECT $1", parameters=b"xyz").encode()
        cmd = CommandPreparedStatementQuery(prepared_statement_handle=handle)
        decoded = CommandTicket.try_decode(CommandTicket(command=cmd).try_encode())
        assert isinstance(decoded.command, CommandPreparedStatementQuery)
        inner = QueryHandle.try_decode(decoded.command.prepared_statement_handle)
        assert inner.query == "SELECT $1"
        assert inner.parameters == b"xyz"

    def test_wrapper_uses_field_tag_2(self):
        # state.rs:45-49: CommandTicketMessage{bytes command = 2} → key 0x12
        ticket_bytes = CommandTicket(
            command=CommandStatementQuery(query="x")
        ).try_encode()
        assert ticket_bytes[0] == 0x12

    def test_any_envelope(self):
        cmd = CommandStatementQuery(query="SELECT 1")
        any_msg = cmd.pack()
        assert any_msg.type_url == TYPE_URL_PREFIX + "CommandStatementQuery"
        again = ProtobufAny.decode(any_msg.encode())
        assert again.unpack_command() == cmd

    def test_unknown_command_rejected(self):
        bogus = ProtobufAny(type_url="type.googleapis.com/not.a.Command", value=b"")
        with pytest.raises(ValueError, match="unknown Flight SQL command"):
            CommandTicket.try_decode_command(bogus.encode())


class TestMessages:
    def test_get_tables_repeated_and_bool(self):
        cmd = CommandGetTables(
            catalog="spark_catalog",
            table_name_filter_pattern="line%",
            table_types=["TABLE", "VIEW"],
            include_schema=True,
        )
        decoded = CommandGetTables.decode(cmd.encode())
        assert decoded.catalog == "spark_catalog"
        assert decoded.db_schema_filter_pattern is None
        assert decoded.table_types == ["TABLE", "VIEW"]
        assert decoded.include_schema is True

    def test_get_db_schemas_optional_absent(self):
        decoded = CommandGetDbSchemas.decode(CommandGetDbSchemas().encode())
        assert decoded.catalog is None
        assert decoded.db_schema_filter_pattern is None

    def test_prepared_statement_action_round_trip(self):
        req = ActionCreatePreparedStatementRequest(query="SELECT $1 AS v")
        assert ActionCreatePreparedStatementRequest.decode(req.encode()) == req
        res = ActionCreatePreparedStatementResult(
            prepared_statement_handle=b"h", dataset_schema=b"ds", parameter_schema=b"ps"
        )
        assert ActionCreatePreparedStatementResult.decode(res.encode()) == res

    def test_do_put_update_minus_one(self):
        # service.rs do_put_prepared_statement_update returns -1
        out = DoPutUpdateResult.decode(DoPutUpdateResult(record_count=-1).encode())
        assert out.record_count == -1

    def test_unknown_fields_skipped(self):
        # a peer adding field 99 must not break decoding
        extra = encode_varint((99 << 3) | 2) + b"\x03abc"
        base = CommandStatementQuery(query="q").encode()
        decoded = CommandStatementQuery.decode(base + extra)
        assert decoded.query == "q"


#: A field tag and the cut-off start of its value, one per wire type:
#: fixed32 (field 9) with 1 of 4 bytes, fixed64 (field 9) with none of 8,
#: length-delimited (field 9) announcing 3 bytes with 1 present, and a
#: varint (field 9) whose continuation bit promises a next byte.
TRUNCATED_TAILS = {
    "fixed32": bytes([0x4D, 0x01]),
    "fixed64": bytes([0x49]),
    "length_delimited": bytes([0x4A, 0x03, 0x61]),
    "varint": bytes([0x48, 0x80]),
}


class TestTruncatedFields:
    """Every wire type is checked for truncation, known field or not."""

    @pytest.mark.parametrize("tail", TRUNCATED_TAILS.values(), ids=TRUNCATED_TAILS)
    def test_truncated_field_raises(self, tail):
        valid = CommandStatementQuery(query="select 1").encode()
        with pytest.raises(ValueError, match="truncated"):
            CommandStatementQuery.decode(valid + tail)

    @pytest.mark.parametrize(
        "field", [bytes([0x4D]) + b"\x01\x02\x03\x04", bytes([0x49]) + bytes(8)]
    )
    def test_complete_unknown_fixed_field_skipped(self, field):
        valid = CommandStatementQuery(query="select 1").encode()
        assert CommandStatementQuery.decode(valid + field).query == "select 1"


class TestVarint:
    @pytest.mark.parametrize("n", [0, 1, 127, 128, 300, 2**32, 2**63 - 1])
    def test_round_trip(self, n):
        value, pos = decode_varint(encode_varint(n), 0)
        assert value == n

    def test_negative_is_64bit_twos_complement(self):
        raw = encode_varint(-1)
        assert len(raw) == 10  # protobuf int64 -1 is always 10 bytes
        value, _ = decode_varint(raw, 0)
        assert value == 2**64 - 1
