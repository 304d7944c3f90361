"""Stateless query state round-tripped through the client.

Wire-compatible clones of the reference's ticket/handle messages
(reference: datafusion-flight-sql-server/src/state.rs:12-120). All state
needed to execute lives inside these opaque bytes on the *client*, so any
server replica can serve the DoGet — the reference's core design
(state.rs:55-58) and ours.

- ``CommandTicket`` wraps an Any-packed Flight SQL command in a message with
  a single ``bytes`` field **tag 2** (state.rs:45-49 prost derive).
- ``QueryHandle`` is ``{string query = 1; optional bytes parameters = 2}``
  (state.rs:113-120); ``parameters`` holds the client's Arrow IPC parameter
  stream verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass

from datafusion_flight_sql_server_spark.protocol.flightsql import (
    Message,
    ProtobufAny,
)
from datafusion_flight_sql_server_spark.protocol.wire import (
    Field,
    decode_message,
    encode_message,
)

_TICKET_FIELDS = (Field(2, "command", "bytes"),)
_HANDLE_FIELDS = (
    Field(1, "query", "string"),
    Field(2, "parameters", "bytes"),
)


@dataclass
class CommandTicket:
    """Ticket = Any-encoded command wrapped at field 2 (state.rs:34-49)."""

    command: Message

    def try_encode(self) -> bytes:
        content = self.command.pack().encode()
        return encode_message(_TICKET_FIELDS, {"command": content})

    @classmethod
    def try_decode(cls, data: bytes) -> "CommandTicket":
        msg = decode_message(_TICKET_FIELDS, data)
        if msg["command"] is None:
            raise ValueError("CommandTicket missing command bytes")
        return cls.try_decode_command(msg["command"])

    @classmethod
    def try_decode_command(cls, command_bytes: bytes) -> "CommandTicket":
        any_msg = ProtobufAny.decode(command_bytes)
        return cls(command=any_msg.unpack_command())


@dataclass
class QueryHandle:
    """Prepared-statement handle: raw SQL + optional IPC-encoded parameters
    (state.rs:59-120)."""

    query: str
    parameters: bytes | None = None

    def encode(self) -> bytes:
        return encode_message(
            _HANDLE_FIELDS, {"query": self.query, "parameters": self.parameters}
        )

    @classmethod
    def try_decode(cls, data: bytes) -> "QueryHandle":
        msg = decode_message(_HANDLE_FIELDS, data)
        return cls(query=msg["query"] or "", parameters=msg["parameters"])

    def set_parameters(self, parameters: bytes | None) -> None:
        self.parameters = parameters

    def __str__(self) -> str:  # Display parity (state.rs:107-111)
        return f"Query({self.query})"

