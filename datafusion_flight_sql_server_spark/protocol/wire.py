"""Minimal protobuf wire-format codec (pure Python).

The environment ships no ``google.protobuf``, so the handful of Flight SQL
messages this engine speaks are encoded/decoded directly at the wire level.
Only the features those messages use are implemented: varint (wire type 0)
and length-delimited (wire type 2) fields, optional/repeated scalars, and
nested messages; fixed32/fixed64 fields are read (and skipped when
unknown). ``iter_fields`` is the one field reader, shared with the
Substrait consumer. The encoding rules are the public protobuf spec; field
numbers come from Arrow's FlightSql.proto and the reference's prost derives
(reference: datafusion-flight-sql-server/src/state.rs:45-49,113-120).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5

_FIXED_SIZES = {WT_I32: (4, "fixed32"), WT_I64: (8, "fixed64")}


def encode_varint(value: int) -> bytes:
    """Unsigned LEB128. Negative ints are two's-complemented into 64 bits
    (protobuf int32/int64 semantics — e.g. the -1 DoPut update row count)."""
    if value < 0:
        value &= (1 << 64) - 1
    out = bytearray()
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def decode_varint(data: bytes, pos: int) -> tuple[int, int]:
    """Return (value, new_pos). Raises ValueError on truncation."""
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        byte = data[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def iter_fields(data: bytes) -> Iterator[tuple[int, int, Any]]:
    """Yield ``(field_number, wire_type, raw)`` for each field of one
    message: ``raw`` is an int for a varint and a slice of ``data`` for the
    other wire types. Raises ValueError on a truncated field of any wire
    type or on a wire type protobuf no longer uses (groups)."""
    pos = 0
    while pos < len(data):
        key, pos = decode_varint(data, pos)
        field_number, wire_type = key >> 3, key & 0x7
        if wire_type == WT_VARINT:
            value, pos = decode_varint(data, pos)
            yield field_number, wire_type, value
            continue
        if wire_type == WT_LEN:
            length, pos = decode_varint(data, pos)
            what = "length-delimited"
        elif wire_type in _FIXED_SIZES:
            length, what = _FIXED_SIZES[wire_type]
        else:
            raise ValueError(f"unsupported wire type {wire_type}")
        if pos + length > len(data):
            raise ValueError(f"truncated {what} field")
        yield field_number, wire_type, data[pos : pos + length]
        pos += length


def _tag(field_number: int, wire_type: int) -> bytes:
    return encode_varint((field_number << 3) | wire_type)


def varint_to_signed64(value: int, bits: int = 64) -> int:
    """Interpret an unsigned varint as a two's-complement signed integer."""
    if value >= 1 << (bits - 1):
        value -= 1 << bits
    return value


@dataclass(frozen=True)
class Field:
    """One protobuf field: ``kind`` in {string, bytes, varint, bool, message}."""

    number: int
    name: str
    kind: str
    repeated: bool = False
    message_type: type | None = None  # for kind == "message"


def encode_field(f: Field, value: Any) -> bytes:
    if f.kind == "string":
        payload = value.encode("utf-8")
        return _tag(f.number, WT_LEN) + encode_varint(len(payload)) + payload
    if f.kind == "bytes":
        payload = bytes(value)
        return _tag(f.number, WT_LEN) + encode_varint(len(payload)) + payload
    if f.kind == "varint":
        return _tag(f.number, WT_VARINT) + encode_varint(int(value))
    if f.kind == "bool":
        return _tag(f.number, WT_VARINT) + encode_varint(1 if value else 0)
    if f.kind == "message":
        payload = value.encode()
        return _tag(f.number, WT_LEN) + encode_varint(len(payload)) + payload
    raise ValueError(f"unsupported field kind {f.kind!r}")


def encode_message(fields: tuple[Field, ...], values: dict[str, Any]) -> bytes:
    """Encode ``values`` (by field name) against the spec. ``None`` values and
    empty repeated fields are omitted (proto3 optional semantics). Scalars
    equal to the proto3 default are still emitted when present non-None —
    deliberate, harmless (explicit field presence)."""
    out = bytearray()
    for f in fields:
        value = values.get(f.name)
        if value is None:
            continue
        if f.repeated:
            for item in value:
                out += encode_field(f, item)
        else:
            out += encode_field(f, value)
    return bytes(out)


def decode_message(fields: tuple[Field, ...], data: bytes) -> dict[str, Any]:
    """Decode to {field name: value}. Unknown fields are skipped (protobuf
    forward-compat rule); repeated fields accumulate in order."""
    by_number = {f.number: f for f in fields}
    result: dict[str, Any] = {f.name: [] if f.repeated else None for f in fields}
    for field_number, _, value in iter_fields(data):
        f = by_number.get(field_number)
        if f is None:
            continue  # unknown field
        if f.kind == "string":
            value = value.decode("utf-8")
        elif f.kind == "bool":
            value = bool(value)
        elif f.kind == "message":
            value = f.message_type.decode(bytes(value))  # type: ignore[union-attr]
        elif f.kind == "bytes":
            value = bytes(value)
        if f.repeated:
            result[f.name].append(value)
        else:
            result[f.name] = value
    return result
