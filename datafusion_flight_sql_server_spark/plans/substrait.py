"""Minimal Substrait plan consumer: read/filter/project/sort/fetch subset
→ SQL text.

The reference consumes serialized Substrait plans
(reference: datafusion-flight-sql-server/src/service.rs:349-386 GetFlightInfo,
service.rs:274-303 DoGet, service.rs:1018-1029 ``parse_substrait_bytes``) by
handing them to DataFusion's full consumer. Spark has no Substrait consumer,
so this module closes the gap the Spark-first way: decode the (public,
substrait.io) protobuf wire format directly — the same hand-rolled-codec
discipline as ``protocol/wire.py`` — and **unparse the plan to SQL text**
for the existing statement path, where Catalyst plans it natively.

Scope is deliberately a strict subset — the single-table query class —
with everything else rejected by a descriptive ``SubstraitUnsupported``
(mapped to NOT_IMPLEMENTED at the Flight boundary, like every other stub):

- one plan relation: ``RelRoot``/``Rel`` over any nesting of
  ``FetchRel`` / ``SortRel`` / ``FilterRel`` / ``ProjectRel`` above a
  ``ReadRel`` (fetch must be outermost of the clause-bearing rels; one
  sort; filters compose with AND);
- ``ReadRel`` must read a ``NamedTable`` (no virtual tables / local
  files); an embedded ``ReadRel.filter`` / ``best_effort_filter`` is
  consumed through the same expression subset (applying a best-effort
  filter is always-valid per the spec); no mask projection;
- ``ProjectRel`` expressions must be direct struct-field references with
  optional ``RelCommon.emit`` output remapping;
- ``FilterRel`` conditions (and read filters) support field references,
  literals (bool / i8-i64 / fp32 / fp64 / string), and the comparison /
  boolean scalar functions ``and or not equal not_equal gt gte lt lte
  is_null is_not_null between`` resolved through the plan's extension
  declarations (compound names like ``gt:any_any`` match on the base
  name, per the spec's naming convention);
- ``SortRel`` sorts direct field references with the four
  ASC/DESC × NULLS FIRST/LAST directions;
- ``FetchRel`` must carry literal count/offset (→ ``LIMIT .. OFFSET ..``);
- ``AggregateRel`` (round 4) with a single grouping of direct field
  references (both the deprecated inline form and the expression_references
  form) and ``sum/min/max/avg/count`` measures — DISTINCT invocation,
  zero-argument ``count`` (→ ``COUNT(*)``) and per-measure ``Measure.filter``
  (→ ``FILTER (WHERE ...)``) included; a
  ``FilterRel`` above it becomes ``HAVING`` (field refs substitute the
  rendered output expressions, since the standard forbids aliases there), a
  ``SortRel`` above it orders by the rendered expressions; GROUPING SETS
  consumed round 5 (grouping_id mask decode); round 6: nested
  AggregateRels finish the inner as a derived table, and PARTIAL
  aggregation phases consume for sum/min/max/count (the functions whose
  intermediate state is their own output type; count's merge phase is
  SUM over partial counts); round 8: avg/std_dev/variance phase-split
  through NAMED_STRUCT states (avg: sum/count pair; Welford n/mean/m2
  merged by the parallel-variance identity) and DISTINCT count/min/max
  through COLLECT_SET set states; round 9: DISTINCT sum/avg phase-split
  too, folding the merged set with the accumulator type recovered from
  the extension declaration's compound-name signature (``sum:i64`` →
  BIGINT — a bare name still rejects, naming the missing signature);
  round 10: DISTINCT avg of decimals folds exactly in the widened
  DECIMAL(p+10,s) accumulator and divides in Spark's own AVG typing
  (count cast to DECIMAL(20,0), result cast to bounded (p+4, s+4)), so
  the two-phase value is bit-identical to one-phase ``AVG(DISTINCT)``;
- ``RelRoot.names`` become output aliases.

- ``JoinRel`` (round 4, late) for inner / full / left / right / left-semi
  / left-anti types: both sides render as derived tables (their own
  clauses can't leak across an outer join), the join expression and
  optional ``post_join_filter`` index the concatenated left++right
  schema, ``RelCommon.emit`` remaps it, and the result wraps in a
  derived table with deduplicated aliases so anything composes above;
  ``CrossRel`` the same without a condition;
- ``SetRel`` (round 4, late; multiplicity table re-verified round 5)
  with exactly two inputs → ``UNION [ALL] / INTERSECT [ALL] / EXCEPT
  [ALL]`` for the six arms whose per-row counts SQL set operators
  express (1/4/5/6/7/8); the keep-all presence arms MINUS_MULTISET (2)
  and INTERSECTION_PRIMARY (3) render as null-safe whole-row
  ``[NOT] EXISTS``;
- computed ``ProjectRel`` expressions (round 4, late): the expression
  subset plus the arithmetic functions ``add subtract multiply divide
  modulus negate`` (integer ``divide`` → ``DIV`` per the plan's declared
  output type), rendered into a derived table (aliases ``expr<i>``
  unless RelRoot names rename them);
- window functions (round 5): ``Expression.WindowFunction`` for
  row_number/rank/dense_rank/percent_rank/cume_dist/ntile/lead/lag/
  first_value/last_value/nth_value and windowed sum/min/max/avg/count,
  with PARTITION BY / ORDER BY / ROWS|RANGE frames;
- subquery expressions (round 5): scalar subqueries, ``IN`` predicates,
  and ``EXISTS`` set predicates, uncorrelated AND correlated — outer
  references (steps_out=k) render as alias-qualified columns of the k-th
  enclosing query; round 6 late threads the correlation chain through
  EVERY relation scope (join/cross/set/window inputs, join conditions
  and post-join filters, ReadRel filters, measure FILTER clauses), so a
  correlated subquery whose body is a join/set/window also consumes
  (Spark 4 decorrelates all of these — verified empirically). Round 8:
  a subquery nested INSIDE a join condition correlates against the
  join's own LEFT schema through the ``t0`` side alias (steps_out=1
  resolves to the pre-rendered qualified column); a post_join_filter —
  a WHERE over the joined rows — correlates against BOTH sides;
  right-side references in join predicates keep a named rejection
  (Spark's analyzer rejects them, verified on 4.1).

That covers the filtered-scan class ADBC/JDBC-over-Substrait front-ends
emit for probes, previews and predicate-pushdown scans, plus the
join/set/computed-projection/window class query builders and
DataFusion-federation clients emit; DML and the remaining named
residuals are rejected with a message naming the unsupported construct.
Field numbers below come from the public ``substrait/plan.proto`` /
``algebra.proto`` / ``extensions.proto``.
"""

from __future__ import annotations

import re
import struct
from contextvars import ContextVar

from datafusion_flight_sql_server_spark.protocol.wire import (
    WT_I32,
    WT_I64,
    WT_LEN,
    WT_VARINT,
    decode_varint,
    iter_fields,
)


class SubstraitUnsupported(NotImplementedError):
    """Plan uses a construct outside the consumed subset."""


class SubstraitMalformed(ValueError):
    """Bytes are not a decodable Substrait plan."""


def _fields(data: bytes) -> dict[int, list[tuple[int, object]]]:
    """Parse one protobuf message into {field_number: [(wire_type, raw)]}.

    Raw values: varint → int, length-delimited → bytes. Keeping every field
    (not just expected ones) is what lets the interpreters below REJECT an
    unsupported oneof arm by name instead of silently ignoring it.
    """
    if not isinstance(data, (bytes, bytearray, memoryview)):
        # a scalar wire value where an embedded message was expected
        raise SubstraitMalformed(
            f"malformed Substrait bytes: expected an embedded message, got "
            f"wire value {data!r}"
        )
    out: dict[int, list[tuple[int, object]]] = {}
    try:
        for num, wt, value in iter_fields(data):
            out.setdefault(num, []).append((wt, value))
    except ValueError as exc:
        raise SubstraitMalformed(f"malformed Substrait bytes: {exc}") from exc
    return out


def _one(fields, num):
    vals = fields.get(num)
    return vals[-1][1] if vals else None



def _varint_one(fields, num, default: int = 0) -> int:
    """Last value of a varint field, or ``default``; a length-delimited
    payload where a scalar was expected is a malformed plan, not a crash."""
    v = _one(fields, num)
    if v is None:
        return default
    if not isinstance(v, int):
        raise SubstraitMalformed(
            f"malformed Substrait bytes: field {num} expected a varint, "
            f"got {v!r}"
        )
    return v



def _utf8(raw, what: str) -> str:
    """Strict UTF-8 decode that reports garbage as a malformed plan."""
    try:
        return raw.decode("utf-8", "strict")
    except UnicodeDecodeError as exc:
        raise SubstraitMalformed(f"non-UTF-8 {what}") from exc


def _strings(fields, num) -> list[str]:
    out = []
    for _, v in fields.get(num, []):
        if not isinstance(v, bytes):
            raise SubstraitMalformed(
                f"malformed Substrait bytes: string field {num} with wrong "
                f"wire type"
            )
        out.append(_utf8(v, f"string field {num}"))
    return out


def _packed_ints(fields, num) -> list[int]:
    """Repeated int32, accepting both packed and unpacked encodings."""
    out: list[int] = []
    for wt, v in fields.get(num, []):
        if wt == WT_VARINT:
            out.append(int(v))
        elif wt != WT_LEN:
            raise SubstraitMalformed(
                f"malformed Substrait bytes: packed field {num} with wrong "
                f"wire type"
            )
        elif wt == WT_LEN:
            pos = 0
            try:
                while pos < len(v):
                    value, pos = decode_varint(v, pos)
                    out.append(value)
            except ValueError as exc:
                raise SubstraitMalformed(
                    f"malformed Substrait bytes: packed field {num}: {exc}"
                ) from exc
    return out


def _quote(name: str) -> str:
    """Spark backtick-quoted identifier (the SQL goes to our own engine)."""
    return "`" + name.replace("`", "``") + "`"


# -- extension declarations (function anchor → name) -------------------------


def _function_names(plan_fields) -> dict[int, str]:
    """Plan.extensions → {function_anchor: base function name}.

    extensions.proto: SimpleExtensionDeclaration.extension_function = 3
    (ExtensionFunction: extension_uri_reference=1, function_anchor=2,
    name=3). Compound names like ``gt:any_any`` reduce to the base name
    before the colon, per the spec's function-naming convention.
    """
    out: dict[int, str] = {}
    for _, decl in plan_fields.get(2, []):
        df = _fields(decl)
        ext_fn = _one(df, 3)
        if ext_fn is None:
            continue  # type / type-variation declarations are irrelevant here
        ff = _fields(ext_fn)
        anchor = _varint_one(ff, 2, 0)
        raw = _one(ff, 3)
        if raw is None:
            continue
        if not isinstance(raw, bytes):
            raise SubstraitMalformed(
                "malformed Substrait bytes: extension function name with "
                "wrong wire type"
            )
        name = raw.decode("utf-8", "replace")
        out[anchor] = name.split(":", 1)[0]
    return out


#: per-translation {function_anchor: compound-name argument signature}
#: ("sum:i64" declares "i64"), set by ``_substrait_to_sql_inner``; the
#: DISTINCT sum/avg phase-split fold recovers its accumulator type here.
_FUNC_SIGS: ContextVar[dict | None] = ContextVar("_FUNC_SIGS", default=None)


def _function_signatures(plan_fields) -> dict[int, str]:
    """Plan.extensions → {function_anchor: compound argument signature}
    (the part after the first colon; anchors declared with a bare name
    are absent)."""
    out: dict[int, str] = {}
    for _, decl in plan_fields.get(2, []):
        df = _fields(decl)
        ext_fn = _one(df, 3)
        if ext_fn is None:
            continue
        ff = _fields(ext_fn)
        raw = _one(ff, 3)
        if not isinstance(raw, bytes):
            continue
        name = raw.decode("utf-8", "replace")
        if ":" in name:
            out[_varint_one(ff, 2, 0)] = name.split(":", 1)[1]
    return out


# -- expressions -------------------------------------------------------------

#: scalar functions consumed by the expression subset → SQL emitters
_BINARY_OPS = {
    "equal": "=",
    "not_equal": "<>",
    "gt": ">",
    "gte": ">=",
    "lt": "<",
    "lte": "<=",
    # arithmetic (substrait functions_arithmetic.yaml names)
    "add": "+",
    "subtract": "-",
    "multiply": "*",
    "divide": "/",
    "modulus": "%",
}

_LITERAL_ARMS = {
    1: "boolean",
    2: "i8",
    3: "i16",
    5: "i32",
    7: "i64",
    10: "fp32",
    11: "fp64",
    12: "string",
    13: "binary",  # bytes → X'…' hex literal
    14: "timestamp",  # deprecated naive micros since epoch (still emitted)
    16: "date",  # days since 1970-01-01 (type.proto Literal.date, int32)
    19: "interval_year_to_month",  # IntervalYearToMonth{years=1, months=2}
    20: "interval_day_to_second",  # IntervalDayToSecond{days=1, seconds=2, …}
    21: "fixed_char",  # string payload, space-padded semantics
    22: "var_char",  # VarChar{value=1, length=2}
    24: "decimal",  # Decimal{value=1 (16B LE two's-complement), p=2, s=3}
    29: "null",  # typed null: Type message → CAST(NULL AS t)
    30: "list",  # List{values=1 repeated Literal} → ARRAY(…)
    31: "empty_list",  # Type.List → CAST(ARRAY() AS ARRAY<t>)
    34: "precision_timestamp",  # PrecisionTimestamp{precision=1, value=2}
}

#: expected wire type per literal arm — scalar arms are varints, float
#: arms fixed32/64, everything else an embedded message / byte payload.
_LITERAL_WIRE = {
    1: WT_VARINT, 2: WT_VARINT, 3: WT_VARINT, 5: WT_VARINT, 7: WT_VARINT,
    14: WT_VARINT, 16: WT_VARINT,
    10: WT_I32, 11: WT_I64,
    12: WT_LEN, 13: WT_LEN, 19: WT_LEN, 20: WT_LEN, 21: WT_LEN, 22: WT_LEN,
    24: WT_LEN, 29: WT_LEN, 30: WT_LEN, 31: WT_LEN, 34: WT_LEN,
}

def _signed64(raw) -> int:
    """Protobuf varint payload → Python int, two's-complement at 64 bits.

    Rejects non-varint wire values: int(b"123") would silently ASCII-parse
    a length-delimited payload into a fabricated number."""
    if not isinstance(raw, int):
        raise SubstraitMalformed(
            f"malformed Substrait bytes: expected a varint, got {raw!r}"
        )
    value = int(raw)
    if value >= 1 << 63:
        value -= 1 << 64
    return value


def _micros_to_timestamp_sql(micros: int) -> str:
    import datetime

    try:
        ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=micros
        )
    except OverflowError as exc:
        raise SubstraitMalformed(
            f"timestamp literal out of range: {micros} microseconds"
        ) from exc
    return f"TIMESTAMP '{ts.strftime('%Y-%m-%d %H:%M:%S.%f')}'"


def _literal_to_sql(lit: bytes) -> str:
    f = _fields(lit)
    present = [n for n in f if n in _LITERAL_ARMS]
    if len(present) != 1:
        arms = ", ".join(str(n) for n in sorted(f))
        raise SubstraitUnsupported(
            f"Substrait consumer: unsupported literal (fields [{arms}]); "
            f"supported: boolean, i8/i16/i32/i64, fp32/fp64, string, binary, "
            f"date, timestamp, interval_year_to_month, interval_day_to_second, "
            f"fixed_char/var_char, decimal, typed null"
        )
    num = present[0]
    kind = _LITERAL_ARMS[num]
    wt, raw = f[num][-1]
    expected_wt = _LITERAL_WIRE[num]
    if wt != expected_wt:
        # a length-delimited payload where a varint arm was declared (or
        # vice versa) must reject: bool(b"\x00") is True, int(b"123")
        # ASCII-parses — silent value fabrication, not a decode
        raise SubstraitMalformed(
            f"malformed Substrait bytes: {kind} literal with wrong wire type"
        )
    if kind == "boolean":
        return "TRUE" if raw else "FALSE"
    if kind in ("i8", "i16", "i32", "i64"):
        # protobuf int64 varints are two's-complement on the wire
        return str(_signed64(raw))
    if kind == "date":
        import datetime

        try:
            d = datetime.date(1970, 1, 1) + datetime.timedelta(
                days=_signed64(raw)
            )
        except OverflowError as exc:
            raise SubstraitMalformed(
                f"date literal out of range: {_signed64(raw)} days"
            ) from exc
        return f"DATE '{d.isoformat()}'"
    if kind == "timestamp":
        # algebra.proto Literal.timestamp (deprecated but widely produced):
        # timezone-naive microseconds since the epoch; rendered as the civil
        # instant string, matching the spec's "no timezone" reading
        return _micros_to_timestamp_sql(_signed64(raw))
    if kind == "precision_timestamp":
        pf = _fields(raw)
        precision = _varint_one(pf, 1, 0)
        value = _signed64(_varint_one(pf, 2, 0))
        if precision > 6:
            raise SubstraitUnsupported(
                f"Substrait consumer: precision_timestamp with precision "
                f"{precision} exceeds Spark's microsecond timestamps"
            )
        return _micros_to_timestamp_sql(value * 10 ** (6 - precision))
    if kind == "interval_year_to_month":
        # algebra.proto IntervalYearToMonth{years=1, months=2}; the spec
        # requires both fields to share a sign, so a total-month fold is
        # lossless. Spark's ANSI year-month interval literal carries the
        # sign on the whole quantity.
        yf = _fields(raw)
        months = 12 * _signed64(_varint_one(yf, 1, 0)) + _signed64(_varint_one(yf, 2, 0))
        sign = "-" if months < 0 else ""
        return f"INTERVAL '{sign}{abs(months) // 12}-{abs(months) % 12}' YEAR TO MONTH"
    if kind == "interval_day_to_second":
        # IntervalDayToSecond{days=1, seconds=2, oneof precision_mode
        # {microseconds=3 (deprecated), precision=4}, subseconds=5}. All
        # fields share a sign per the spec; fold to total microseconds and
        # render Spark's '[-]d hh:mm:ss[.ffffff]' DAY TO SECOND form.
        ivf = _fields(raw)
        days = _signed64(_varint_one(ivf, 1, 0))
        seconds = _signed64(_varint_one(ivf, 2, 0))
        if 3 in ivf:  # deprecated microseconds arm
            sub_micros = _signed64(_varint_one(ivf, 3, 0))
        else:
            precision = _varint_one(ivf, 4, 0)
            subseconds = _signed64(_varint_one(ivf, 5, 0))
            if subseconds and 4 not in ivf:
                raise SubstraitMalformed(
                    "interval_day_to_second subseconds without a precision"
                )
            if precision > 6:
                raise SubstraitUnsupported(
                    f"Substrait consumer: interval_day_to_second precision "
                    f"{precision} exceeds Spark's microsecond intervals"
                )
            sub_micros = subseconds * 10 ** (6 - precision)
        total = days * 86_400_000_000 + seconds * 1_000_000 + sub_micros
        sign = "-" if total < 0 else ""
        t = abs(total)
        d, rem = divmod(t, 86_400_000_000)
        h, rem = divmod(rem, 3_600_000_000)
        m, rem = divmod(rem, 60_000_000)
        s, us = divmod(rem, 1_000_000)
        frac = f".{us:06d}" if us else ""
        return f"INTERVAL '{sign}{d} {h:02d}:{m:02d}:{s:02d}{frac}' DAY TO SECOND"
    if kind == "fp32":
        if wt != WT_I32:
            raise SubstraitMalformed("fp32 literal with wrong wire type")
        return repr(struct.unpack("<f", raw)[0])
    if kind == "fp64":
        if wt != WT_I64:
            raise SubstraitMalformed("fp64 literal with wrong wire type")
        return repr(struct.unpack("<d", raw)[0])
    if kind == "binary":
        return "X'" + (raw.hex().upper() if isinstance(raw, bytes) else "") + "'"
    if kind == "var_char":
        vf = _fields(raw)
        payload = _one(vf, 1)
        if payload is None:
            payload = b""
        elif not isinstance(payload, bytes):
            # `or b""` would swallow a varint 0 into an empty string —
            # silent value fabrication, exactly the class rejected above
            raise SubstraitMalformed("var_char literal with wrong wire type")
        return _sql_str(_utf8(payload, "var_char literal"))
    if kind == "decimal":
        df = _fields(raw)
        payload = _one(df, 1)
        if not isinstance(payload, bytes) or len(payload) != 16:
            raise SubstraitMalformed(
                "decimal literal without a 16-byte twos-complement value"
            )
        precision = _varint_one(df, 2, 38)
        scale = _varint_one(df, 3, 0)
        unscaled = int.from_bytes(payload, "little", signed=True)
        sign = "-" if unscaled < 0 else ""
        if scale > 0:
            digits = str(abs(unscaled)).rjust(scale + 1, "0")
            text = f"{sign}{digits[:-scale]}.{digits[-scale:]}"
        else:
            text = f"{sign}{abs(unscaled)}"
        # CAST preserves the plan's declared (precision, scale) exactly; a
        # bare numeric literal would re-derive a minimal type instead
        return f"CAST({text} AS DECIMAL({precision},{scale}))"
    if kind == "null":
        return f"CAST(NULL AS {_type_to_sql(raw)})"
    if kind == "list":
        values = [m for _, m in _fields(raw).get(1, [])]
        if not values:
            raise SubstraitMalformed(
                "list literal without values (spec requires the typed "
                "empty_list arm for empty lists)"
            )
        return "ARRAY(" + ", ".join(_literal_to_sql(v) for v in values) + ")"
    if kind == "empty_list":
        # raw is a Type.List message: element type in field 1
        elem = _one(_fields(raw), 1)
        if elem is None:
            raise SubstraitMalformed("empty_list literal without element type")
        return f"CAST(ARRAY() AS ARRAY<{_type_to_sql(elem)}>)"
    # string / fixed_char (both carry a UTF-8 payload; Spark has no padded
    # CHAR literal type, so fixed_char renders as a plain string — raw is
    # bytes by the arm-level wire check above)
    return _sql_str(_utf8(raw, "string literal"))


def _field_ref_index(expr: bytes) -> int:
    """Expression → index of a direct struct-field reference, or reject."""
    f = _fields(expr)
    sel = _one(f, 2)  # Expression.selection (FieldReference)
    if sel is None:
        arms = {1: "literal", 3: "scalar_function", 5: "window_function",
                6: "if_then", 11: "cast", 12: "subquery"}
        present = [arms.get(n, f"expression field {n}") for n in f]
        raise SubstraitUnsupported(
            f"Substrait consumer: only direct field references are supported "
            f"here; got {', '.join(present) or 'empty expression'}"
        )
    ref = _fields(sel)
    direct = _one(ref, 1)  # FieldReference.direct_reference (ReferenceSegment)
    if direct is None:
        raise SubstraitUnsupported(
            "Substrait consumer: only direct_reference field references are "
            "supported"
        )
    seg = _fields(direct)
    struct_field = _one(seg, 2)  # ReferenceSegment.struct_field
    if struct_field is None:
        raise SubstraitUnsupported(
            "Substrait consumer: only struct_field reference segments are "
            "supported"
        )
    sf = _fields(struct_field)
    if _one(sf, 2) is not None:  # nested child segment
        raise SubstraitUnsupported(
            "Substrait consumer: nested field references are not supported"
        )
    if _one(ref, 5) is not None:  # FieldReference.outer_reference
        raise SubstraitUnsupported(
            "Substrait consumer: outer (correlated) field references are "
            "not supported in this expression position (grouping keys, "
            "aggregate arguments, sort fields, emit-path projections)"
        )
    return _varint_one(sf, 1, 0)


def _col_at(cols: list[str], i: int) -> str:
    if i < len(cols):
        return cols[i]
    raise SubstraitUnsupported(
        f"Substrait consumer: field reference {i} is out of range for the "
        f"input schema ({len(cols)} columns)"
    )


class _CorrelationLevel:
    """Enclosing-query context for correlated subqueries.

    Holds the enclosing relation's column names and a pre-assigned stable
    alias; ``used`` flips when an outer reference actually renders against
    this level, telling the owning relation to PIN that alias onto its
    FROM clause (plans without correlation keep their original SQL)."""

    def __init__(self, cols: list[str], alias: str):
        self.cols = cols
        self.alias = alias
        self.used = False

    def ref(self, idx: int) -> str:
        self.used = True
        return f"{_quote(self.alias)}.{_quote(_col_at(self.cols, idx))}"


class _JoinConditionLevel(_CorrelationLevel):
    """Join-condition scope for correlated subqueries (round 8).

    Columns arrive PRE-RENDERED with the join's side aliases
    (``t0``/``t1``), so outer references substitute them verbatim — the
    "no stable alias" blocker the earlier named rejection cited does not
    actually hold (both sides render as aliased derived tables). Spark 4
    executes correlated set predicates (EXISTS/IN) in join conditions
    only against the LEFT input — a right-side reference raises
    ``UNSUPPORTED_CORRELATED_EXPRESSION_IN_JOIN_CONDITION`` at analysis
    (verified empirically on 4.1) — so right-side references keep a
    named rejection here. A correlated SCALAR subquery in a join
    condition is rejected by Spark's analyzer itself and surfaces as a
    clean plan-time error through the A29 mapping. No alias pinning is
    needed: the join SQL forces ``t0``/``t1`` unconditionally."""

    def __init__(self, qualified: list[str], left_width: int):
        self.qualified = qualified
        self.left_width = left_width
        self.used = False

    def ref(self, idx: int) -> str:
        if idx >= len(self.qualified):
            raise SubstraitMalformed(
                f"outer reference index {idx} out of range for a join "
                f"condition with {len(self.qualified)} columns"
            )
        if idx >= self.left_width:
            raise SubstraitUnsupported(
                "Substrait consumer: a subquery in a join condition can "
                "correlate only against the join's LEFT input (Spark "
                "rejects right-side correlated references in join "
                "predicates at analysis)"
            )
        self.used = True
        return self.qualified[idx]


def _pin_alias(state: "_State", alias: str) -> None:
    """Force ``alias`` onto the state's FROM clause so qualified outer
    references resolve to it (inner scopes would otherwise shadow a bare
    table name — e.g. a self-correlated EXISTS over the same table)."""
    table = state.table
    if table.endswith("`") and " AS `" in table:
        state.table = table.rsplit(" AS ", 1)[0] + f" AS {_quote(alias)}"
    elif " AS " in table or table.upper().startswith("VALUES"):
        # already-aliased relations that don't end in a bare alias (e.g. a
        # virtual_table's "VALUES … AS `v`(cols)") cannot take a second
        # AS — pin the alias on a derived table instead
        state.table = f"(SELECT * FROM {table}) AS {_quote(alias)}"
    else:
        state.table = f"{table} AS {_quote(alias)}"


def _outer_ref_to_sql(
    sel: bytes, outer: tuple["_CorrelationLevel", ...]
) -> str | None:
    """FieldReference bytes → qualified outer-column SQL, or None when the
    reference is not an outer reference."""
    ref = _fields(sel)
    outer_msg = _one(ref, 5)  # FieldReference.outer_reference
    if outer_msg is None:
        return None
    steps = _varint_one(_fields(outer_msg), 1, 0)
    if steps < 1 or steps > len(outer) or outer[-steps] is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: outer reference with steps_out={steps} "
            f"has no enclosing query context here (depth {len(outer)})"
        )
    direct = _one(ref, 1)
    if direct is None:
        raise SubstraitUnsupported(
            "Substrait consumer: outer reference without direct_reference"
        )
    struct_field = _one(_fields(direct), 2)
    if struct_field is None:
        raise SubstraitUnsupported(
            "Substrait consumer: only struct_field outer references are "
            "supported"
        )
    idx = _varint_one(_fields(struct_field), 1, 0)
    return outer[-steps].ref(idx)


def _expr_to_sql(
    expr: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool = False,
    allow_window: bool = False,
    outer: tuple = (),
    level: "_CorrelationLevel | None" = None,
) -> str:
    """Filter-subset Expression → SQL text (field refs, literals,
    comparison/boolean scalar functions). With ``rendered=True`` the
    ``cols`` entries are already SQL text (aggregate output expressions for
    a HAVING condition) and field references substitute them verbatim
    instead of quoting them as identifiers. ``allow_window`` is True only
    in projection contexts — a window function in a WHERE/HAVING/join
    condition would render SQL Spark rejects at analysis, so it is
    refused here with the module's NOT_IMPLEMENTED contract instead."""
    f = _fields(expr)
    if 2 in f:  # selection
        qualified = _outer_ref_to_sql(_one(f, 2), outer)
        if qualified is not None:
            return qualified
        col = _col_at(cols, _field_ref_index(expr))
        return col if rendered else _quote(col)
    if 1 in f:  # literal
        return _literal_to_sql(_one(f, 1))
    if 3 in f:  # scalar_function
        return _scalar_fn_to_sql(
            _one(f, 3), cols, funcs, rendered, allow_window, outer, level
        )
    if 11 in f:  # cast
        return _cast_to_sql(
            _one(f, 11), cols, funcs, rendered, allow_window, outer, level
        )
    if 6 in f:  # if_then
        return _if_then_to_sql(
            _one(f, 6), cols, funcs, rendered, allow_window, outer, level
        )
    if 5 in f:  # window_function
        if not allow_window:
            raise SubstraitUnsupported(
                "Substrait consumer: window functions are only supported in "
                "projection output expressions, not in filter/join/sort "
                "conditions"
            )
        return _window_fn_to_sql(_one(f, 5), cols, funcs, rendered, outer=outer)
    if 12 in f:  # subquery
        # the subquery's relations are one query level deeper: this
        # expression's own level (None where correlation is unsupported)
        # joins the chain, so steps_out=1 inside reaches THIS query
        return _subquery_to_sql(
            _one(f, 12), cols, funcs, rendered, outer + (level,)
        )
    if 7 in f:  # switch_expression: CASE match WHEN lit THEN expr … END
        sw = _fields(_one(f, 7))
        match = _one(sw, 3)
        clauses = sw.get(1, [])
        if match is None or not clauses:
            raise SubstraitMalformed("switch_expression without match/ifs")
        parts = [
            "CASE "
            + _expr_to_sql(match, cols, funcs, rendered, allow_window, outer, level)
        ]
        for _, clause in clauses:
            cf = _fields(clause)
            lit, then = _one(cf, 1), _one(cf, 2)
            if lit is None or then is None:
                raise SubstraitMalformed("switch clause missing if/then")
            parts.append(
                f"WHEN {_literal_to_sql(lit)} THEN "
                + _expr_to_sql(then, cols, funcs, rendered, allow_window, outer, level)
            )
        els = _one(sw, 2)
        if els is not None:
            parts.append(
                "ELSE "
                + _expr_to_sql(els, cols, funcs, rendered, allow_window, outer, level)
            )
        return "(" + " ".join(parts) + " END)"
    if 13 in f:  # nested constructor: list / struct / map arms
        nf = _fields(_one(f, 13))

        def _sub(v: bytes) -> str:
            return _expr_to_sql(
                v, cols, funcs, rendered, allow_window, outer, level
            )

        lst = _one(nf, 4)  # Nested.list
        if lst is not None:
            values = [m for _, m in _fields(lst).get(1, [])]
            if not values:
                raise SubstraitUnsupported(
                    "Substrait consumer: empty nested list constructor has "
                    "no element type; use the typed empty_list literal"
                )
            return "ARRAY(" + ", ".join(_sub(v) for v in values) + ")"
        st = _one(nf, 3)  # Nested.Struct{fields=1 repeated Expression}
        if st is not None:
            values = [m for _, m in _fields(st).get(1, [])]
            if not values:
                raise SubstraitMalformed("nested struct constructor without fields")
            # substrait struct fields are positional (no names); Spark's
            # STRUCT() names them col1, col2, … — the declared divergence
            return "STRUCT(" + ", ".join(_sub(v) for v in values) + ")"
        mp = _one(nf, 5)  # Nested.Map{key_values=1 rep KeyValue{key=1,value=2}}
        if mp is not None:
            pairs = []
            for _, kv in _fields(mp).get(1, []):
                kvf = _fields(kv)
                k, v = _one(kvf, 1), _one(kvf, 2)
                if k is None or v is None:
                    raise SubstraitMalformed("map constructor entry missing key/value")
                pairs.extend([_sub(k), _sub(v)])
            if not pairs:
                raise SubstraitUnsupported(
                    "Substrait consumer: empty nested map constructor has "
                    "no key/value types; use a typed null literal"
                )
            return "MAP(" + ", ".join(pairs) + ")"
        raise SubstraitUnsupported(
            "Substrait consumer: empty nested constructor"
        )
    if 8 in f:  # singular_or_list: value IN (options…)
        sf = _fields(_one(f, 8))
        value = _one(sf, 1)
        options = [m for _, m in sf.get(2, [])]
        if value is None or not options:
            raise SubstraitMalformed("singular_or_list without value/options")
        rx = _expr_to_sql(value, cols, funcs, rendered, allow_window, outer, level)
        opts = ", ".join(
            _expr_to_sql(o, cols, funcs, rendered, allow_window, outer, level)
            for o in options
        )
        return f"({rx} IN ({opts}))"
    if 9 in f:  # multi_or_list: (a, b) IN ((…), (…))
        mf = _fields(_one(f, 9))
        values = [m for _, m in mf.get(1, [])]
        records = [m for _, m in mf.get(2, [])]
        if not values or not records:
            raise SubstraitMalformed("multi_or_list without value/options")
        lhs = ", ".join(
            _expr_to_sql(v, cols, funcs, rendered, allow_window, outer, level)
            for v in values
        )
        rows = []
        for rec in records:
            fields_ = [m for _, m in _fields(rec).get(1, [])]
            if len(fields_) != len(values):
                raise SubstraitMalformed(
                    "multi_or_list record arity differs from value arity"
                )
            rows.append(
                "("
                + ", ".join(
                    _expr_to_sql(
                        x, cols, funcs, rendered, allow_window, outer, level
                    )
                    for x in fields_
                )
                + ")"
            )
        return f"(({lhs}) IN ({', '.join(rows)}))"
    present = [f"expression field {n}" for n in f]
    raise SubstraitUnsupported(
        f"Substrait consumer: unsupported expression "
        f"({', '.join(present) or 'empty expression'}); supported: field "
        f"reference, literal, cast, comparison/boolean/arithmetic scalar "
        f"function, window function, IN-list, CASE (if_then/switch), "
        f"list constructor, uncorrelated subquery"
    )


#: Type message oneof arms (type.proto) → Spark SQL type names. Parameterized
#: types (decimal 24, fixed-char/varchar 21/22) are decoded separately.
_CAST_TYPES = {
    1: "BOOLEAN",
    2: "TINYINT",
    3: "SMALLINT",
    5: "INT",
    7: "BIGINT",
    10: "FLOAT",
    11: "DOUBLE",
    12: "STRING",
    13: "BINARY",
    14: "TIMESTAMP_NTZ",  # Type.timestamp (no tz); tz form is arm 29
    16: "DATE",
    29: "TIMESTAMP",  # Type.timestamp_tz → session-zoned timestamp
}


def _if_then_to_sql(
    body: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool,
    allow_window: bool = False,
    outer: tuple = (),
    level: "_CorrelationLevel | None" = None,
) -> str:
    """Expression.IfThen (ifs=1 repeated IfClause{if=1, then=2}, else=2)
    → ``CASE WHEN … THEN … [WHEN …] ELSE … END``."""
    f = _fields(body)
    clauses = f.get(1, [])
    if not clauses:
        raise SubstraitMalformed("if_then without if clauses")
    parts = ["CASE"]
    for _, clause in clauses:
        cf = _fields(clause)
        cond, then = _one(cf, 1), _one(cf, 2)
        if cond is None or then is None:
            raise SubstraitMalformed("if clause missing condition or value")
        parts.append(
            f"WHEN {_expr_to_sql(cond, cols, funcs, rendered, allow_window, outer, level)} "
            f"THEN {_expr_to_sql(then, cols, funcs, rendered, allow_window, outer, level)}"
        )
    els = _one(f, 2)
    if els is None:
        raise SubstraitMalformed("if_then without else (required by spec)")
    parts.append(
        f"ELSE {_expr_to_sql(els, cols, funcs, rendered, allow_window, outer, level)} "
        f"END"
    )
    return "(" + " ".join(parts) + ")"


def _type_to_sql(ty: bytes) -> str:
    """Substrait Type message (type.proto oneof) → Spark SQL type name.

    Shared by Expression.Cast targets and typed-null literals."""
    tf = _fields(ty)
    present = [n for n in tf]
    if len(present) != 1:
        raise SubstraitUnsupported(
            f"Substrait consumer: type message with arms {present} is "
            f"not supported"
        )
    arm = present[0]
    if arm == 24:  # decimal: scale=1, precision=2 (type.proto Decimal)
        df = _fields(_one(tf, 24))
        scale = _varint_one(df, 1, 0)
        precision = _varint_one(df, 2, 38)
        return f"DECIMAL({precision},{scale})"
    if arm in (21, 22):  # fixed-char / varchar with length
        lf = _fields(_one(tf, arm))
        length = _varint_one(lf, 1, 0)
        return f"VARCHAR({length})" if length else "STRING"
    if arm == 27:  # Type.list → ARRAY<element>
        elem = _one(_fields(_one(tf, 27)), 1)
        if elem is None:
            raise SubstraitMalformed("list type without element type")
        return f"ARRAY<{_type_to_sql(elem)}>"
    sql_type = _CAST_TYPES.get(arm)
    if sql_type is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: type arm {arm} is not supported"
        )
    return sql_type


def _cast_to_sql(
    body: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool,
    allow_window: bool = False,
    outer: tuple = (),
    level: "_CorrelationLevel | None" = None,
) -> str:
    """Expression.Cast (type=1, input=2, failure_behavior=3) → CAST/TRY_CAST.

    failure_behavior: 0 unspecified / 1 RETURN_NULL → TRY_CAST (Spark's
    non-ANSI default also returns NULL); 2 THROW_EXCEPTION → CAST.
    """
    f = _fields(body)
    inp = _one(f, 2)
    if inp is None:
        raise SubstraitMalformed("cast without input expression")
    ty = _one(f, 1)
    if ty is None:
        raise SubstraitMalformed("cast without target type")
    sql_type = _type_to_sql(ty)
    behavior = _varint_one(f, 3, 0)
    fn = "CAST" if behavior == 2 else "TRY_CAST"
    return (
        f"{fn}({_expr_to_sql(inp, cols, funcs, rendered, allow_window, outer, level)} "
        f"AS {sql_type})"
    )


def _scalar_fn_to_sql(
    body: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool = False,
    allow_window: bool = False,
    outer: tuple = (),
    level: "_CorrelationLevel | None" = None,
) -> str:
    f = _fields(body)
    anchor = _varint_one(f, 1, 0)
    name = funcs.get(anchor)
    if name is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: scalar function anchor {anchor} has no "
            f"extension declaration in the plan"
        )
    args: list[bytes] = []
    enum_args: list[str] = []
    for _, arg in f.get(4, []):  # FunctionArgument
        af = _fields(arg)
        value = _one(af, 3)  # FunctionArgument.value (Expression)
        if value is None:
            enum_v = _one(af, 1)  # FunctionArgument.enum (string)
            if enum_v is not None:
                if not isinstance(enum_v, bytes):
                    raise SubstraitMalformed("enum argument with wrong wire type")
                enum_args.append(_utf8(enum_v, "enum argument"))
                continue
            kinds = {1: "enum", 2: "type"}
            present = [kinds.get(n, f"argument field {n}") for n in af]
            raise SubstraitUnsupported(
                f"Substrait consumer: non-expression function argument "
                f"({', '.join(present)}) for {name!r}"
            )
        args.append(value)
    if not args:  # deprecated ScalarFunction.args (Expression, field 2)
        args = [v for _, v in f.get(2, [])]

    # ScalarFunction.options (field 5, repeated FunctionOption{name=1,
    # preference=2}): a plan that PINS an option constrains the consumer —
    # the preference list is ordered and the consumer may pick any entry it
    # implements. Each (function, option) pair this consumer renders with
    # fixed Spark semantics is listed in _CONSUMED_OPTIONS with the
    # preference values Spark's rendering satisfies; a pinned option whose
    # preferences contain none of them rejects by name (silently rendering
    # e.g. round(2.5) as HALF_UP under a TIE_TO_EVEN pin would be wrong
    # VALUES, not a wrong shape). Absent options leave the choice to the
    # consumer per the spec, so the plain renderings below stand.
    for _, opt in f.get(5, []):
        of = _fields(opt)
        opt_name_raw = _one(of, 1)
        opt_name = (
            opt_name_raw.decode("utf-8", "replace")
            if isinstance(opt_name_raw, bytes)
            else str(opt_name_raw)
        )
        prefs = [
            v.decode("utf-8", "replace")
            for _, v in of.get(2, [])
            if isinstance(v, bytes)
        ]
        honored = _CONSUMED_OPTIONS.get((name, opt_name))
        if honored is not None and (not prefs or honored & set(prefs)):
            continue
        raise SubstraitUnsupported(
            f"Substrait consumer: function option {opt_name!r}="
            f"{prefs or '?'} for {name!r} is not consumed"
        )

    def a(i: int) -> str:
        return _expr_to_sql(
            args[i], cols, funcs, rendered, allow_window, outer, level
        )

    if name == "extract":
        # functions_datetime.yaml: extract(component [, indexing], x) — the
        # component (and for some components a ONE/ZERO indexing origin)
        # arrive as ENUM arguments, not expressions. Substrait's extract
        # returns i64 with integer SECOND; Spark's EXTRACT returns INT (and
        # DECIMAL(8,6) for SECOND), so the result is cast to BIGINT —
        # decimal→bigint truncates toward zero, which IS the integer-seconds
        # component.
        if len(args) != 1 or not (1 <= len(enum_args) <= 2):
            raise SubstraitUnsupported(
                f"Substrait consumer: extract with {len(enum_args)} enum and "
                f"{len(args)} expression arguments (expected component "
                f"[, indexing], value)"
            )
        if len(enum_args) == 2 and enum_args[1].upper() != "ONE":
            raise SubstraitUnsupported(
                f"Substrait consumer: extract indexing {enum_args[1]!r} "
                f"(Spark's date fields are 1-origin; only ONE is consumed)"
            )
        component = enum_args[0].upper()
        field = _EXTRACT_COMPONENTS.get(component)
        if field is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: extract component {component!r} is not "
                f"consumed ({' '.join(sorted(_EXTRACT_COMPONENTS))}); "
                f"week/day-of-week origins differ across engines"
            )
        return f"CAST(EXTRACT({field} FROM {a(0)}) AS BIGINT)"
    if enum_args:
        raise SubstraitUnsupported(
            f"Substrait consumer: enum arguments for {name!r} are not "
            f"consumed"
        )
    if name in ("and", "or"):
        if len(args) < 2:
            raise SubstraitMalformed(f"{name} with {len(args)} arguments")
        joiner = " AND " if name == "and" else " OR "
        return "(" + joiner.join(a(i) for i in range(len(args))) + ")"
    if name == "not":
        if len(args) != 1:
            raise SubstraitMalformed(f"not with {len(args)} arguments")
        return f"(NOT {a(0)})"
    if name == "divide":
        if len(args) != 2:
            raise SubstraitMalformed(f"divide with {len(args)} arguments")
        # Substrait divide(iN, iN) is INTEGER division; Spark's `/` always
        # returns DOUBLE. The plan's declared output_type (ScalarFunction
        # field 3 — NOT 5, which is options; AggregateFunction is the one
        # with output_type=5) decides which SQL operator preserves the
        # semantics.
        if _type_is_integral(_one(f, 3)):
            return f"({a(0)} DIV {a(1)})"
        return f"({a(0)} / {a(1)})"
    if name in _BINARY_OPS:
        if len(args) != 2:
            raise SubstraitMalformed(f"{name} with {len(args)} arguments")
        return f"({a(0)} {_BINARY_OPS[name]} {a(1)})"
    if name in ("is_null", "is_not_null"):
        if len(args) != 1:
            raise SubstraitMalformed(f"{name} with {len(args)} arguments")
        op = "IS NULL" if name == "is_null" else "IS NOT NULL"
        return f"({a(0)} {op})"
    if name == "between":
        if len(args) != 3:
            raise SubstraitMalformed(f"between with {len(args)} arguments")
        return f"({a(0)} BETWEEN {a(1)} AND {a(2)})"
    if name == "negate":
        if len(args) != 1:
            raise SubstraitMalformed(f"negate with {len(args)} arguments")
        return f"(- {a(0)})"
    if name == "like":
        if len(args) != 2:
            raise SubstraitMalformed(f"like with {len(args)} arguments")
        return f"({a(0)} LIKE {a(1)})"
    if name == "coalesce":
        if len(args) < 1:
            raise SubstraitMalformed("coalesce without arguments")
        return "COALESCE(" + ", ".join(a(i) for i in range(len(args))) + ")"
    if name in ("least", "greatest"):
        # substrait's least/greatest PROPAGATE nulls (the skip-null
        # semantics are the separate *_skip_null functions); Spark's
        # LEAST/GREATEST skip nulls, so wrap with an explicit null gate
        if len(args) < 2:
            raise SubstraitMalformed(f"{name} with {len(args)} arguments")
        vals = [a(i) for i in range(len(args))]
        null_gate = " OR ".join(f"{v} IS NULL" for v in vals)
        return (
            f"(CASE WHEN {null_gate} THEN NULL "
            f"ELSE {name.upper()}({', '.join(vals)}) END)"
        )
    plain = _PLAIN_SCALAR_FNS.get(name)
    if plain is not None:
        sql_name, lo, hi = plain
        if not (lo <= len(args) <= hi):
            raise SubstraitMalformed(
                f"{name} with {len(args)} arguments (expected {lo}..{hi})"
            )
        return sql_name + "(" + ", ".join(a(i) for i in range(len(args))) + ")"
    raise SubstraitUnsupported(
        f"Substrait consumer: scalar function {name!r} is not in the "
        f"expression subset (and or not equal not_equal gt gte lt lte "
        f"is_null is_not_null between add subtract multiply divide "
        f"modulus negate like coalesce extract least greatest "
        f"{' '.join(sorted(_PLAIN_SCALAR_FNS))})"
    )


_MANY = 255

#: (function, option) → preference values the Spark rendering satisfies.
#: Spark float `/` is IEEE 754 (TIE_TO_EVEN result rounding); Spark ROUND
#: is BigDecimal HALF_UP = round half away from zero.
_CONSUMED_OPTIONS = {
    ("divide", "rounding"): {"TIE_TO_EVEN"},
    ("round", "rounding"): {"TIE_AWAY_FROM_ZERO"},
}

#: extract component enum → Spark EXTRACT field, restricted to components
#: whose definition is engine-independent. WEEK/DAY_OF_WEEK/ISO_* variants
#: have per-engine origin/rollover semantics and keep the named rejection.
_EXTRACT_COMPONENTS = {
    "YEAR": "YEAR",
    "QUARTER": "QUARTER",
    "MONTH": "MONTH",
    "DAY": "DAY",
    "DAY_OF_YEAR": "DOY",
    "HOUR": "HOUR",
    "MINUTE": "MINUTE",
    "SECOND": "SECOND",
}

#: Direct function-call renderings: substrait extension-yaml name →
#: (Spark SQL function, min arity, max arity). Every name here has
#: call-compatible semantics in Spark SQL for the arities listed (names
#: from functions_string/arithmetic/comparison/rounding.yaml — the set
#: DataFusion's producer emits for ordinary scalar expressions). Pinned
#: FunctionOptions are checked against _CONSUMED_OPTIONS (absent options
#: are the consumer's choice per the spec); enum-argument forms other
#: than extract (regex flags etc.) keep the named rejection until
#: consumed with their options honored.
_PLAIN_SCALAR_FNS = {
    # strings (functions_string.yaml)
    "concat": ("CONCAT", 1, _MANY),
    "upper": ("UPPER", 1, 1),
    "lower": ("LOWER", 1, 1),
    "trim": ("TRIM", 1, 1),
    "ltrim": ("LTRIM", 1, 1),
    "rtrim": ("RTRIM", 1, 1),
    "reverse": ("REVERSE", 1, 1),
    "char_length": ("CHAR_LENGTH", 1, 1),
    "bit_length": ("BIT_LENGTH", 1, 1),
    "octet_length": ("OCTET_LENGTH", 1, 1),
    "substring": ("SUBSTRING", 2, 3),
    "starts_with": ("STARTSWITH", 2, 2),
    "ends_with": ("ENDSWITH", 2, 2),
    "contains": ("CONTAINS", 2, 2),
    "replace": ("REPLACE", 3, 3),
    "repeat": ("REPEAT", 2, 2),
    "left": ("LEFT", 2, 2),
    "right": ("RIGHT", 2, 2),
    "lpad": ("LPAD", 2, 3),
    "rpad": ("RPAD", 2, 3),
    "strpos": ("INSTR", 2, 2),  # both: 1-based position, 0 when absent
    # arithmetic / rounding (functions_arithmetic.yaml, functions_rounding)
    "abs": ("ABS", 1, 1),
    "sign": ("SIGN", 1, 1),
    "sqrt": ("SQRT", 1, 1),
    "exp": ("EXP", 1, 1),
    "ln": ("LN", 1, 1),
    "log10": ("LOG10", 1, 1),
    "log2": ("LOG2", 1, 1),
    "power": ("POWER", 2, 2),
    "floor": ("FLOOR", 1, 1),
    "ceil": ("CEIL", 1, 1),
    "round": ("ROUND", 1, 2),
    "sin": ("SIN", 1, 1),
    "cos": ("COS", 1, 1),
    "tan": ("TAN", 1, 1),
    "asin": ("ASIN", 1, 1),
    "acos": ("ACOS", 1, 1),
    "atan": ("ATAN", 1, 1),
    "atan2": ("ATAN2", 2, 2),
    "sinh": ("SINH", 1, 1),
    "cosh": ("COSH", 1, 1),
    "tanh": ("TANH", 1, 1),
    # comparison helpers (functions_comparison.yaml); least/greatest are
    # rendered by a dedicated arm (null-propagating per the spec) — the
    # *_skip_null variants ARE Spark's native skip-null LEAST/GREATEST
    "nullif": ("NULLIF", 2, 2),
    "least_skip_null": ("LEAST", 2, _MANY),
    "greatest_skip_null": ("GREATEST", 2, _MANY),
    "is_nan": ("ISNAN", 1, 1),
}


#: Type message oneof arms (type.proto) that are integer kinds — used to
#: pick DIV vs / for Substrait's typed integer division.
_INTEGRAL_TYPE_ARMS = frozenset({2, 3, 5, 7})  # i8 i16 i32 i64


def _type_is_integral(type_bytes: bytes | None) -> bool:
    if type_bytes is None:
        return False
    return any(n in _INTEGRAL_TYPE_ARMS for n in _fields(type_bytes))


# -- window functions --------------------------------------------------------

#: window (and window-capable aggregate) function names → SQL. Names from
#: substrait functions_arithmetic.yaml window section + aggregates.
_WINDOW_FUNCS = {
    "row_number": "ROW_NUMBER",
    "rank": "RANK",
    "dense_rank": "DENSE_RANK",
    "percent_rank": "PERCENT_RANK",
    "cume_dist": "CUME_DIST",
    "ntile": "NTILE",
    "lead": "LEAD",
    "lag": "LAG",
    "first_value": "FIRST_VALUE",
    "last_value": "LAST_VALUE",
    "nth_value": "NTH_VALUE",
    "sum": "SUM",
    "min": "MIN",
    "max": "MAX",
    "avg": "AVG",
    "count": "COUNT",
    # windowed forms of the round-5-late aggregate widening
    "std_dev": "STDDEV_SAMP",
    "variance": "VAR_SAMP",
    "bool_and": "BOOL_AND",
    "bool_or": "BOOL_OR",
}

#: window functions that accept an explicit frame in Spark (aggregates and
#: the value-position family); ranking/offset functions reject frames.
_FRAMED_WINDOW_FUNCS = frozenset(
    {
        "first_value",
        "last_value",
        "nth_value",
        "sum",
        "min",
        "max",
        "avg",
        "count",
        "std_dev",
        "variance",
        "bool_and",
        "bool_or",
    }
)


def _bound_to_sql(bound: bytes, end: str) -> str:
    """WindowFunction.Bound → frame bound SQL. ``end`` is 'lower'/'upper'
    (decides which direction UNBOUNDED renders as)."""
    f = _fields(bound)
    if 1 in f:  # preceding {offset=1}
        off = _varint_one(_fields(_one(f, 1)), 1)
        return f"{off} PRECEDING"
    if 2 in f:  # following {offset=1}
        off = _varint_one(_fields(_one(f, 2)), 1)
        return f"{off} FOLLOWING"
    if 3 in f:  # current_row
        return "CURRENT ROW"
    if 4 in f:  # unbounded
        return "UNBOUNDED PRECEDING" if end == "lower" else "UNBOUNDED FOLLOWING"
    raise SubstraitUnsupported(
        f"Substrait consumer: window frame bound arms {sorted(f)} are not "
        f"supported"
    )


def _sort_field_to_sql(
    sort_field: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool,
    outer: tuple = (),
) -> str:
    """SortField (expr=1, direction=2, comparison_function_reference=3)
    → ``<expr> <direction>`` (shared by window ORDER BY)."""
    sff = _fields(sort_field)
    expr = _one(sff, 1)
    if expr is None:
        raise SubstraitMalformed("SortField without expression")
    if _one(sff, 3) is not None:
        raise SubstraitUnsupported(
            "Substrait consumer: comparison-function sorts are not supported"
        )
    direction = _varint_one(sff, 2, 0)
    sql_dir = _SORT_DIRECTIONS.get(direction)
    if sql_dir is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: sort direction {direction} is not supported"
        )
    return f"{_expr_to_sql(expr, cols, funcs, rendered, outer=outer)} {sql_dir}"


def _window_fn_to_sql(
    body: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool,
    rel_ordered: bool = False,
    outer: tuple = (),
) -> str:
    """Expression.WindowFunction → ``FN(args) OVER (...)``.

    algebra.proto field numbers: function_reference=1, partitions=2,
    sorts=3, upper_bound=4, lower_bound=5, phase=6, args(deprecated)=8,
    arguments=9, invocation=10, bounds_type=12.
    """
    f = _fields(body)
    anchor = _varint_one(f, 1, 0)
    name = funcs.get(anchor)
    if name is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: window function anchor {anchor} has no "
            f"extension declaration in the plan"
        )
    sql_fn = _WINDOW_FUNCS.get(name)
    if sql_fn is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: window function {name!r} is not in the "
            f"window subset ({' '.join(sorted(_WINDOW_FUNCS))})"
        )
    phase = _varint_one(f, 6, 0)
    if phase not in (0, 3):  # unspecified / INITIAL_TO_RESULT
        raise SubstraitUnsupported(
            f"Substrait consumer: partial window phase {phase} is not "
            f"supported"
        )
    invocation = _varint_one(f, 10, 0)
    if invocation == _INVOCATION_DISTINCT:
        raise SubstraitUnsupported(
            "Substrait consumer: DISTINCT window invocation is not supported"
        )
    args: list[bytes] = []
    for _, arg in f.get(9, []):  # FunctionArgument
        af = _fields(arg)
        value = _one(af, 3)
        if value is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: non-expression window argument for "
                f"{name!r}"
            )
        args.append(value)
    if not args:  # deprecated WindowFunction.args (field 8)
        args = [v for _, v in f.get(8, [])]
    if name == "count" and not args:
        call = "COUNT(*)"
    else:
        arg_sql = ", ".join(
            _expr_to_sql(a, cols, funcs, rendered, outer=outer) for a in args
        )
        call = f"{sql_fn}({arg_sql})"

    over: list[str] = []
    parts = [
        _expr_to_sql(v, cols, funcs, rendered, outer=outer)
        for _, v in f.get(2, [])
    ]
    if parts:
        over.append("PARTITION BY " + ", ".join(parts))
    orders = [
        _sort_field_to_sql(v, cols, funcs, rendered, outer=outer)
        for _, v in f.get(3, [])
    ]
    if orders:
        over.append("ORDER BY " + ", ".join(orders))
    bounds_type = _varint_one(f, 12, 0)
    lower, upper = _one(f, 5), _one(f, 4)
    if lower is None and upper is None:
        # BOTH bounds unset: the substrait default is start..end of
        # partition, but with ORDER BY present Spark's implicit frame is
        # RANGE UNBOUNDED PRECEDING..CURRENT ROW — a windowed aggregate
        # would silently render a running sum instead of the partition
        # total. Emit the explicit whole-partition frame for the
        # frame-accepting functions; ranking/offset functions (row_number,
        # rank, lead, ...) reject explicit frames in Spark and are
        # frame-insensitive anyway (round-6 fix, ADVICE r5).
        if (orders or rel_ordered) and name in _FRAMED_WINDOW_FUNCS:
            over.append("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")
    else:
        if bounds_type == 1:
            frame_kind = "ROWS"
        elif bounds_type == 2:
            frame_kind = "RANGE"
        else:
            raise SubstraitUnsupported(
                "Substrait consumer: window bounds without a bounds_type "
                "(ROWS/RANGE) are not supported"
            )
        # spec defaults for unset bounds: lower -> start of partition,
        # upper -> END of partition (not CURRENT ROW)
        lo = (
            _bound_to_sql(lower, "lower")
            if lower is not None
            else "UNBOUNDED PRECEDING"
        )
        hi = (
            _bound_to_sql(upper, "upper")
            if upper is not None
            else "UNBOUNDED FOLLOWING"
        )
        over.append(f"{frame_kind} BETWEEN {lo} AND {hi}")
    return f"{call} OVER ({' '.join(over)})"


# -- subquery expressions ----------------------------------------------------


def _subquery_to_sql(
    body: bytes,
    cols: list[str],
    funcs: dict[int, str],
    rendered: bool,
    outer: tuple = (),
) -> str:
    """Expression.Subquery → scalar / IN / EXISTS SQL. The ``outer`` chain
    (one `_CorrelationLevel` per enclosing query, innermost last) flows
    into the inner relation so its outer references (steps_out=k) render
    as alias-qualified columns of the k-th enclosing query — correlated
    subqueries translate to ordinary correlated SQL.

    algebra.proto oneof arms: scalar=1 {input=1}, in_predicate=2
    {needles=1 repeated, haystack=2}, set_predicate=3 {predicate_op=1,
    tuples=2}, set_comparison=4.
    """
    f = _fields(body)
    if 1 in f:  # scalar subquery
        sub = _one(_fields(_one(f, 1)), 1)
        if sub is None:
            raise SubstraitMalformed("scalar subquery without input relation")
        return "(" + _render_sql(_interpret_rel(sub, funcs, outer), []) + ")"
    if 2 in f:  # in_predicate
        pf = _fields(_one(f, 2))
        needles = [v for _, v in pf.get(1, [])]
        haystack = _one(pf, 2)
        if not needles or haystack is None:
            raise SubstraitMalformed("in_predicate without needles/haystack")
        sub_sql = _render_sql(_interpret_rel(haystack, funcs, outer), [])
        parts = [
            # needles are expressions of the ENCLOSING query: strip the
            # level this subquery added before rendering them
            _expr_to_sql(n, cols, funcs, rendered, outer=outer[:-1],
                         level=outer[-1])
            for n in needles
        ]
        left = parts[0] if len(parts) == 1 else "(" + ", ".join(parts) + ")"
        return f"({left} IN ({sub_sql}))"
    if 3 in f:  # set_predicate
        pf = _fields(_one(f, 3))
        op = _varint_one(pf, 1, 0)
        if op != 1:  # PREDICATE_OP_EXISTS
            raise SubstraitUnsupported(
                f"Substrait consumer: set predicate op {op} is not supported "
                f"(EXISTS only)"
            )
        tuples = _one(pf, 2)
        if tuples is None:
            raise SubstraitMalformed("set_predicate without tuples relation")
        return (
            f"EXISTS ({_render_sql(_interpret_rel(tuples, funcs, outer), [])})"
        )
    raise SubstraitUnsupported(
        f"Substrait consumer: subquery arms {sorted(f)} are not supported "
        f"(scalar, in_predicate, EXISTS set_predicate)"
    )


# -- relation interpreters ---------------------------------------------------

#: algebra.proto Rel oneof arms, by field number.
_REL_ARMS = {
    1: "read",
    2: "filter",
    3: "fetch",
    4: "aggregate",
    5: "sort",
    6: "join",
    7: "project",
    8: "set",
    9: "extension_single",
    10: "extension_multi",
    11: "extension_leaf",
    12: "cross",
    17: "window",  # ConsistentPartitionWindowRel
}

#: sort direction enum → SQL (algebra.proto SortField.SortDirection)
_SORT_DIRECTIONS = {
    1: "ASC NULLS FIRST",
    2: "ASC NULLS LAST",
    3: "DESC NULLS FIRST",
    4: "DESC NULLS LAST",
}


class _State:
    """Accumulated clauses while walking the rel tree inward→outward."""

    __slots__ = (
        "table",
        "cols",
        "where",
        "order",
        "limit",
        "offset",
        "group",
        "having",
        "select_exprs",
        "col_trees",
        "col_nodes",
    )

    def __init__(self, table: str, cols: list[str]):
        self.table = table
        self.cols = cols
        # per-column flat depth-first NESTED field names (empty list for a
        # flat column); None = nesting unknown. Consumed at the root to
        # interpret RelRoot's flattened name list (spec: names flatten
        # depth-first over nested structs, like NamedStruct.names).
        self.col_trees: list[list[str]] | None = None
        # parallel to col_trees: the _SchemaNode per column (structure for
        # the root's NAMED_STRUCT rebuild of nested renames); None where a
        # column's structure is unknown/synthetic
        self.col_nodes: "list[_SchemaNode | None] | None" = None
        self.where: list[str] = []
        self.order: list[str] = []
        self.limit: int | None = None
        self.offset: int | None = None
        # set by AggregateRel: GROUP BY expression SQL, HAVING conjuncts,
        # and the rendered output expressions (parallel to cols, which then
        # holds the output ALIASES instead of raw column names)
        self.group: list[str] = []
        self.having: list[str] = []
        self.select_exprs: list[str] | None = None


#: FileOrFiles format oneof arms (algebra.proto) → Spark SQL datasource
#: name for the direct-path `format.`uri`` syntax. arrow/dwrf/extension
#: and text options reject by name.
_LOCAL_FILE_FORMATS = {9: "parquet", 11: "orc"}

#: per-translation allowlist of local_files path roots, set by
#: ``substrait_to_sql``: None = unrestricted (direct library use), a tuple
#: of prefixes = only paths under one of them may be read (empty = deny
#: all — the Flight server's default posture, since local_files otherwise
#: lets any client read any file the Spark session user can).
_LOCAL_FILES_ROOTS: ContextVar[tuple[str, ...] | None] = ContextVar(
    "_LOCAL_FILES_ROOTS", default=None
)


def _path_within_roots(uri: str, roots: tuple[str, ...]) -> bool:
    """Prefix-allowlist check for a local_files uri.

    ``..`` segments reject outright (prefix matching can't see through
    them); a ``file:`` scheme is stripped — the no-authority URI
    spellings (``file:/x``, ``file:///x``; Hadoop's ``Path.toString``
    emits the single-slash form) normalize to ``/x`` so they match the
    same root, and an authority component other than ``localhost``
    (``file://host/x``) rejects outright — that uri names ANOTHER
    machine's filesystem, which no local root can meaningfully allow.
    Local paths canonicalize through ``os.path.realpath`` before the
    prefix compare (roots too), so a symlink planted under an allowed
    root cannot escape it. Other schemes (s3://...) compare the full
    uri lexically, letting operators allow object-store prefixes
    explicitly. A configured root of ``/`` allows any absolute local
    path (explicit opt-in to the whole filesystem); an empty-string
    root stays inert so the empty-tuple deny-all default can't be
    weakened by accident.
    """
    import os

    if ".." in uri:
        return False
    p = uri
    if p.startswith("file:"):
        p = p[len("file:") :]
        if p.startswith("//"):
            p = p[2:]
            if not p.startswith("/"):  # authority component: file://host/x
                host, _, rest = p.partition("/")
                if host.partition(":")[0].lower() != "localhost":
                    return False
                p = "/" + rest
        # file:/x already reads as /x
    is_local = p.startswith("/")
    if is_local:
        p = os.path.realpath(p)
    for root in roots:
        r = root.rstrip("/")
        if not r:
            if root and is_local:  # root "/": any absolute path
                return True
            continue
        if is_local and r.startswith("/"):
            r = os.path.realpath(r)
        if p == r or p.startswith(r + "/"):
            return True
    return False


def _canonical_local_uri(uri: str) -> str:
    """Realpath-canonicalize a local/file: uri; non-local uris unchanged.

    TOCTOU closure for the allowlist: ``_path_within_roots`` checks the
    REALPATH at translate time (GetFlightInfo), but the stateless ticket
    executes at DoGet — a symlink under an allowed root retargeted
    between the two would otherwise escape the check. Rendering the
    canonicalized path into the executed SQL makes the read target the
    same inode path that was checked. Mirrors the scheme-stripping in
    ``_path_within_roots`` (its authority rejection has already run).
    """
    import os

    p = uri
    if p.startswith("file:"):
        p = p[len("file:") :]
        if p.startswith("//"):
            p = p[2:]
            if not p.startswith("/"):
                p = "/" + p.partition("/")[2]
    if not p.startswith("/"):
        return uri
    return os.path.realpath(p)


#: per-translation registry of extension_table resolvers, set by
#: ``substrait_to_sql``: maps an Any ``type_url`` to a callable
#: ``(type_url, detail_bytes, declared_cols) -> FROM-able SQL fragment``.
#: None/empty (the default) rejects every extension_table by name.
_EXTENSION_TABLE_HANDLERS: ContextVar[dict | None] = ContextVar(
    "_EXTENSION_TABLE_HANDLERS", default=None
)


def _extension_table_state(ext: bytes, cols: list[str]) -> "_State":
    """ReadRel.extension_table → embedder-resolved FROM fragment.

    The reference consumes extension_table natively because its embedders
    register DataFusion TableProviders ahead of time — the payload is a
    ``google.protobuf.Any`` only the embedder can interpret
    (service.rs:1018-1029 delegates to DataFusion's consumer, which
    dispatches on the Any's type_url). The Spark analogue: the embedder
    registers per-type_url RESOLVERS
    (``FlightSqlServiceConfig.substrait_extension_tables`` /
    ``substrait_to_sql(extension_table_handlers=...)``) mapping the
    opaque detail bytes to a FROM-able SQL fragment — a registered temp
    view, a ``format.`path``` direct read, a catalog table. Resolvers
    must be PLAN-ONLY (no Spark jobs, no blocking I/O): they run inside
    GetFlightInfo, which clients use as a cheap schema probe. With no
    handler for the type_url (and under the default empty registry) the
    named rejection stands: the payload is meaningless without one.

    The declared base schema binds the resolved relation BY NAME (same
    discipline as local_files), so a resolver returning a wider or
    reordered view cannot shift field-reference indexes.
    """
    handlers = _EXTENSION_TABLE_HANDLERS.get() or {}
    if not isinstance(ext, bytes):
        raise SubstraitMalformed("extension_table with wrong wire type")
    ef = _fields(ext)
    detail = _one(ef, 1)
    if not isinstance(detail, bytes):
        raise SubstraitMalformed("extension_table without a detail Any")
    af = _fields(detail)
    raw_url = _one(af, 1)
    if not isinstance(raw_url, bytes):
        raise SubstraitMalformed("extension_table Any without a type_url")
    type_url = _utf8(raw_url, "extension_table type_url")
    value = _one(af, 2)
    if not isinstance(value, bytes):
        value = b""
    handler = handlers.get(type_url)
    if handler is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: ReadRel extension_table with type_url "
            f"{type_url!r} has no registered resolver (server opt-in: "
            f"FlightSqlServiceConfig.substrait_extension_tables)"
        )
    if not cols:
        raise SubstraitUnsupported(
            "Substrait consumer: extension_table requires a declared base "
            "schema (column names bind the resolved relation)"
        )
    frag = handler(type_url, value, list(cols))
    if not isinstance(frag, str) or not frag.strip():
        raise SubstraitMalformed(
            f"extension_table resolver for {type_url!r} returned "
            f"{type(frag).__name__}, expected a FROM-able SQL fragment"
        )
    proj = ", ".join(_quote(c) for c in cols)
    return _subquery_state(f"SELECT {proj} FROM {frag}", cols, "xt")


def _local_files_state(lf: bytes, cols: list[str]) -> "_State":
    """ReadRel.local_files → FROM over Spark's direct-path table syntax.

    Parity target: DataFusion's consumer reads LocalFiles natively
    (service.rs:1018-1029 reaches the full DataFusion substrait consumer).
    Spark SQL reads a concrete path as ``parquet.`uri``` / ``orc.`uri```;
    multiple items union by NAME against the declared base schema, so the
    plan's column order is authoritative regardless of per-file layouts.

    Byte-range splits (start/length — the per-task file slices a
    DISTRIBUTED producer emits, one FileOrFiles item per scan task): a
    Spark table read has no partial-byte-range form, but when a file's
    splits together tile the WHOLE file — contiguous from offset 0 to the
    stat'd file size — they are exactly one whole-file read and consume
    as such (relations are unordered, so per-split emission order does
    not matter). Partial or overlapping coverage, and ranges on
    non-local URIs (which cannot be stat-verified), keep the named
    rejection rather than silently dropping or double-reading bytes.
    ``partition_index`` is placement metadata with no relational effect
    and is ignored.

    Filesystem caveat: the tiling check stats the uri on the SERVER'S
    local filesystem, while the rendered ``format.`uri``` read resolves
    it against Spark's default Hadoop filesystem — the two agree exactly
    when the default FS is the local one (file:///), which is the only
    deployment where serving local paths to Flight clients makes sense
    at all (the allowlist check shares the same assumption). Under an
    HDFS/S3 default FS, schemeless ranged uris reject (the local stat
    misses) rather than verifying against the wrong file.
    """
    import os

    if not cols:
        raise SubstraitUnsupported(
            "Substrait consumer: local_files requires a declared base "
            "schema for column names"
        )
    items = _fields(lf).get(1, [])
    if not items:
        raise SubstraitMalformed("local_files with no items")
    selects: list[str] = []
    #: uri → (fmt, [(start, length), ...]) for items carrying byte ranges
    ranged: dict[str, tuple[str, list[tuple[int, int]]]] = {}
    proj = ", ".join(_quote(c) for c in cols)
    for _, item in items:
        itf = _fields(item)
        fmt = next((v for n, v in _LOCAL_FILE_FORMATS.items() if n in itf), None)
        if fmt is None:
            present = [n for n in itf if n in (10, 12, 13, 14)]
            raise SubstraitUnsupported(
                f"Substrait consumer: local_files format (fields {present}) "
                f"is not supported (parquet and orc only)"
            )
        path_arm = next((n for n in (1, 2, 3, 4) if n in itf), None)
        if path_arm is None:
            raise SubstraitMalformed("local_files item without a path")
        raw = _one(itf, path_arm)
        if not isinstance(raw, bytes):
            raise SubstraitMalformed("local_files path with wrong wire type")
        uri = _utf8(raw, "local_files path")
        if "`" in uri:
            raise SubstraitMalformed("local_files path contains a backtick")
        roots = _LOCAL_FILES_ROOTS.get()
        if roots is not None:
            if not _path_within_roots(uri, roots):
                raise SubstraitUnsupported(
                    f"Substrait consumer: local_files path {uri!r} is "
                    f"outside the configured allowlist roots (server "
                    f"opt-in: "
                    f"FlightSqlServiceConfig.substrait_local_files_roots)"
                )
            # execute the CHECKED target, not the original symlink
            uri = _canonical_local_uri(uri)
            if "`" in uri:
                raise SubstraitMalformed(
                    "local_files path resolves to a backtick"
                )
        start = _varint_one(itf, 7, 0)
        length = _varint_one(itf, 8, 0)
        if start or length:
            prev = ranged.setdefault(uri, (fmt, []))
            if prev[0] != fmt:
                raise SubstraitMalformed(
                    f"local_files splits of {uri!r} declare differing formats"
                )
            prev[1].append((start, length))
        else:
            selects.append(f"SELECT {proj} FROM {fmt}.`{uri}`")
    for uri, (fmt, ranges) in ranged.items():
        path = _stat_local_path(uri)
        size = (
            os.path.getsize(path)
            if path is not None and os.path.isfile(path)
            else None
        )
        if size is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: local_files byte-range splits of "
                f"{uri!r} cannot be verified as whole-file coverage (not a "
                f"stat-able local file)"
            )
        ranges.sort()
        pos = 0
        for rstart, rlength in ranges:
            if rstart != pos or rlength <= 0:
                raise SubstraitUnsupported(
                    f"Substrait consumer: local_files byte-range splits of "
                    f"{uri!r} do not tile the whole file (gap/overlap at "
                    f"offset {pos}); partial reads have no Spark SQL form"
                )
            pos = rstart + rlength
        if pos != size:
            raise SubstraitUnsupported(
                f"Substrait consumer: local_files byte-range splits of "
                f"{uri!r} cover {pos} of {size} bytes; partial reads have "
                f"no Spark SQL form"
            )
        selects.append(f"SELECT {proj} FROM {fmt}.`{uri}`")
    if len(selects) == 1:
        return _subquery_state(selects[0], cols, "lf")
    return _subquery_state(" UNION ALL ".join(selects), cols, "lf")


def _stat_local_path(uri: str) -> str | None:
    """Filesystem path for a local uri (plain or any ``file:`` spelling),
    or None for other schemes."""
    if uri.startswith("file:"):
        p = uri[len("file:") :]
        if p.startswith("//"):
            p = p[2:]
            if not p.startswith("/"):  # authority component
                p = "/" + p.split("/", 1)[1] if "/" in p else ""
        return p or None
    if "://" in uri:
        return None
    return uri


def _read_rel(
    read: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """ReadRel → initial state (FROM clause, base columns, read filters)."""
    f = _fields(read)
    mask: tuple[list[tuple[int, object]], bool] | None = None
    if 4 in f:
        # ReadRel.projection (MaskExpression{select=1 StructSelect{
        # struct_items=1 repeated StructItem{field=1, child=2 Select}},
        # maintain_singular_struct=2}) — the column pruning DataFusion's
        # producer pushes into the read. Flat items narrow the column
        # list; nested struct selections (round-6 late) render
        # NAMED_STRUCT sub-projections against the typed base schema.
        mf = _fields(_one(f, 4))
        sel = _one(mf, 1)
        if sel is None:
            raise SubstraitUnsupported(
                "Substrait consumer: ReadRel mask projection without a "
                "StructSelect is not supported"
            )
        items = _struct_select_items(sel)
        mask = (items, bool(_varint_one(mf, 2, 0)))
    cols: list[str] = []
    tree: "list[_SchemaNode] | None" = None
    base_schema = _one(f, 2)
    if base_schema is not None:
        bs = _fields(base_schema)
        names = _strings(bs, 1)  # NamedStruct.names (flat, depth-first)
        st = _one(bs, 2)  # NamedStruct.struct (Type.Struct)
        if st is not None:
            # typed schema: names flatten depth-first over nested structs
            # (type.proto NamedStruct contract), so the TOP-LEVEL columns
            # are recovered by walking the type tree — without this, a
            # schema containing a struct column would mis-index every
            # field reference after it
            tree = _schema_tree(names, st)
            cols = [n.name for n in tree]
        else:
            cols = names

    ext = _one(f, 8)
    if ext is not None:
        state = _extension_table_state(ext, cols)
        for num in (3, 11):
            cond = _one(f, num)
            if cond is not None:
                state.where.append(_expr_to_sql(cond, cols, funcs, outer=outer))
        return _apply_read_mask(state, mask, tree)

    lf = _one(f, 6)
    if lf is not None:
        state = _local_files_state(lf, cols)
        for num in (3, 11):
            cond = _one(f, num)
            if cond is not None:
                state.where.append(_expr_to_sql(cond, cols, funcs, outer=outer))
        return _apply_read_mask(state, mask, tree)

    vt = _one(f, 5)
    if vt is not None:
        # VirtualTable{values=1 repeated Literal.Struct{fields=1}} →
        # inline VALUES (the literal rowsets DataFusion's producer emits).
        # The expression form (VirtualTable.expressions) stays rejected.
        vf = _fields(vt)
        if 2 in vf:
            raise SubstraitUnsupported(
                "Substrait consumer: virtual_table expression rows are not "
                "supported (literal values only)"
            )
        rows = []
        for _, struct_bytes in vf.get(1, []):
            lits = [
                _literal_to_sql(v)
                for _, v in _fields(struct_bytes).get(1, [])
            ]
            if not lits:
                raise SubstraitMalformed("virtual_table row with no fields")
            rows.append("(" + ", ".join(lits) + ")")
        if not rows:
            raise SubstraitMalformed("virtual_table with no rows")
        if not cols:
            raise SubstraitUnsupported(
                "Substrait consumer: virtual_table requires a declared "
                "base schema for column names"
            )
        table = (
            f"VALUES {', '.join(rows)} AS `v`"
            f"({', '.join(_quote(c) for c in cols)})"
        )
        state = _State(table, cols)
        for num in (3, 11):
            cond = _one(f, num)
            if cond is not None:
                state.where.append(_expr_to_sql(cond, cols, funcs, outer=outer))
        return _apply_read_mask(state, mask, tree)

    named = _one(f, 7)
    if named is None:
        raise SubstraitUnsupported(
            "Substrait consumer: ReadRel without named_table is not supported"
        )
    names = _strings(_fields(named), 1)
    if not names:
        raise SubstraitMalformed("NamedTable carries no name")
    table = ".".join(_quote(n) for n in names)
    state = _State(table, cols)
    # ReadRel.filter (3) is a required filter; best_effort_filter (11) MAY
    # be applied — applying it is always spec-valid, so both land in WHERE.
    # Filters reference the UNMASKED base schema (they apply before the
    # projection mask narrows the output).
    for num in (3, 11):
        cond = _one(f, num)
        if cond is not None:
            state.where.append(_expr_to_sql(cond, cols, funcs, outer=outer))
    return _apply_read_mask(state, mask, tree)


class _SchemaNode:
    """One top-level or struct-nested field of a typed base schema.

    ``nested_names`` holds EVERY name the field consumes below its own in
    the flat depth-first NamedStruct list — including names under list/
    map element structs, which are not addressable columns but do occupy
    name slots (needed to consume RelRoot's equally-flattened names)."""

    __slots__ = ("name", "children", "nested_names")

    def __init__(
        self,
        name: str,
        children: "list[_SchemaNode] | None",
        nested_names: list[str] | None = None,
    ):
        self.name = name
        self.children = children
        self.nested_names = nested_names or []


def _schema_tree(names: list[str], struct_bytes: bytes) -> list["_SchemaNode"]:
    """NamedStruct (flat depth-first ``names`` + ``Type.Struct``) → the
    top-level field nodes, with struct children attached recursively.

    Structs nested inside list/map element types consume names too (the
    spec flattens EVERY struct field), but carry no addressable column —
    their names are consumed and discarded.
    """
    pos = 0

    def take_name() -> str:
        nonlocal pos
        if pos >= len(names):
            raise SubstraitMalformed(
                f"NamedStruct declares fewer names ({len(names)}) than its "
                f"struct has fields"
            )
        name = names[pos]
        pos += 1
        return name

    def type_arm(ty: bytes) -> tuple[int, dict]:
        tf = _fields(ty)
        arms = [n for n in tf]
        if len(arms) != 1:
            raise SubstraitMalformed(
                f"schema Type message with arms {sorted(arms)}"
            )
        return arms[0], tf

    def consume_nameless(ty: bytes) -> None:
        # structs under list/map elements: names consumed, not addressable
        arm, tf = type_arm(ty)
        if arm == 25:  # Type.struct
            for _, child in _fields(_one(tf, 25)).get(1, []):
                take_name()
                consume_nameless(child)
        elif arm == 27:  # Type.list{type=1}
            elem = _one(_fields(_one(tf, 27)), 1)
            if elem is not None:
                consume_nameless(elem)
        elif arm == 28:  # Type.map{key=1, value=2}
            mf = _fields(_one(tf, 28))
            for n in (1, 2):
                part = _one(mf, n)
                if part is not None:
                    consume_nameless(part)

    def build(st: bytes) -> list[_SchemaNode]:
        nodes: list[_SchemaNode] = []
        for _, ty in _fields(st).get(1, []):  # Type.Struct.types
            name = take_name()
            start = pos
            arm, tf = type_arm(ty)
            children: list[_SchemaNode] | None = None
            if arm == 25:
                children = build(_one(tf, 25))
            elif arm in (27, 28):
                # structs nested in the container consume names too
                consume_nameless(ty)
            nodes.append(_SchemaNode(name, children, names[start:pos]))
        return nodes

    tree = build(struct_bytes)
    if pos != len(names):
        raise SubstraitMalformed(
            f"NamedStruct declares {len(names)} names for {pos} struct fields"
        )
    return tree


def _struct_select_items(sel: bytes) -> list[tuple[int, object]]:
    """StructSelect bytes → [(field_index, child_Select_bytes | None)]."""
    items: list[tuple[int, object]] = []
    for _, item in _fields(sel).get(1, []):
        itf = _fields(item)
        child = _one(itf, 2)
        if child is not None and not isinstance(child, bytes):
            raise SubstraitMalformed("mask child selection with wrong wire type")
        items.append((_varint_one(itf, 1, 0), child))
    if not items:
        raise SubstraitMalformed("ReadRel mask with no struct items")
    return items


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _mask_parts(
    parent_sql: str | None,
    nodes: list["_SchemaNode"],
    items: list[tuple[int, object]],
    maintain: bool,
) -> list[tuple[str, str, list[str], "_SchemaNode"]]:
    """Mask items over schema nodes → [(output name, SQL expression,
    flattened nested names of the output column, the output's schema
    node — structure retained for the root's nested-rename rebuild)].

    A nested struct selection renders ``NAMED_STRUCT('f', col.f, …)`` over
    the selected subfields in mask order; with
    ``maintain_singular_struct=false`` (the spec default) a
    single-subfield selection collapses to the subfield value itself.
    """
    parts: list[tuple[str, str, list[str], _SchemaNode]] = []
    for idx, child in items:
        if idx < 0 or idx >= len(nodes):
            raise SubstraitMalformed(
                f"mask index {idx} out of range for {len(nodes)}-field struct"
            )
        node = nodes[idx]
        base = (
            _quote(node.name)
            if parent_sql is None
            else f"{parent_sql}.{_quote(node.name)}"
        )
        if child is None:
            parts.append((node.name, base, list(node.nested_names), node))
            continue
        cf = _fields(child)
        ss = _one(cf, 1)  # Select.struct
        if ss is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: ReadRel mask child selection arms "
                f"{sorted(cf)} are not supported (struct selections only — "
                f"list/map slices have no static column form)"
            )
        if node.children is None:
            raise SubstraitMalformed(
                f"nested mask selection into non-struct field {node.name!r}"
            )
        sub = _mask_parts(
            base, node.children, _struct_select_items(ss), maintain
        )
        if len(sub) == 1 and not maintain:
            parts.append((node.name, sub[0][1], sub[0][2], sub[0][3]))
        else:
            inner = ", ".join(f"{_sql_str(n)}, {e}" for n, e, _, _ in sub)
            nested = [x for n, _, sn, _ in sub for x in (n, *sn)]
            children = [
                _SchemaNode(n, p.children, list(p.nested_names))
                for n, _, _, p in sub
            ]
            parts.append(
                (
                    node.name,
                    f"NAMED_STRUCT({inner})",
                    nested,
                    _SchemaNode(node.name, children, nested),
                )
            )
    return parts


def _apply_read_mask(
    state: _State,
    mask: "tuple[list[tuple[int, object]], bool] | None",
    tree: "list[_SchemaNode] | None",
) -> _State:
    """Narrow the read's output to the mask's column subset. Flat masks
    just narrow the column list (the WHERE clauses keep referencing
    base-schema names, still in scope); nested struct selections render a
    sub-projection derived table against the typed schema tree."""
    if tree is not None and len(tree) == len(state.cols):
        state.col_trees = [list(n.nested_names) for n in tree]
        state.col_nodes = list(tree)
    if mask is None:
        return state
    items, maintain = mask
    if not state.cols:
        raise SubstraitUnsupported(
            "Substrait consumer: ReadRel mask projection requires a "
            "declared base schema"
        )
    if all(child is None for _, child in items):
        try:
            state.cols = [state.cols[i] for i, _ in items]
            if state.col_trees is not None:
                state.col_trees = [state.col_trees[i] for i, _ in items]
            if state.col_nodes is not None:
                state.col_nodes = [state.col_nodes[i] for i, _ in items]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"ReadRel mask index out of range for "
                f"{len(state.cols)}-column schema"
            ) from exc
        return state
    if tree is None:
        raise SubstraitUnsupported(
            "Substrait consumer: nested ReadRel mask selections require "
            "base-schema struct types (NamedStruct.struct)"
        )
    parts = _mask_parts(None, tree, items, maintain)
    names = _dedup_aliases([n for n, _, _, _ in parts])
    state.select_exprs = [e for _, e, _, _ in parts]
    state.cols = names
    return _subquery_state(
        _render_sql(state, []),
        names,
        "m",
        [sn for _, _, sn, _ in parts],
        [p[3] for p in parts],
    )


def _emit_mapping(common: bytes | None) -> list[int] | None:
    """RelCommon → emit output_mapping (None = direct emit)."""
    if common is None:
        return None
    f = _fields(common)
    emit = _one(f, 2)
    if emit is None:
        return None
    return _packed_ints(_fields(emit), 1)


#: aggregate functions consumed by the aggregate subset → SQL names
#: (std_dev/variance names from substrait functions_arithmetic.yaml; the
#: sample form is the yaml default, the population form its option)
_AGG_FUNCS = {
    "sum": "SUM",
    "min": "MIN",
    "max": "MAX",
    "avg": "AVG",
    "count": "COUNT",
    "std_dev": "STDDEV_SAMP",
    "variance": "VAR_SAMP",
    "string_agg": "LISTAGG",  # functions_string.yaml; the one sorted agg
    # round-5 late widening — names from the standard extension yamls with
    # call-compatible Spark aggregates (DISTINCT/FILTER compose generically)
    "bool_and": "BOOL_AND",  # functions_boolean.yaml
    "bool_or": "BOOL_OR",
    "median": "MEDIAN",  # functions_arithmetic.yaml
    "approx_count_distinct": "APPROX_COUNT_DISTINCT",  # …_approx.yaml
}

#: AggregationInvocation enum (algebra.proto): ALL renders plainly,
#: DISTINCT prefixes the argument.
_INVOCATION_ALL, _INVOCATION_DISTINCT = 1, 2

#: Aggregates whose intermediate state is their own output type, keyed to
#: the SQL function that MERGES partial states — the name-swap phase-split
#: subset (sum/min/max merge with themselves; partial counts merge by
#: summing). avg/std_dev/variance phase-split through struct states and
#: DISTINCT through set states — see ``_render_phase_split``.
_PHASE_SPLIT_MERGE = {"sum": "SUM", "min": "MIN", "max": "MAX", "count": "SUM"}


def _distinct_fold_type(sig: str | None, name: str) -> str | None:
    """Spark accumulator type for folding a DISTINCT set back into a
    sum/avg, recovered from the extension declaration's compound-name
    argument signature (``sum:i64`` → BIGINT; the declared intermediate
    is ``List<T>`` with the same ``T``). ``None`` = unrecoverable."""
    if not sig:
        return None
    base = sig.strip().lower()
    if base in ("i8", "i16", "i32", "i64"):
        return "BIGINT"  # Spark's integral SUM/AVG accumulator width
    if base in ("fp32", "fp64"):
        return "DOUBLE"
    m = re.match(r"^dec(?:<(\d+),(-?\d+)>)?$", base)
    if m and name in ("sum", "avg"):
        p = int(m.group(1)) if m.group(1) else 38
        s = int(m.group(2)) if m.group(2) else 18
        if 0 <= s <= p:
            # Spark's SUM/AVG(DECIMAL(p,s)) accumulator: p+10 capped at 38
            return f"DECIMAL({min(38, p + 10)},{s})"
    return None


def _distinct_avg_result_type(sig: str | None) -> str | None:
    """Spark's AVG result type for a decimal argument signature
    (``DecimalType.bounded(p + 4, s + 4)``), or ``None`` for the
    non-decimal signatures whose AVG is DOUBLE."""
    m = re.match(r"^dec(?:<(\d+),(-?\d+)>)?$", (sig or "").strip().lower())
    if not m:
        return None
    p = int(m.group(1)) if m.group(1) else 38
    s = int(m.group(2)) if m.group(2) else 18
    rp = min(38, p + 4)
    return f"DECIMAL({rp},{min(rp, s + 4)})"


def _render_phase_split(
    name: str, phase: int, distinct: bool, arg_sql: str | None,
    flt_sql: str | None, sig: str | None = None,
) -> str | None:
    """Render a struct-/set-state phase-split measure, or return ``None``
    when the plain name-swap path (`_PHASE_SPLIT_MERGE`, ALL invocation)
    applies; raise for combinations with no SQL rendering.

    State contracts (self-describing named structs / arrays, so a plan's
    partial half and merge half agree without out-of-band type info —
    the reference reaches full phase support through DataFusion's native
    accumulator states, datafusion-flight-sql-server/src/service.rs:1018-1029;
    here each state must round-trip through a column):

    - ``avg`` → ``STRUCT<sum, count BIGINT>`` (DataFusion's avg
      accumulator is the same (sum, count) pair); merge divides summed
      sums by summed counts.
    - ``std_dev``/``variance`` → ``STRUCT<n BIGINT, mean DOUBLE,
      m2 DOUBLE>`` (Welford state); merge uses the parallel-variance
      identity m2 = Σm2ᵢ + Σnᵢ·meanᵢ² − (Σnᵢ·meanᵢ)²/Σnᵢ.
    - DISTINCT ``count``/``min``/``max`` → ``ARRAY<T>`` (the distinct
      set); merge distinct-unions the arrays. DISTINCT ``sum``/``avg``
      fold the merged set with the accumulator type recovered from the
      compound-name signature (``_distinct_fold_type``) — integral,
      floating, and (round 10) decimal signatures all fold; only a
      bare name (no declared argument type) still rejects.

    ``flt_sql`` (Measure.filter, over the phase's input rows) is folded
    into every internal aggregate call — a trailing generic FILTER clause
    would be invalid SQL against a struct-building measure.
    """

    def agg(call: str) -> str:
        return f"{call} FILTER (WHERE {flt_sql})" if flt_sql else call

    if distinct:
        fold_t = (
            _distinct_fold_type(sig, name) if name in ("sum", "avg") else None
        )
        if name not in ("count", "min", "max") and fold_t is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: DISTINCT {name!r} cannot phase-split "
                f"(set-valued state folds back for count/min/max always, "
                f"and for sum/avg when the extension declaration's compound "
                f"name carries the argument type — e.g. 'sum:i64'"
                + (f"; got signature {sig!r}" if sig else "; got a bare name")
                + ")"
            )
        if arg_sql is None:
            raise SubstraitMalformed(f"DISTINCT {name} without an argument")
        if phase == 1:
            # COLLECT_SET skips nulls — matching the null-skipping
            # semantics of DISTINCT aggregates.
            return agg(f"COLLECT_SET({arg_sql})")
        merged = (
            f"ARRAY_DISTINCT(FLATTEN({agg(f'COLLECT_LIST({arg_sql})')}))"
        )
        if phase == 2:
            return merged
        if name == "count":
            return f"CAST(SIZE({merged}) AS BIGINT)"
        if name in ("sum", "avg"):
            # Fold the merged distinct set back through + with the
            # accumulator type recovered from the declared List<T>
            # element type: seed with the first element (empty set →
            # NULL, matching SQL SUM/AVG over zero rows; TRY_ELEMENT_AT
            # stays NULL-returning under ANSI) and fold the rest.
            seed = f"CAST(TRY_ELEMENT_AT({merged}, 1) AS {fold_t})"
            rest = f"SLICE({merged}, 2, GREATEST(SIZE({merged}) - 1, 0))"
            total = (
                f"AGGREGATE({rest}, {seed}, "
                f"(acc, x) -> CAST(acc + CAST(x AS {fold_t}) AS {fold_t}))"
            )
            if name == "sum":
                return total
            dec_avg = _distinct_avg_result_type(sig)
            if dec_avg is not None:
                # Mirror Spark's own Average typing for decimals exactly:
                # divide the exact DECIMAL(p+10,s) fold by the count cast
                # to DECIMAL(20,0) (Average divides by count.cast(
                # LongDecimal)), then cast to bounded (p+4, s+4) — so the
                # two-phase value matches one-phase AVG(DISTINCT) bitwise.
                return (
                    f"CASE WHEN SIZE({merged}) > 0 "
                    f"THEN CAST({total} / CAST(SIZE({merged}) AS "
                    f"DECIMAL(20,0)) AS {dec_avg}) END"
                )
            return (
                f"CASE WHEN SIZE({merged}) > 0 "
                f"THEN CAST({total} AS DOUBLE) / SIZE({merged}) END"
            )
        return f"ARRAY_{name.upper()}({merged})"

    if name == "avg":
        if arg_sql is None:
            raise SubstraitMalformed("avg without an argument")
        if phase == 1:
            return (
                f"NAMED_STRUCT('sum', {agg(f'SUM({arg_sql})')}, "
                f"'count', {agg(f'COUNT({arg_sql})')})"
            )
        s, c = f"{arg_sql}.`sum`", f"{arg_sql}.`count`"
        if phase == 2:
            return (
                f"NAMED_STRUCT('sum', {agg(f'SUM({s})')}, "
                f"'count', {agg(f'SUM({c})')})"
            )
        # zero-count guard: an all-NULL group (every partial count 0)
        # must yield NULL, not a division — under ANSI mode (Spark 4's
        # default) an unguarded /0 raises DIVIDE_BY_ZERO.
        return (
            f"CASE WHEN {agg(f'SUM({c})')} > 0 "
            f"THEN {agg(f'SUM({s})')} / {agg(f'SUM({c})')} END"
        )

    if name in ("std_dev", "variance"):
        if arg_sql is None:
            raise SubstraitMalformed(f"{name} without an argument")
        if phase == 1:
            x = f"CAST({arg_sql} AS DOUBLE)"
            n = agg(f"COUNT({arg_sql})")
            # all-null partial: mean/m2 coalesce to 0 weighted by n=0, so
            # the state contributes nothing to any merge sum
            mean = f"COALESCE({agg(f'AVG({x})')}, CAST(0 AS DOUBLE))"
            m2 = (
                f"COALESCE({n} * {agg(f'VAR_POP({x})')}, "
                f"CAST(0 AS DOUBLE))"
            )
            return f"NAMED_STRUCT('n', {n}, 'mean', {mean}, 'm2', {m2})"
        sn = f"{arg_sql}.`n`"
        sm = f"{arg_sql}.`mean`"
        n = agg(f"SUM({sn})")
        wsum = agg(f"SUM({sn} * {sm})")
        # GREATEST clamp: the parallel-variance identity cancels two
        # near-equal sums, so floating point can leave m2 a tiny negative
        # on near-constant data — VAR would go negative and SQRT(var)
        # NaN, where single-phase STDDEV_SAMP returns ~0.
        m2 = (
            f"GREATEST(({agg(f'SUM({arg_sql}.`m2`)')} + "
            f"{agg(f'SUM({sn} * {sm} * {sm})')} - "
            f"CASE WHEN {n} > 0 THEN ({wsum} * {wsum}) / {n} "
            f"ELSE CAST(0 AS DOUBLE) END), CAST(0 AS DOUBLE))"
        )
        if phase == 2:
            mean = (
                f"CASE WHEN {n} > 0 THEN {wsum} / {n} "
                f"ELSE CAST(0 AS DOUBLE) END"
            )
            return f"NAMED_STRUCT('n', {n}, 'mean', {mean}, 'm2', {m2})"
        # sample forms — the substrait yaml default (population is an
        # option this consumer does not yet parse, same as single-phase)
        var = f"CASE WHEN {n} > 1 THEN {m2} / ({n} - 1) END"
        return f"SQRT({var})" if name == "std_dev" else var

    merge_fn = _PHASE_SPLIT_MERGE.get(name)
    if merge_fn is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: partial aggregation phase {phase} for "
            f"{name!r} is not supported (sum/min/max/count/avg/std_dev/"
            f"variance, plus DISTINCT count/min/max)"
        )
    return None


def _aggregate_rel(
    body: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """AggregateRel → grouped state (single grouping, sum/min/max/avg/count
    measures, optional per-measure FILTER clause, RelCommon emit remap).

    algebra.proto field numbers: common=1, input=2, groupings=3,
    measures=4, grouping_expressions=5; Grouping.grouping_expressions=1
    (pre-0.30 producers) / Grouping.expression_references=2 (newer, indexes
    into the rel-level grouping_expressions); Measure.measure=1 (an
    AggregateFunction: function_reference=1, deprecated args=2, sorts=3,
    phase=4, invocation=6, arguments=7) / Measure.filter=2.
    """
    f = _fields(body)
    inp = _one(f, 2)
    if inp is None:
        raise SubstraitMalformed("AggregateRel without input")
    state = _interpret_rel(inp, funcs, outer)
    if state.select_exprs is not None or state.limit is not None or state.order:
        # clause-bearing input — an inner aggregate/projection/sort/fetch:
        # finish it as a derived table so this aggregate composes above.
        # Phase-split distributed plans are exactly
        # Aggregate(merge)-above-Aggregate(partial) (round 6, VERDICT r5 #5).
        state = _finished(state, "ag")

    rel_group_exprs = [v for _, v in f.get(5, [])]

    def grouping_indexes(g: bytes) -> list[int]:
        gf = _fields(g)
        direct = [v for _, v in gf.get(1, [])]  # deprecated inline exprs
        refs = _packed_ints(gf, 2)  # references into rel_group_exprs
        if direct and refs:
            raise SubstraitMalformed(
                "Grouping carries both inline expressions and references"
            )
        exprs = direct
        if refs:
            try:
                exprs = [rel_group_exprs[i] for i in refs]
            except IndexError as exc:
                raise SubstraitMalformed(
                    f"grouping expression reference out of range "
                    f"({len(rel_group_exprs)} declared)"
                ) from exc
        return [_field_ref_index(e) for e in exprs]

    groupings = [grouping_indexes(g) for _, g in f.get(3, [])]
    # union of grouping columns in first-appearance order — the output
    # schema the spec prescribes for multi-set aggregates
    union_idx: list[int] = []
    for g in groupings:
        for i in g:
            if i not in union_idx:
                union_idx.append(i)
    group_cols = [_col_at(state.cols, i) for i in union_idx]
    grouping_sets_sql: str | None = None
    set_id_sql: str | None = None
    if len(groupings) > 1:
        # GROUPING SETS: Spark's grouping_id(c1..ck) sets bit (k-1-i) when
        # column i is AGGREGATED (not in the row's set); each declared set
        # maps to a distinct mask, decoded back to the spec's appended
        # grouping-set index column
        k = len(union_idx)
        masks = []
        for g in groupings:
            mask = 0
            for pos, i in enumerate(union_idx):
                if i not in g:
                    mask |= 1 << (k - 1 - pos)
            masks.append(mask)
        if len(set(masks)) != len(masks):
            raise SubstraitUnsupported(
                "Substrait consumer: duplicate grouping sets are not "
                "supported (grouping_id cannot distinguish them)"
            )
        sets_sql = ", ".join(
            "(" + ", ".join(_quote(_col_at(state.cols, i)) for i in g) + ")"
            for g in groupings
        )
        grouping_sets_sql = f"GROUPING SETS ({sets_sql})"
        gid_args = ", ".join(_quote(c) for c in group_cols)
        branches = " ".join(
            f"WHEN {mask} THEN {idx}" for idx, mask in enumerate(masks)
        )
        set_id_sql = (
            f"(CASE GROUPING_ID({gid_args}) {branches} END)"
        )

    measures: list[tuple[str, str]] = []  # (sql, alias)
    for i, (_, m) in enumerate(f.get(4, [])):
        mf = _fields(m)
        fn = _one(mf, 1)
        if fn is None:
            raise SubstraitMalformed("Measure without aggregate function")
        af = _fields(fn)
        anchor = _varint_one(af, 1, 0)
        name = funcs.get(anchor)
        if name is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: aggregate function anchor {anchor} has "
                f"no extension declaration in the plan"
            )
        sql_fn = _AGG_FUNCS.get(name)
        if sql_fn is None:
            raise SubstraitUnsupported(
                f"Substrait consumer: aggregate function {name!r} is not in "
                f"the aggregate subset ({' '.join(sorted(_AGG_FUNCS))})"
            )
        sorts = af.get(3, [])
        if sorts and name != "string_agg":
            # LISTAGG ... WITHIN GROUP is Spark's only ordered aggregate;
            # sorts on any other function cannot be honored
            raise SubstraitUnsupported(
                "Substrait consumer: sorted aggregate functions are not "
                "supported (except string_agg -> LISTAGG WITHIN GROUP)"
            )
        phase = _varint_one(af, 4, 0)
        if phase not in (0, 1, 2, 3, 4):
            raise SubstraitUnsupported(
                f"Substrait consumer: unknown aggregation phase {phase}"
            )
        args: list[bytes] = []
        for _, arg in af.get(7, []):  # FunctionArgument
            av = _fields(arg)
            value = _one(av, 3)
            if value is None:
                raise SubstraitUnsupported(
                    f"Substrait consumer: non-expression aggregate argument "
                    f"for {name!r}"
                )
            args.append(value)
        if not args:  # deprecated AggregateFunction.args (field 2)
            args = [v for _, v in af.get(2, [])]
        invocation = _varint_one(af, 6, 0)
        distinct = invocation == _INVOCATION_DISTINCT
        if invocation not in (0, _INVOCATION_ALL, _INVOCATION_DISTINCT):
            raise SubstraitUnsupported(
                f"Substrait consumer: aggregate invocation {invocation} is "
                f"not supported"
            )
        flt = _one(mf, 2)  # Measure.filter: over the aggregate's INPUT
        flt_sql = (
            _expr_to_sql(flt, state.cols, funcs, outer=outer)
            if flt is not None
            else None
        )
        custom_render: str | None = None
        if phase in (1, 2, 4):
            # Phase-split consumption (AggregationPhase: 1 INITIAL_TO_
            # INTERMEDIATE, 2 INTERMEDIATE_TO_INTERMEDIATE, 4 INTERMEDIATE_
            # TO_RESULT — DataFusion's distributed producers emit 1/4 pairs
            # routinely). Two renderings: sum/min/max/count ALL merge by a
            # name swap below (their state IS their output type);
            # avg/std_dev/variance and DISTINCT count/min/max render
            # struct-/set-state measures via _render_phase_split.
            arg0_sql = (
                _quote(_col_at(state.cols, _field_ref_index(args[0])))
                if args
                else None
            )
            custom_render = _render_phase_split(
                name, phase, distinct, arg0_sql, flt_sql,
                sig=(_FUNC_SIGS.get() or {}).get(anchor),
            )
            if custom_render is None and phase in (2, 4):
                if name == "count" and not args and not af.get(2, []):
                    raise SubstraitMalformed(
                        "merge-phase count without the partial-count argument"
                    )
                sql_fn = _PHASE_SPLIT_MERGE[name]
        max_args = 2 if name == "string_agg" else 1
        if len(args) > max_args:
            raise SubstraitUnsupported(
                f"Substrait consumer: {name!r} with {len(args)} arguments is "
                f"not supported"
            )
        if custom_render is not None:
            rendered_fn = custom_render  # FILTER already folded in
        elif not args:
            if name != "count" or distinct:
                raise SubstraitMalformed(f"{name} without an argument")
            rendered_fn = "COUNT(*)"
        else:
            arg_sql = _quote(_col_at(state.cols, _field_ref_index(args[0])))
            call_args = arg_sql
            if name == "string_agg" and len(args) == 2:
                # separator must be a literal (Spark requires a foldable
                # delimiter)
                sep = _fields(args[1])
                if 1 not in sep:
                    raise SubstraitUnsupported(
                        "Substrait consumer: string_agg separator must be "
                        "a literal"
                    )
                call_args += f", {_literal_to_sql(_one(sep, 1))}"
            rendered_fn = (
                f"{sql_fn}(DISTINCT {call_args})"
                if distinct
                else f"{sql_fn}({call_args})"
            )
            if sorts:
                parts = []
                for _, sort_field in sorts:
                    sff = _fields(sort_field)
                    sexpr = _one(sff, 1)
                    if sexpr is None:
                        raise SubstraitMalformed("SortField without expression")
                    direction = _varint_one(sff, 2, 0)
                    sql_dir = _SORT_DIRECTIONS.get(direction)
                    if sql_dir is None:
                        raise SubstraitUnsupported(
                            f"Substrait consumer: sort direction {direction} "
                            f"is not supported"
                        )
                    scol = _quote(_col_at(state.cols, _field_ref_index(sexpr)))
                    parts.append(f"{scol} {sql_dir}")
                rendered_fn += (
                    f" WITHIN GROUP (ORDER BY {', '.join(parts)})"
                )
        if flt_sql is not None and custom_render is None:
            rendered_fn += f" FILTER (WHERE {flt_sql})"
        measures.append((rendered_fn, f"{name}_{i}"))

    if not group_cols and not measures:
        raise SubstraitMalformed("AggregateRel with no groupings or measures")

    # output schema = group columns ++ measures (spec order); with multiple
    # grouping sets, the spec appends a grouping-set index column
    exprs_out = [_quote(c) for c in group_cols] + [m[0] for m in measures]
    names_out = list(group_cols) + [m[1] for m in measures]
    if set_id_sql is not None:
        exprs_out.append(set_id_sql)
        names_out.append("grouping_set_id")
    aliases = _dedup_aliases(names_out)

    emit = _emit_mapping(_one(f, 1))
    if emit is not None:
        try:
            exprs_out = [exprs_out[i] for i in emit]
            aliases = [aliases[i] for i in emit]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"emit mapping {emit} out of range for {len(aliases)} columns"
            ) from exc

    if grouping_sets_sql is not None:
        state.group = [grouping_sets_sql]
    else:
        state.group = [_quote(c) for c in group_cols]
    state.select_exprs = exprs_out
    state.cols = aliases
    state.col_trees = None  # grouped output: nesting info not tracked
    state.col_nodes = None
    return state


def _dedup_aliases(aliases: list[str]) -> list[str]:
    """Suffix duplicate output names ``_1``, ``_2``, … (stable, in order).

    The suffix probe loops until the generated name collides with neither
    an already-emitted name nor any ORIGINAL name — [a, a, a_1] becomes
    [a, a_2, a_1], not the ambiguous [a, a_1, a_1]."""
    originals = set(aliases)
    used: set[str] = set()
    out: list[str] = []
    for alias in aliases:
        cand, n = alias, 0
        while cand in used or (n and cand in originals):
            n += 1
            cand = f"{alias}_{n}"
        used.add(cand)
        out.append(cand)
    return out


def _subquery_state(
    sql: str,
    cols: list[str],
    alias: str,
    col_trees: "list[list[str]] | None" = None,
    col_nodes: "list[_SchemaNode | None] | None" = None,
) -> _State:
    """Wrap a rendered SELECT as a derived table so any relation can
    compose above it (the single-SELECT clause accumulator restarts).
    Aliases like ``t0``/``j`` are reused at different nesting depths —
    SQL scoping shadows them, so no global counter is needed."""
    out = _State(f"({sql}) AS {_quote(alias)}", cols)
    out.col_trees = col_trees
    out.col_nodes = col_nodes
    return out


def _finished(state: _State, alias: str) -> _State:
    """Render ``state`` and restart clause accumulation above it.

    The single-SELECT accumulator cannot express a second round of the
    same clause (LIMIT below WHERE, ORDER below ORDER, LIMIT below
    LIMIT, anything above an aggregate's select list) — SQL can, via a
    derived table, so composition points call this instead of rejecting
    the plan (DataFusion's producer emits Project-above-Aggregate and
    Sort-above-Fetch routinely)."""
    return _subquery_state(
        _render_sql(state, []),
        state.cols,
        alias,
        state.col_trees,
        state.col_nodes,
    )


#: JoinRel.JoinType enum (algebra.proto) → SQL join clause. Output columns
#: are left++right except for the semi/anti forms (left only).
_JOIN_TYPES = {
    1: ("INNER JOIN", False),
    2: ("FULL OUTER JOIN", False),
    3: ("LEFT OUTER JOIN", False),
    4: ("RIGHT OUTER JOIN", False),
    5: ("LEFT SEMI JOIN", True),
    6: ("LEFT ANTI JOIN", True),
}


def _join_rel(
    body: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """JoinRel → derived-table state.

    algebra.proto field numbers: common=1, left=2, right=3, expression=4,
    post_join_filter=5, type=6. The join expression and post-join filter
    index into the concatenated left++right schema; both sides render as
    subqueries so their own WHERE/ORDER/LIMIT clauses never leak across
    the join (outer-join correctness), and the join itself wraps in a
    derived table with deduplicated output aliases so filters/aggregates/
    sorts compose above it.
    """
    f = _fields(body)
    left, right = _one(f, 2), _one(f, 3)
    if left is None or right is None:
        raise SubstraitMalformed("JoinRel without both inputs")
    jt = _varint_one(f, 6, 0)
    join_sql = _JOIN_TYPES.get(jt)
    if join_sql is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: join type {jt} is not supported "
            f"(inner/outer/left/right/left-semi/left-anti)"
        )
    clause, left_only = join_sql
    ls = _interpret_rel(left, funcs, outer)
    rs = _interpret_rel(right, funcs, outer)
    if not ls.cols or not rs.cols:
        raise SubstraitUnsupported(
            "Substrait consumer: JoinRel inputs must declare a read schema"
        )
    lsql, rsql = _render_sql(ls, []), _render_sql(rs, [])
    qualified = [f"{_quote('t0')}.{_quote(c)}" for c in ls.cols] + [
        f"{_quote('t1')}.{_quote(c)}" for c in rs.cols
    ]
    cond = _one(f, 4)
    if cond is None:
        raise SubstraitUnsupported(
            "Substrait consumer: JoinRel without a join expression is not "
            "supported"
        )
    cond_sql = _expr_to_sql(
        cond, qualified, funcs, rendered=True, outer=outer,
        level=_JoinConditionLevel(qualified, len(ls.cols)),
    )

    out_exprs = qualified[: len(ls.cols)] if left_only else list(qualified)
    out_names = list(ls.cols) if left_only else list(ls.cols) + list(rs.cols)
    emit = _emit_mapping(_one(f, 1))
    if emit is not None:
        try:
            out_exprs = [out_exprs[i] for i in emit]
            out_names = [out_names[i] for i in emit]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"emit mapping {emit} out of range for {len(out_names)} "
                f"columns"
            ) from exc
    out_names = _dedup_aliases(out_names)

    select = ", ".join(
        f"{expr} AS {_quote(alias)}" for expr, alias in zip(out_exprs, out_names)
    )
    sql = (
        f"SELECT {select} FROM ({lsql}) AS {_quote('t0')} {clause} "
        f"({rsql}) AS {_quote('t1')} ON {cond_sql}"
    )
    post = _one(f, 5)
    if post is not None:
        if left_only:
            raise SubstraitUnsupported(
                "Substrait consumer: post_join_filter on a semi/anti join "
                "is not supported (the right columns are not emitted)"
            )
        # the post filter renders as a WHERE over the joined rows — a
        # filter scope, where Spark allows correlated references to BOTH
        # sides (the left-only restriction applies to join predicates)
        post_sql = _expr_to_sql(
            post, qualified, funcs, rendered=True, outer=outer,
            level=_JoinConditionLevel(qualified, len(qualified)),
        )
        sql += f" WHERE {post_sql}"
    return _subquery_state(sql, out_names, "j")


def _cross_rel(
    body: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """CrossRel (common=1, left=2, right=3) → derived-table state."""
    f = _fields(body)
    left, right = _one(f, 2), _one(f, 3)
    if left is None or right is None:
        raise SubstraitMalformed("CrossRel without both inputs")
    ls = _interpret_rel(left, funcs, outer)
    rs = _interpret_rel(right, funcs, outer)
    if not ls.cols or not rs.cols:
        raise SubstraitUnsupported(
            "Substrait consumer: CrossRel inputs must declare a read schema"
        )
    lsql, rsql = _render_sql(ls, []), _render_sql(rs, [])
    qualified = [f"{_quote('t0')}.{_quote(c)}" for c in ls.cols] + [
        f"{_quote('t1')}.{_quote(c)}" for c in rs.cols
    ]
    out_names = _dedup_aliases(list(ls.cols) + list(rs.cols))
    emit = _emit_mapping(_one(f, 1))
    if emit is not None:
        try:
            qualified = [qualified[i] for i in emit]
            out_names = [out_names[i] for i in emit]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"emit mapping {emit} out of range for {len(out_names)} "
                f"columns"
            ) from exc
    select = ", ".join(
        f"{expr} AS {_quote(alias)}" for expr, alias in zip(qualified, out_names)
    )
    sql = (
        f"SELECT {select} FROM ({lsql}) AS {_quote('t0')} CROSS JOIN "
        f"({rsql}) AS {_quote('t1')}"
    )
    return _subquery_state(sql, out_names, "j")


#: SetRel.SetOp enum (algebra.proto) → SQL set operator (two inputs),
#: matched against the spec's per-row multiplicity table (m copies in the
#: primary, n in the secondary):
#:   MINUS_PRIMARY (1)             → 1 if m>0 and n=0 else 0   = EXCEPT
#:   INTERSECTION_MULTISET (4)     → 1 if m>0 and n>0 else 0   = INTERSECT
#:   UNION_DISTINCT (5)            → 1 if m+n>0                = UNION
#:   UNION_ALL (6)                 → m+n                       = UNION ALL
#:   MINUS_PRIMARY_ALL (7)         → max(m-n, 0)               = EXCEPT ALL
#:   INTERSECTION_MULTISET_ALL (8) → min(m, n)                 = INTERSECT ALL
_SET_OPS = {
    1: "EXCEPT",
    4: "INTERSECT",
    5: "UNION",
    6: "UNION ALL",
    7: "EXCEPT ALL",
    8: "INTERSECT ALL",
}

#: Keep-all presence arms: every primary copy survives (or is dropped)
#: based on whole-row presence in the secondary — m if n=0 else 0 for
#: MINUS_MULTISET (2), m if n>0 else 0 for INTERSECTION_PRIMARY (3). No
#: SQL set operator has that multiplicity; they render as a null-safe
#: whole-row NOT EXISTS / EXISTS instead.
_SET_PRESENCE = {2: "NOT EXISTS", 3: "EXISTS"}


def _set_rel(
    body: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """SetRel (common=1, inputs=2 repeated, op=3) → derived-table state.

    Two inputs only: the multi-input forms of the primary/multiset ops
    have counting semantics SQL set operators don't express pairwise.
    """
    f = _fields(body)
    inputs = [v for _, v in f.get(2, [])]
    opno = _varint_one(f, 3, 0)
    op = _SET_OPS.get(opno)
    presence = _SET_PRESENCE.get(opno)
    if op is None and presence is None:
        raise SubstraitUnsupported(
            f"Substrait consumer: set operation {opno} is not supported"
        )
    if len(inputs) > 2 and op is not None:
        # Every rendered arm left-folds to the spec's multi-input
        # multiplicity: UNION [ALL] is associative; EXCEPT chains give
        # "in primary and in no other" (and EXCEPT ALL max(m-Σn, 0),
        # since max(max(m-n1,0)-n2,0) = max(m-n1-n2,0)); INTERSECT chains
        # give "positive in all" (and INTERSECT ALL the running min). A
        # same-operator chain parses left-associative in SQL, which IS
        # the fold. Only the presence arms (2/3) stay 2-input: their
        # multi-input "present in the others" is an any/all ambiguity
        # the spec text does not settle.
        states = [_interpret_rel(i, funcs, outer) for i in inputs]
        widths = {len(s.cols) for s in states}
        if len(widths) != 1:
            raise SubstraitMalformed(
                f"SetRel inputs have differing column counts {sorted(widths)}"
            )
        sql = f" {op} ".join(f"({_render_sql(s, [])})" for s in states)
        out_names = list(states[0].cols)
        emit = _emit_mapping(_one(f, 1))
        state = _subquery_state(sql, out_names, "s")
        if emit is not None:
            try:
                state.cols = [out_names[i] for i in emit]
            except IndexError as exc:
                raise SubstraitMalformed(
                    f"emit mapping {emit} out of range for {len(out_names)} "
                    f"columns"
                ) from exc
        return state
    if len(inputs) != 2:
        raise SubstraitUnsupported(
            f"Substrait consumer: SetRel with {len(inputs)} inputs is not "
            f"supported for this operation (presence set operations take "
            f"exactly 2; the union/minus/intersect arms fold multi-input)"
        )
    ls = _interpret_rel(inputs[0], funcs, outer)
    rs = _interpret_rel(inputs[1], funcs, outer)
    if len(ls.cols) != len(rs.cols):
        raise SubstraitMalformed(
            f"SetRel inputs have {len(ls.cols)} vs {len(rs.cols)} columns"
        )
    if presence is not None:
        # keep-all semi/anti: null-safe (<=>) whole-row comparison matches
        # the set-operation null treatment (NULLs compare equal)
        if not ls.cols:
            raise SubstraitUnsupported(
                "Substrait consumer: presence set operations require a "
                "declared read schema"
            )
        if len(set(ls.cols)) != len(ls.cols) or len(set(rs.cols)) != len(rs.cols):
            raise SubstraitUnsupported(
                "Substrait consumer: presence set operations over duplicate "
                "column names are not supported"
            )
        cond = " AND ".join(
            f"{_quote('t0')}.{_quote(lc)} <=> {_quote('t1')}.{_quote(rc)}"
            for lc, rc in zip(ls.cols, rs.cols)
        )
        sql = (
            f"SELECT * FROM ({_render_sql(ls, [])}) AS {_quote('t0')} "
            f"WHERE {presence} (SELECT 1 FROM ({_render_sql(rs, [])}) AS "
            f"{_quote('t1')} WHERE {cond})"
        )
    else:
        sql = f"({_render_sql(ls, [])}) {op} ({_render_sql(rs, [])})"
    out_names = list(ls.cols)
    emit = _emit_mapping(_one(f, 1))
    state = _subquery_state(sql, out_names, "s")
    if emit is not None:
        try:
            state.cols = [out_names[i] for i in emit]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"emit mapping {emit} out of range for {len(out_names)} "
                f"columns"
            ) from exc
    return state


def _window_rel(
    body: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """ConsistentPartitionWindowRel → derived-table state.

    algebra.proto field numbers: common=1, input=2, window_functions=3,
    partition_expressions=4, sorts=5. Each WindowRelFunction carries the
    same fields as Expression.WindowFunction (function_reference=1,
    upper=4, lower=5, phase=6, arguments=9, invocation=10, bounds_type=12)
    MINUS the per-expression partitions/sorts — those are rel-level and
    shared by every function (the "consistent partition" contract).
    Output schema = input columns ++ one column per window function.
    """
    f = _fields(body)
    inp = _one(f, 2)
    if inp is None:
        raise SubstraitMalformed("ConsistentPartitionWindowRel without input")
    state = _interpret_rel(inp, funcs, outer)
    if (
        state.select_exprs is not None
        or state.order
        or state.limit is not None
        or state.offset
    ):
        # clause-bearing input (incl. a standalone OFFSET): wrap it so the
        # window computes over the finished result
        state = _subquery_state(_render_sql(state, []), state.cols, "w")
    cols = state.cols
    if not cols:
        raise SubstraitUnsupported(
            "Substrait consumer: ConsistentPartitionWindowRel requires a "
            "declared input schema"
        )
    parts = [
        _expr_to_sql(v, cols, funcs, False, outer=outer)
        for _, v in f.get(4, [])
    ]
    orders = [
        _sort_field_to_sql(v, cols, funcs, False, outer=outer)
        for _, v in f.get(5, [])
    ]
    over_base: list[str] = []
    if parts:
        over_base.append("PARTITION BY " + ", ".join(parts))
    if orders:
        over_base.append("ORDER BY " + ", ".join(orders))

    fn_exprs: list[str] = []
    for _, wf in f.get(3, []):  # WindowRelFunction
        # Re-encode as an Expression.WindowFunction body: the shared
        # rel-level partitions/sorts are absent (fields 2/3 unused by
        # WindowRelFunction), so the frame/args/invocation decoding is
        # identical — render the call and attach the shared OVER clause.
        call = _window_fn_to_sql(
            wf, cols, funcs, False, rel_ordered=bool(orders), outer=outer
        )
        # _window_fn_to_sql rendered "FN(...) OVER (<frame-only>)"; merge
        # the rel-level partition/order in front of any frame clause
        head, over = call.rsplit(" OVER (", 1)
        frame = over[:-1]
        merged = " ".join(over_base + ([frame] if frame else []))
        fn_exprs.append(f"{head} OVER ({merged})")

    if not fn_exprs:
        raise SubstraitMalformed(
            "ConsistentPartitionWindowRel without window functions"
        )
    exprs = [_quote(c) for c in cols] + fn_exprs
    names = list(cols) + [f"window{i}" for i in range(len(fn_exprs))]
    emit = _emit_mapping(_one(f, 1))
    if emit is not None:
        try:
            exprs = [exprs[i] for i in emit]
            names = [names[i] for i in emit]
        except IndexError as exc:
            raise SubstraitMalformed(
                f"emit mapping {emit} out of range for {len(names)} columns"
            ) from exc
    names = _dedup_aliases(names)
    select = ", ".join(
        f"{e} AS {_quote(a)}" for e, a in zip(exprs, names)
    )
    sql = f"SELECT {select} FROM {state.table}"
    if state.where:
        sql += " WHERE " + " AND ".join(state.where)
    return _subquery_state(sql, names, "w")


def _interpret_rel(
    rel: bytes, funcs: dict[int, str], outer: tuple = ()
) -> _State:
    """Rel → accumulated clause state. ``outer`` is the correlated-subquery
    context chain (innermost enclosing query last); it flows through the
    relations of one query level and into nested subqueries."""
    f = _fields(rel)
    present = [n for n in f if n in _REL_ARMS]
    if len(present) != 1:
        names = ", ".join(_REL_ARMS.get(n, str(n)) for n in sorted(f))
        raise SubstraitUnsupported(
            f"Substrait consumer: expected exactly one relation arm, got "
            f"[{names or 'none'}]"
        )
    arm = present[0]
    kind = _REL_ARMS[arm]
    body = _one(f, arm)

    if kind == "read":
        return _read_rel(body, funcs, outer)

    if kind == "aggregate":
        return _aggregate_rel(body, funcs, outer)

    if kind == "join":
        return _join_rel(body, funcs, outer)

    if kind == "cross":
        return _cross_rel(body, funcs, outer)

    if kind == "set":
        return _set_rel(body, funcs, outer)

    if kind == "window":
        return _window_rel(body, funcs, outer)

    if kind == "project":
        pf = _fields(body)
        inp = _one(pf, 2)
        if inp is None:
            raise SubstraitMalformed("ProjectRel without input")
        state = _interpret_rel(inp, funcs, outer)
        if state.select_exprs is not None:
            # project above an aggregate: finish the aggregate as a
            # derived table so field refs address its output columns
            state = _finished(state, "p")
        expr_bytes = [v for _, v in pf.get(3, [])]
        # Direct field references keep the cheap single-SELECT path …
        ref_indexes: list[int] | None = []
        for e in expr_bytes:
            try:
                ref_indexes.append(_field_ref_index(e))
            except SubstraitUnsupported:
                ref_indexes = None
                break
        emit = _emit_mapping(_one(pf, 1))
        if ref_indexes is not None:
            # ProjectRel output = input columns ++ expression columns; emit
            # remaps over that concatenation (RelCommon.Emit semantics).
            combined = list(state.cols) + [
                _col_at(state.cols, i) for i in ref_indexes
            ]
            trees = state.col_trees
            combined_trees = (
                None
                if trees is None or len(trees) != len(state.cols)
                else list(trees) + [trees[i] for i in ref_indexes]
            )
            nodes = state.col_nodes
            combined_nodes = (
                None
                if nodes is None or len(nodes) != len(state.cols)
                else list(nodes) + [nodes[i] for i in ref_indexes]
            )
            if emit is None:
                state.cols = combined
                state.col_trees = combined_trees
                state.col_nodes = combined_nodes
            else:
                try:
                    state.cols = [combined[i] for i in emit]
                    state.col_trees = (
                        None
                        if combined_trees is None
                        else [combined_trees[i] for i in emit]
                    )
                    state.col_nodes = (
                        None
                        if combined_nodes is None
                        else [combined_nodes[i] for i in emit]
                    )
                except IndexError as exc:
                    raise SubstraitMalformed(
                        f"emit mapping {emit} out of range for "
                        f"{len(combined)} columns"
                    ) from exc
            return state
        # … computed expressions (arithmetic/literals over the expression
        # subset) render into a derived table so relations above compose
        # against plain columns (a FilterRel above stays WHERE, not HAVING).
        # A clause-bearing input (ORDER/LIMIT/OFFSET below this project)
        # is finished as a derived table FIRST: a window function in the
        # projection must see the fetched rows, not the pre-limit input
        # (same reason _window_rel wraps).
        if state.limit is not None or state.offset is not None or state.order:
            state = _finished(state, "p")
        lvl = _CorrelationLevel(state.cols, f"__o{len(outer) + 1}")
        rendered = [
            _expr_to_sql(
                e, state.cols, funcs, allow_window=True, outer=outer,
                level=lvl,
            )
            for e in expr_bytes
        ]
        if lvl.used:
            # a correlated subquery in the projection referenced this
            # level: pin its alias on the FROM clause
            _pin_alias(state, lvl.alias)
        combined_exprs = [_quote(c) for c in state.cols] + rendered
        names = list(state.cols) + [
            f"expr{i}" for i in range(len(rendered))
        ]
        if emit is not None:
            try:
                combined_exprs = [combined_exprs[i] for i in emit]
                names = [names[i] for i in emit]
            except IndexError as exc:
                raise SubstraitMalformed(
                    f"emit mapping {emit} out of range for "
                    f"{len(names)} columns"
                ) from exc
        names = _dedup_aliases(names)
        state.select_exprs = combined_exprs
        state.cols = names
        state.col_trees = None  # computed outputs: nesting not tracked
        state.col_nodes = None
        return _subquery_state(_render_sql(state, []), names, "p")

    if kind == "filter":
        ff = _fields(body)
        inp = _one(ff, 2)
        if inp is None:
            raise SubstraitMalformed("FilterRel without input")
        state = _interpret_rel(inp, funcs, outer)
        if state.limit is not None or state.offset is not None:
            # filter-after-limit has no single-SELECT form: finish the
            # fetched input as a derived table, then WHERE above it
            state = _finished(state, "f")
        cond = _one(ff, 3)
        if cond is None:
            raise SubstraitMalformed("FilterRel without condition")
        if state.select_exprs is not None:
            # filter above an aggregate = HAVING; field refs address the
            # aggregate's output schema, substituted as rendered SQL (the
            # standard forbids aliases in HAVING). No correlation level:
            # HAVING has no FROM alias to qualify against (outer refs
            # under it keep the named rejection).
            state.having.append(
                _expr_to_sql(
                    cond, state.select_exprs, funcs, rendered=True,
                    outer=outer,
                )
            )
        else:
            lvl = _CorrelationLevel(state.cols, f"__o{len(outer) + 1}")
            cond_sql = _expr_to_sql(
                cond, state.cols, funcs, outer=outer, level=lvl
            )
            if lvl.used:
                # a correlated subquery in this condition referenced the
                # enclosing query: pin a stable alias on its FROM clause
                # (a bare table name would be shadowed by an inner scan
                # of the same table — the self-correlated EXISTS case)
                _pin_alias(state, lvl.alias)
            state.where.append(cond_sql)
        return state

    if kind == "sort":
        sf = _fields(body)
        inp = _one(sf, 2)
        if inp is None:
            raise SubstraitMalformed("SortRel without input")
        state = _interpret_rel(inp, funcs, outer)
        if state.limit is not None or state.offset is not None or state.order:
            # sort above a fetch must order the FETCHED rows (top-k of a
            # limit, not limit of a top-k); sort above sort replaces the
            # inner ordering, whose only effect was the fetch it fed
            state = _finished(state, "s")
        for _, sort_field in sf.get(3, []):
            sff = _fields(sort_field)
            expr = _one(sff, 1)
            if expr is None:
                raise SubstraitMalformed("SortField without expression")
            if _one(sff, 3) is not None:
                raise SubstraitUnsupported(
                    "Substrait consumer: comparison-function sorts are not "
                    "supported"
                )
            direction = _varint_one(sff, 2, 0)
            sql_dir = _SORT_DIRECTIONS.get(direction)
            if sql_dir is None:
                raise SubstraitUnsupported(
                    f"Substrait consumer: sort direction {direction} is not "
                    f"supported"
                )
            idx = _field_ref_index(expr)
            if state.select_exprs is not None:
                # aggregate mode: order by the rendered output expression
                # (aliases may be renamed by RelRoot names)
                col = _col_at(state.select_exprs, idx)
            else:
                col = _quote(_col_at(state.cols, idx))
            state.order.append(f"{col} {sql_dir}")
        if not state.order:
            raise SubstraitMalformed("SortRel without sort fields")
        return state

    if kind == "fetch":
        ff = _fields(body)
        inp = _one(ff, 2)
        if inp is None:
            raise SubstraitMalformed("FetchRel without input")
        if 6 in ff or 5 in ff:  # count_expr / offset_expr arms
            raise SubstraitUnsupported(
                "Substrait consumer: FetchRel expression offsets/counts are "
                "not supported (literal count/offset only)"
            )
        state = _interpret_rel(inp, funcs, outer)
        if state.limit is not None or state.offset is not None:
            # LIMIT of a LIMIT: finish the inner fetch as a derived table
            state = _finished(state, "f")
        count = _one(ff, 4)
        if count is None:
            raise SubstraitUnsupported(
                "Substrait consumer: FetchRel without a literal count"
            )

        count = _signed64(count)
        if count < -1:
            raise SubstraitMalformed(f"FetchRel count {count}")
        # count = -1 is the spec's "return all records": emit no LIMIT
        state.limit = None if count == -1 else count
        offset = _signed64(_varint_one(ff, 3, 0))
        if offset < 0:
            raise SubstraitMalformed(f"FetchRel offset {offset}")
        if offset:
            # count = -1 (all records) with an offset renders a standalone
            # OFFSET clause (valid Spark SQL since 3.4)
            state.offset = offset
        return state

    raise SubstraitUnsupported(
        f"Substrait consumer: relation type {kind!r} is not supported "
        f"(supported: read of a named table, filter, project, sort, fetch "
        f"with literal count/offset, single-grouping aggregate, join, "
        f"cross, 2-input set operation); send SQL text instead"
    )


def _render_sql(
    state: _State,
    out_names: list[str],
    rebuilds: "dict[int, str] | None" = None,
) -> str:
    """Accumulated clause state → one SELECT statement. ``rebuilds``
    (root-only) replaces column i's select expression with a
    NAMED_STRUCT rebuild carrying renamed nested fields."""
    if state.select_exprs is not None:
        # aggregate output: rendered expressions with stable aliases
        # (RelRoot names override the generated aliases)
        aliases = state.cols
        if out_names:
            if len(out_names) != len(aliases):
                raise SubstraitMalformed(
                    f"RelRoot has {len(out_names)} names for {len(aliases)} "
                    f"output columns"
                )
            aliases = out_names
        select = ", ".join(
            f"{expr} AS {_quote(alias)}"
            for expr, alias in zip(state.select_exprs, aliases)
        )
    elif not state.cols:
        select = "*"
        if out_names:
            raise SubstraitUnsupported(
                "Substrait consumer: RelRoot names require a read schema to "
                "alias against"
            )
    else:
        cols = state.cols
        if out_names:
            if len(out_names) != len(cols):
                raise SubstraitMalformed(
                    f"RelRoot has {len(out_names)} names for {len(cols)} "
                    f"output columns"
                )
            rb = rebuilds or {}
            select = ", ".join(
                f"{rb.get(i, _quote(c))} AS {_quote(alias)}"
                for i, (c, alias) in enumerate(zip(cols, out_names))
            )
        else:
            select = ", ".join(_quote(c) for c in cols)

    sql = f"SELECT {select} FROM {state.table}"
    if state.where:
        sql += " WHERE " + " AND ".join(state.where)
    if state.group:
        sql += " GROUP BY " + ", ".join(state.group)
    if state.having:
        sql += " HAVING " + " AND ".join(state.having)
    if state.order:
        sql += " ORDER BY " + ", ".join(state.order)
    if state.limit is not None:
        sql += f" LIMIT {state.limit}"
    if state.offset is not None:
        sql += f" OFFSET {state.offset}"
    return sql


def substrait_to_sql(
    plan_bytes: bytes,
    local_files_roots: tuple[str, ...] | None = None,
    extension_table_handlers: dict | None = None,
) -> str:
    """Translate serialized ``substrait.Plan`` bytes to a SQL statement.

    Raises ``SubstraitUnsupported`` for plans outside the subset and
    ``SubstraitMalformed`` for undecodable bytes.

    ``local_files_roots``: allowlist of path prefixes for
    ``ReadRel.local_files``. None (default) leaves paths unrestricted —
    appropriate for direct library use where the caller controls the plan;
    a tuple restricts reads to paths under one of the roots (empty tuple =
    reject every local_files plan). The Flight server passes its
    config's roots here, defaulting to deny (round-6, ADVICE r5: parity
    with DataFusion's native LocalFiles consumption would otherwise give
    any client an arbitrary-read primitive on the server).

    ``extension_table_handlers``: per-type_url resolvers for
    ``ReadRel.extension_table`` (round 8) — the embedder-registered
    analogue of DataFusion TableProviders; see
    ``_extension_table_state``. None/empty rejects every
    extension_table by name.
    """
    if not plan_bytes:
        raise SubstraitMalformed("empty Substrait plan")
    token = _LOCAL_FILES_ROOTS.set(local_files_roots)
    xt_token = _EXTENSION_TABLE_HANDLERS.set(extension_table_handlers)
    try:
        return _substrait_to_sql_inner(plan_bytes)
    finally:
        _EXTENSION_TABLE_HANDLERS.reset(xt_token)
        _LOCAL_FILES_ROOTS.reset(token)


def _substrait_to_sql_inner(plan_bytes: bytes) -> str:
    plan = _fields(plan_bytes)
    funcs = _function_names(plan)
    sig_token = _FUNC_SIGS.set(_function_signatures(plan))
    try:
        return _substrait_plan_to_sql(plan, funcs)
    finally:
        _FUNC_SIGS.reset(sig_token)


def _substrait_plan_to_sql(plan, funcs) -> str:
    relations = plan.get(3, [])  # Plan.relations
    if len(relations) != 1:
        raise SubstraitUnsupported(
            f"Substrait consumer: expected exactly 1 plan relation, got "
            f"{len(relations)}"
        )
    plan_rel = _fields(relations[0][1])
    root = _one(plan_rel, 2)  # PlanRel.root (RelRoot)
    if root is not None:
        rf = _fields(root)
        rel = _one(rf, 1)
        if rel is None:
            raise SubstraitMalformed("RelRoot without input relation")
        out_names = _strings(rf, 2)
    else:
        rel = _one(plan_rel, 1)  # PlanRel.rel (no output names)
        if rel is None:
            raise SubstraitMalformed("PlanRel carries neither rel nor root")
        out_names = []

    state = _interpret_rel(rel, funcs)
    aliases, rebuilds = _root_names_to_aliases(state, out_names)
    return _render_sql(state, aliases, rebuilds)


def _rebuild_struct_expr(
    base_sql: str, node: "_SchemaNode", new_names: list[str], col: str
) -> str:
    """``NAMED_STRUCT`` rebuild of a struct column whose RelRoot names
    rename nested fields (round 10 — previously a named rejection).

    Walks the column's schema node depth-first consuming ``new_names``
    (the RelRoot slice, positionally parallel to ``node.nested_names``):
    unchanged subtrees stay plain field references; renamed struct
    subtrees rebuild recursively. A NULL struct stays NULL via the IF
    guard (NAMED_STRUCT over a NULL base would fabricate a struct of
    NULLs). Structs nested under list/map ELEMENTS occupy name slots but
    are not field-addressable — renaming those keeps a named rejection
    (a rebuild would need a TRANSFORM lambda per nesting level).
    """
    parts: list[str] = []
    pos = 0
    for child in node.children or ():
        new_name = new_names[pos]
        pos += 1
        n_sub = len(child.nested_names)
        sub_new = new_names[pos : pos + n_sub]
        pos += n_sub
        child_sql = f"{base_sql}.{_quote(child.name)}"
        if sub_new != child.nested_names:
            if child.children is None:
                raise SubstraitUnsupported(
                    f"Substrait consumer: RelRoot renames struct fields "
                    f"nested under a list/map element of {col!r} "
                    f"({child.nested_names} -> {sub_new}) — element structs "
                    f"have no field-addressable rebuild form"
                )
            child_sql = _rebuild_struct_expr(child_sql, child, sub_new, col)
        parts.append(f"{_sql_str(new_name)}, {child_sql}")
    return (
        f"IF({base_sql} IS NULL, NULL, NAMED_STRUCT({', '.join(parts)}))"
    )


def _root_names_to_aliases(
    state: _State, out_names: list[str]
) -> "tuple[list[str], dict[int, str]]":
    """RelRoot.names → (per-column output aliases, struct rebuilds).

    The spec flattens RelRoot.names depth-first over nested structs (the
    same contract as NamedStruct.names), so a plan whose output retains a
    struct column carries MORE names than columns. When the output's
    nested layout is known (``col_trees``, tracked from the typed read
    through masks/filters/sorts/fetches/ref-projections), each column
    consumes 1 + len(nested) names; the top-level name becomes the alias.
    Nested names that MATCH the column's current subfield names cost
    nothing; nested RENAMES rebuild the struct value via ``NAMED_STRUCT``
    when the column's schema structure is tracked (``col_nodes``) —
    returned as {column index: replacement SQL} — and keep a named
    rejection otherwise. Flat outputs pass through unchanged.
    """
    if not out_names or len(out_names) == len(state.cols):
        return out_names, {}
    trees = state.col_trees
    if trees is None or len(trees) != len(state.cols):
        raise SubstraitUnsupported(
            f"Substrait consumer: RelRoot declares {len(out_names)} names "
            f"for {len(state.cols)} output columns and the output's nested "
            f"layout is not tracked through this plan shape — flattened "
            f"nested root names are supported over read/mask/filter/sort/"
            f"fetch/projection plans only"
        )
    nodes = state.col_nodes
    if nodes is not None and len(nodes) != len(state.cols):
        nodes = None
    aliases: list[str] = []
    rebuilds: dict[int, str] = {}
    pos = 0
    for i in range(len(state.cols)):
        if pos >= len(out_names):
            raise SubstraitMalformed(
                f"RelRoot has {len(out_names)} names for an output needing "
                f"{sum(1 + len(t) for t in trees)}"
            )
        aliases.append(out_names[pos])
        pos += 1
        sub = trees[i]
        got = out_names[pos : pos + len(sub)]
        if len(got) < len(sub):
            raise SubstraitMalformed(
                f"RelRoot names exhausted mid-struct (column "
                f"{state.cols[i]!r} flattens {len(sub)} nested names)"
            )
        if got != sub:
            node = nodes[i] if nodes is not None else None
            if node is not None and node.children is None:
                # names nested under a non-struct column (list/map
                # element structs): slots, but not field-addressable
                raise SubstraitUnsupported(
                    f"Substrait consumer: RelRoot renames struct fields "
                    f"nested under a list/map element of "
                    f"{state.cols[i]!r} ({sub} -> {got}) — element "
                    f"structs have no field-addressable rebuild form"
                )
            if node is None:
                raise SubstraitUnsupported(
                    f"Substrait consumer: RelRoot renames nested struct "
                    f"fields of {state.cols[i]!r} ({sub} -> {got}) and the "
                    f"column's struct layout is not tracked through this "
                    f"plan shape — nested renames rebuild via NAMED_STRUCT "
                    f"over read/mask/filter/sort/fetch/ref-projection "
                    f"plans only"
                )
            rebuilds[i] = _rebuild_struct_expr(
                _quote(state.cols[i]), node, got, state.cols[i]
            )
        pos += len(sub)
    if pos != len(out_names):
        raise SubstraitMalformed(
            f"RelRoot has {len(out_names)} names for an output that "
            f"flattens to {pos}"
        )
    return aliases, rebuilds
