"""Plan-only schema derivation (no execution).

Reference behavior: result schemas for ``GetFlightInfo`` come from the
*logical plan alone* (reference: datafusion-flight-sql-server/src/
service.rs:330,1032-1083), parameter schemas from placeholder types in the
plan (service.rs:1085-1105), and an optional config attaches each output
field's source table name as field metadata (service.rs:1044-1070,
config.rs:1-14).

Spark equivalents: ``spark.sql(...).schema`` triggers analysis only (no job);
Arrow conversion via pyspark's own type mapper; qualifier recovery walks the
analyzed JVM plan's output attributes (Spark keeps ``AttributeReference
.qualifier`` through analysis, which is exactly DataFusion's ``DFSchema``
qualifier).

Parameter-schema inference is the declared divergence (SURVEY.md §7 H3):
Spark cannot type placeholders from the plan before binding, so placeholders
are typed by a lightweight comparison-context scan, defaulting to string.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from datafusion_flight_sql_server_spark.plans.gate import is_pure_query
from datafusion_flight_sql_server_spark.plans.params import (
    paging_placeholders,
    placeholder_names,
)


def arrow_schema_for_df(df: DataFrame, with_table_metadata: bool = False) -> pa.Schema:
    """Arrow schema of a DataFrame, optionally with per-field ``table_name``
    metadata recovered from the analyzed plan's qualifiers.

    Parity with ``encode_schema``/``get_schema_for_plan`` metadata behavior
    (reference: service.rs:1044-1083, config.rs:3-5). The reference also
    "hydrates" dictionary fields through an empty FlightDataEncoder; Spark's
    Arrow export never emits dictionary-encoded fields, so no hydration pass
    is needed (declared divergence, SURVEY.md §4).
    """
    schema = to_arrow_schema(df.schema)
    if with_table_metadata:
        quals = qualifier_metadata(df)
        fields = []
        for field in schema:
            q = quals.get(field.name)
            if q:
                meta = dict(field.metadata or {})
                meta[b"table_name"] = q.encode()
                field = field.with_metadata(meta)
            fields.append(field)
        schema = pa.schema(fields, metadata=schema.metadata)
    return schema


def qualifier_metadata(df: DataFrame) -> dict[str, str]:
    """Map output column name → source table/alias qualifier.

    Walks the analyzed JVM plan's output ``AttributeReference.qualifier``
    (the last qualifier part is the table name or subquery alias), matching
    the reference's DFSchema-qualifier walk (service.rs:1050-1062) including
    aliases introduced by subqueries/joins
    (tests/schema_metadata_test.rs:113-179).
    """
    out: dict[str, str] = {}
    attrs = df._jdf.queryExecution().analyzed().output()
    for i in range(attrs.size()):
        attr = attrs.apply(i)
        qual = attr.qualifier()
        if qual.size() > 0:
            out[attr.name()] = qual.apply(qual.size() - 1)
    return out


# --- parameter schema inference (H3) ---------------------------------------

_NUM_RE = re.compile(r"^\d+$")


def parameter_schema_for_sql(
    spark: SparkSession, sql: str, strict: bool = False
) -> pa.Schema:
    """Best-effort parameter schema for a prepared statement.

    Parity target: ``parameter_schema_for_plan`` (reference:
    service.rs:1085-1105) — DataFusion types placeholders from the analyzed
    plan and returns them in stable (BTreeMap) order. Spark cannot analyze a
    plan containing unbound parameters, so we infer each placeholder's type
    from its comparison context: ``col <op> $1`` adopts ``col``'s type;
    anything else defaults to string. Field order: numeric placeholders
    sorted by index, then named ones sorted lexicographically (the
    reference's BTreeMap order for ``$1 < $10 < $2`` string keys is matched
    for the common single-digit case; we sort numerics numerically, a
    declared improvement).

    ``strict=True`` (H3 strict mode, the last declared divergence from
    service.rs:1085-1105): instead of defaulting an untypeable placeholder
    to string, raise — DataFusion's ``parameter_schema_for_plan`` surfaces
    a planning error when the plan cannot type a placeholder, and a
    string default silently binds the wrong type for clients that trust
    the parameter schema. Off by default: the lenient string default is
    friendlier to ad-hoc clients and was this server's documented
    behavior since round 2.
    """
    names = placeholder_names(sql)
    if not names:
        return pa.schema([])
    resolved_types = _infer_types_from_context(spark, sql, names)
    unresolved = [n for n in names if n not in resolved_types]
    if unresolved:
        resolved_types.update(
            _infer_types_from_plan(spark, sql, names, unresolved)
        )
    if strict:
        untyped = [n for n in names if n not in resolved_types]
        if untyped:
            rendered = ", ".join(
                f"${n}" if _NUM_RE.match(n) else n for n in sorted(untyped)
            )
            raise ValueError(
                f"parameter type(s) could not be resolved for {rendered} "
                f"(strict_parameter_types=True; the lenient default would "
                f"report string)"
            )
    nums = sorted((n for n in names if _NUM_RE.match(n)), key=int)
    named = sorted(n for n in names if not _NUM_RE.match(n))
    fields = [
        pa.field(f"${n}" if _NUM_RE.match(n) else n, resolved_types.get(n, pa.string()))
        for n in nums + named
    ]
    return pa.schema(fields)


_CMP_BEFORE = re.compile(
    r"([A-Za-z_][A-Za-z_0-9.]*)\s*(?:=|<>|!=|<=|>=|<|>)\s*\$({name})\b"
)
_CMP_AFTER = re.compile(
    r"\$({name})\s*(?:=|<>|!=|<=|>=|<|>)\s*([A-Za-z_][A-Za-z_0-9.]*)"
)


def _infer_types_from_context(
    spark: SparkSession, sql: str, names: list[str]
) -> dict[str, pa.DataType]:
    """Type each placeholder from a ``col <op> $n`` comparison if possible."""
    out: dict[str, pa.DataType] = {}
    paging = paging_placeholders(sql)
    # Columns of every table referenced in the query, best effort; only
    # those a placeholder is compared with are converted to Arrow, so a
    # column Arrow cannot carry (an interval) elsewhere in the table does
    # not fail the statement.
    columns: dict = {}
    for tbl in _table_names(sql):
        try:
            fields = spark.table(tbl).schema.fields
        except Exception:
            continue
        for f in fields:
            columns.setdefault(f.name.lower(), f)
    for name in names:
        pat_b = re.compile(_CMP_BEFORE.pattern.format(name=re.escape(name)))
        pat_a = re.compile(_CMP_AFTER.pattern.format(name=re.escape(name)))
        col = None
        m = pat_b.search(sql)
        if m:
            col = m.group(1)
        else:
            m = pat_a.search(sql)
            if m:
                col = m.group(2)
        if col:
            t = _arrow_type(columns.get(col.split(".")[-1].lower()))
            if t is not None:
                out[name] = t
                continue
        # LIMIT/OFFSET positions are typed int64 by grammar; the analyzed-
        # plan fallback cannot see them (a placeholder there fails
        # analysis), so this closes the last documented string-default
        # residual for the common paging shape
        if name in paging:
            out[name] = pa.int64()
    return out


def _arrow_type(field) -> pa.DataType | None:
    """Arrow type of a Spark ``StructField``; None when there is no field
    or Arrow cannot carry its type."""
    if field is None:
        return None
    try:
        return to_arrow_schema(StructType([field]))[0].type
    except Exception:
        return None


_FROM_RE = re.compile(r"\b(?:FROM|JOIN)\s+([A-Za-z_][A-Za-z_0-9.]*)", re.I)


def _table_names(sql: str) -> list[str]:
    return list(dict.fromkeys(_FROM_RE.findall(sql)))


def _infer_types_from_plan(
    spark: SparkSession, sql: str, names: list[str], unresolved: list[str]
) -> dict[str, pa.DataType]:
    """Type placeholders from the ANALYZED plan (H3 divergence closure).

    Each placeholder is substituted with a distinctive string literal and
    the probe SQL is analyzed (planning only, no job). Two readers, in
    order:

    1. **Comparison-sibling walk** (round 6, VERDICT r5 #6): for a marker
       appearing on one side of a binary comparison, the reported type is
       the OTHER side's innermost (cast-stripped) expression type — the
       column/expression type, exactly what DataFusion reports
       (service.rs:1085-1105, integration_test.rs:156-170). Catalyst's
       string-promotion wraps BOTH sides in widening casts (``id = '<m>'``
       analyzes to ``cast(id as bigint) = cast('<m>' as bigint)``);
       stripping the casts recovers int32 where the previous cast-text
       reader reported the promoted bigint. The walk recurses into
       subquery plans, so ``... WHERE id + 1 < $1`` inside IN/EXISTS
       bodies types from the expression too.
    2. **Marker-cast text fallback**: markers in non-comparison positions
       (function arguments, projections) read the implicit
       ``cast(<marker> as T)`` Catalyst wraps around the marker — T is
       the coercion type the engine will bind at.

    Analysis failure (e.g. a placeholder where a literal is required, such
    as LIMIT) falls back to the string default.
    """
    probe = sql
    paging = paging_placeholders(sql)
    for name in sorted(names, key=len, reverse=True):  # $10 before $1
        # LIMIT/OFFSET placeholders are already grammar-typed int64 and a
        # STRING marker there fails the whole analysis, poisoning typing
        # for every other unresolved placeholder — substitute a plain 0
        marker = "0" if name in paging else f"'<!p:{name}!>'"
        probe = re.sub(r"\$" + re.escape(name) + r"\b", marker, probe)
    # Probe ONLY query statements: spark.sql() executes command plans
    # (INSERT/CTAS/...) EAGERLY, so probing a DML statement would write
    # marker rows into the user's table during schema inference. The
    # parsed (unexecuted) probe tree decides, as the gate does.
    if not is_pure_query(spark, probe):
        return {}
    try:
        analyzed = spark.sql(probe)._jdf.queryExecution().analyzed()
        plan_str = analyzed.toString()
    except Exception:
        return {}
    cmp_types = _comparison_marker_types(analyzed)
    out: dict[str, pa.DataType] = {}
    for name in unresolved:
        t = None
        if name in cmp_types:
            t = _spark_type_text_to_arrow(cmp_types[name])
        if t is None:
            # type text = bare name optionally followed by numeric
            # parameters, e.g. bigint / decimal(12,2) / timestamp_ntz
            m = re.search(
                r"cast\(<!p:"
                + re.escape(name)
                + r"!> as ([a-z][a-z0-9_]*(?:\([0-9, ]*\))?)\)",
                plan_str,
            )
            if m is not None:
                t = _spark_type_text_to_arrow(m.group(1))
        if t is not None:
            out[name] = t
    return out


#: BinaryComparison node classes in Catalyst (analyzed plans).
_CMP_CLASSES = frozenset(
    {
        "EqualTo",
        "EqualNullSafe",
        "LessThan",
        "LessThanOrEqual",
        "GreaterThan",
        "GreaterThanOrEqual",
    }
)


def _comparison_marker_types(analyzed) -> dict[str, str]:
    """Walk the analyzed JVM plan: for every binary comparison with a
    ``<!p:name!>`` marker literal on one side (possibly under implicit
    casts), map the marker name to the OTHER side's cast-stripped
    expression type (Spark type text, lowercased). Recurses into subquery
    expression plans."""

    def _strip_cast(e):
        while e.getClass().getSimpleName() in ("Cast", "AnsiCast", "TryCast"):
            e = e.child()
        return e

    def _marker_name(e) -> str | None:
        e = _strip_cast(e)
        if e.getClass().getSimpleName() != "Literal":
            return None
        try:
            v = e.value()
        except Exception:
            return None
        s = v.toString() if v is not None else ""
        if s.startswith("<!p:") and s.endswith("!>"):
            return s[4:-2]
        return None

    out: dict[str, str] = {}
    plans = [analyzed]
    while plans:
        node = plans.pop()
        ch = node.children()
        for i in range(ch.size()):
            plans.append(ch.apply(i))
        exprs = node.expressions()
        stack = [exprs.apply(i) for i in range(exprs.size())]
        while stack:
            e = stack.pop()
            cls = e.getClass().getSimpleName()
            if cls in _CMP_CLASSES:
                for side, other in (
                    (e.left(), e.right()),
                    (e.right(), e.left()),
                ):
                    nm = _marker_name(side)
                    if nm and nm not in out:
                        out[nm] = _strip_cast(other).dataType().sql().lower()
            # subquery expressions carry their own logical plans
            try:
                plans.append(e.plan())
            except Exception:
                pass
            ech = e.children()
            for i in range(ech.size()):
                stack.append(ech.apply(i))
    return out


#: plan-rendered Spark type text → Arrow type (the subset the analyzer's
#: implicit casts produce; anything else keeps the string default)
_PLAN_TYPE_TEXT = {
    "boolean": pa.bool_(),
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "date": pa.date32(),
    "timestamp": pa.timestamp("us", "UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


def _spark_type_text_to_arrow(text: str) -> pa.DataType | None:
    text = text.strip().lower()
    flat = _PLAN_TYPE_TEXT.get(text)
    if flat is not None:
        return flat
    m = re.fullmatch(r"decimal\((\d+)\s*,\s*(\d+)\)", text)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None
