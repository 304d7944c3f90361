"""Prepared-statement parameter semantics.

Reimplements the reference's parameter pipeline (reference:
datafusion-flight-sql-server/src/service.rs:1123-1192):

- ``decode_schema`` — the client's Arrow IPC stream must contain exactly one
  schema (service.rs:1123-1141);
- ``decode_param_values`` / ``record_to_param_values`` — at most one row
  (service.rs:849-853); parameter names that are all ``$``-prefixed numerics
  become a positional list sorted by index, anything else becomes a named map
  (service.rs:1157-1192).

Spark's parameterized SQL uses ``:name`` for named and ``?`` for positional
parameters, while the Flight SQL world (DataFusion) uses ``$1``/``$name``;
:func:`normalize_placeholders` rewrites ``$``-style placeholders to ``:pN`` /
``:name`` so a single named-args bind covers both (repeated and out-of-order
``$n`` included).
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


class ParameterError(Exception):
    pass


# $1 / $name placeholders outside of quoted strings.
_PLACEHOLDER_RE = re.compile(r"\$([A-Za-z_][A-Za-z_0-9]*|\d+)")
# ... and those Spark's grammar types as integers.
_PAGING_RE = re.compile(r"(?i)\b(?:LIMIT|OFFSET)\s+" + _PLACEHOLDER_RE.pattern)
_QUOTED_RE = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"")


def _masked(sql: str) -> str:
    """Replace quoted literals with spaces so regexes skip them."""
    return _QUOTED_RE.sub(lambda m: " " * len(m.group(0)), sql)


def placeholder_names(sql: str) -> list[str]:
    """Distinct ``$`` placeholder names in order of first appearance."""
    seen: list[str] = []
    masked = _masked(sql)
    for m in _PLACEHOLDER_RE.finditer(masked):
        name = m.group(1)
        if name not in seen:
            seen.append(name)
    return seen


def paging_placeholders(sql: str) -> set[str]:
    """Names of the placeholders in a ``LIMIT`` or ``OFFSET`` position,
    which take an integer (typed int64 in a parameter schema)."""
    return set(_PAGING_RE.findall(_masked(sql)))


def normalize_placeholders(sql: str) -> tuple[str, list[str]]:
    """Rewrite ``$n``/``$name`` → ``:pn``/``:name`` (Spark named-arg syntax).

    Returns (rewritten_sql, placeholder names in first-appearance order).
    Quoted string literals are left untouched.
    """
    names = placeholder_names(sql)
    if not names:
        return sql, []
    masked = _masked(sql)
    out: list[str] = []
    last = 0
    for m in _PLACEHOLDER_RE.finditer(masked):
        out.append(sql[last : m.start()])
        name = m.group(1)
        out.append(f":p{name}" if name.isdigit() else f":{name}")
        last = m.end()
    out.append(sql[last:])
    return "".join(out), names


def decode_ipc_params(parameters: bytes) -> pa.RecordBatch | None:
    """Decode the client's Arrow IPC stream to the single parameter batch.

    Mirrors ``decode_param_values`` (reference: service.rs:1144-1154): None
    input → None; otherwise the stream's batches are concatenated and must
    hold at most one row.
    """
    if not parameters:
        return None
    with pa.ipc.open_stream(parameters) as reader:
        table = reader.read_all()
    if table.num_rows == 0:
        return None
    if table.num_rows > 1:
        raise ParameterError(
            "Parameter values can only be passed for a single row"
        )
    return table.combine_chunks().to_batches()[0]


def record_batch_to_params(batch: pa.RecordBatch | None):
    """Arrow parameter batch → positional list or named dict.

    Mirrors ``record_to_param_values`` (reference: service.rs:1157-1192):
    strip a leading ``$`` from each field name; if every stripped name is
    numeric the result is a positional LIST sorted by index, else a dict.
    """
    if batch is None:
        return None
    names = [f.name.lstrip("$") for f in batch.schema]
    values = [col.to_pylist()[0] for col in batch.columns]
    if names and all(n.isdigit() for n in names):
        pairs = sorted(zip((int(n) for n in names), values), key=lambda p: p[0])
        return [v for _, v in pairs]
    return dict(zip(names, values))


def null_bind_params(sql: str):
    """Parameter values for schema-only planning.

    DataFusion plans SQL containing unbound placeholders (the reference's
    GetFlightInfo/CreatePreparedStatement paths, service.rs:388-425,890-925);
    Spark cannot, so plan-only schema derivation binds every placeholder to
    NULL — analysis succeeds, output schema is unaffected, nothing executes.
    A ``LIMIT``/``OFFSET`` placeholder binds to the integer 0 instead:
    Spark rejects a NULL there. Returns None when the SQL has no
    placeholders.
    """
    names = placeholder_names(sql)
    if not names:
        return None
    paging = paging_placeholders(sql)
    return {
        (f"p{n}" if n.isdigit() else n): 0 if n in paging else None for n in names
    }


def bind_sql(spark: SparkSession, sql: str, params=None) -> DataFrame:
    """Plan ``sql`` with DataFusion-style parameters bound.

    ``params`` is the output of :func:`record_batch_to_params`: a positional
    list (for ``$1..$n``), a dict (named), or None. Internally everything is
    bound through Spark named arguments after placeholder normalization.
    """
    rewritten, names = normalize_placeholders(sql)
    if params is None:
        if names:
            raise ParameterError(f"query has unbound placeholders: {names}")
        return spark.sql(sql)
    if isinstance(params, list):
        args = {f"p{i + 1}": v for i, v in enumerate(params)}
    else:
        args = dict(params)
    missing = [n for n in names if (f"p{n}" if n.isdigit() else n) not in args]
    if missing:
        raise ParameterError(f"missing parameter values for: {missing}")
    return spark.sql(rewritten, args=args)
