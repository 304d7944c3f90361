"""Statement gating — the ``SQLOptions::verify_plan`` analogue.

The reference runs every incoming SQL through a DataFusion ``SQLOptions``
gate before execution (reference: datafusion-flight-sql-server/src/
service.rs:92-101,170-175): three independent switches for DDL, DML, and
"statements" (SET and friends). Spark exposes no such verifier in PySpark, so
we parse the statement with the session's own SQL parser (JVM
``sessionState().sqlParser().parsePlan``) and classify the resulting logical
plan nodes by class name. The parsed text is the one ``bind_sql`` hands to
``spark.sql``: ``$n``/``$name`` placeholders are first rewritten to Spark's
``:pn``/``:name`` markers, which parse as ``NamedParameter``. A statement
that does not parse fails the gate with Spark's own ``ParseException``.
That includes a placeholder where Spark's grammar takes only a literal (an
interval's value, ``LIKE … ESCAPE``, a type's precision): Spark 4.1
substitutes the value there at bind, but the NULL bind that plans a
prepared statement's schema fails on it as well.

This is a pre-flight check on the *parsed* plan, like the reference — it runs
before analysis/execution and therefore costs no I/O.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from datafusion_flight_sql_server_spark.plans.params import normalize_placeholders


class PlanVerificationError(Exception):
    """Raised when a statement is rejected by the gate."""


# Parsed-plan class-name fragments → category. Spark DDL/DML parse to
# dedicated logical plan nodes, so a substring match on the class simple name
# is stable across Spark 3.4-4.x.
_DDL_FRAGMENTS = (
    "CreateTable",
    "CreateView",
    "CreateNamespace",
    "CreateFunction",
    "DropTable",
    "DropView",
    "DropNamespace",
    "DropFunction",
    "AlterTable",
    "AlterView",
    "AlterNamespace",
    "RenameTable",
    "ReplaceTable",
    "TruncateTable",
    "AddColumns",
    "DropColumns",
    "RenameColumn",
    "AlterColumn",
    "CreateIndex",
    "DropIndex",
    # catalog changes whose plan names none of the above
    "CreateTempView",  # CREATE TEMPORARY VIEW ... USING
    "CreateUserDefinedFunction",  # CREATE FUNCTION ... RETURN (SQL UDF)
    "CreateSQLFunction",
    "CommentOn",
    "SetTableProperties",
    "UnsetTableProperties",
    "SetTableSerDeProperties",
    "SetTableLocation",
    "ReplaceColumns",
    "AddPartitions",
    "DropPartitions",
    "RenamePartitions",
    "RecoverPartitions",
)
_DML_FRAGMENTS = (
    "InsertInto",
    "InsertOverwrite",
    "DeleteFrom",
    "UpdateTable",
    "MergeInto",
    "OverwriteByExpression",
    "OverwritePartitions",
    "AppendData",
    "CopyInto",
)
_STATEMENT_FRAGMENTS = (
    "SetCommand",
    "SetCatalog",
    "SetNamespace",
    "ResetCommand",
    "AddJar",
    "AddFile",
    "AddArchive",
    "RefreshTable",
    "RefreshFunction",
    "CacheTable",
    "UncacheTable",
    "ClearCache",
    "AnalyzeTable",
    "AnalyzeColumn",
    "RepairTable",
    "LoadData",
    "TransactionStatement",
    "RefreshResource",  # REFRESH 'path'
    "UnresolvedProcedure",  # CALL
    # EXECUTE IMMEDIATE runs a statement given as a string, which the
    # parse cannot see into; session variables are session state
    "ExecuteImmediate",
    "CreateVariable",
    "SetVariable",
    "DropVariable",
)


@dataclass(frozen=True)
class SQLOptions:
    """Mirror of DataFusion's ``SQLOptions`` (reference: service.rs:92-101).

    The reference default for the Flight server denies all three categories
    (``with_allow_ddl(false).with_allow_dml(false)
    .with_allow_statements(false)``).
    """

    allow_ddl: bool = False
    allow_dml: bool = False
    allow_statements: bool = False

    def verify(self, spark: SparkSession, sql: str, category: str | None = None) -> str:
        """Raise :class:`PlanVerificationError` if ``sql`` is disallowed, or
        Spark's ``ParseException`` if it does not parse; return the
        classification (``query``/``ddl``/``dml``/
        ``statement``) so callers can react to an ALLOWED catalog
        mutation (the engine invalidates its information_schema memo).
        A ``category`` the caller already classified ``sql`` as (the
        engine's plan memo) skips the parse; the switches still apply."""
        if category is None:
            category = _classify(spark, sql)
        if category == "ddl" and not self.allow_ddl:
            raise PlanVerificationError(f"DDL not supported: {sql!r}")
        if category == "dml" and not self.allow_dml:
            raise PlanVerificationError(f"DML not supported: {sql!r}")
        if category == "statement" and not self.allow_statements:
            raise PlanVerificationError(f"Statements not supported: {sql!r}")
        return category


#: Gate used by the Flight server, matching the reference's server default
#: (queries only).
QUERY_ONLY = SQLOptions(allow_ddl=False, allow_dml=False, allow_statements=False)


def _classify(spark: SparkSession, sql: str) -> str:
    """Classify a statement as 'query' | 'ddl' | 'dml' | 'statement'."""
    # Walk EVERY node, not just the root: `WITH cte AS (...) INSERT
    # INTO ...` parses to UnresolvedWith with the DML node as its
    # child, so a root-only check admits CTE-wrapped DML (round-6 fix).
    # SHOW and DESCRIBE nodes only read, but a name such as
    # ShowCreateTable holds a fragment: they are skipped, their children
    # are not.
    classes = {
        cls
        for cls in _parsed_plan_classes(spark, sql)
        if not cls.startswith(("Show", "Describe"))
    }
    if any(f in cls for cls in classes for f in _DDL_FRAGMENTS):
        return "ddl"
    if any(f in cls for cls in classes for f in _DML_FRAGMENTS):
        return "dml"
    if any(f in cls for cls in classes for f in _STATEMENT_FRAGMENTS):
        return "statement"
    return "query"


def is_pure_query(spark: SparkSession, sql: str) -> bool:
    """True only when ``sql`` is provably a plain query (no DDL/DML/command).

    Used by prepared-statement schema inference before ``spark.sql()``-probing
    a statement: Spark executes command plans EAGERLY, so anything not
    provably a query must never be probed. Unparseable statements return
    False (they could not be probed anyway).
    """
    try:
        return _classify(spark, sql) == "query"
    except Exception:  # noqa: BLE001 - unclassifiable: not provably a query
        return False


def _parsed_plan_classes(spark: SparkSession, sql: str) -> set[str]:
    """Simple class names of every node in the parsed (unanalyzed) logical
    plan of ``sql`` as ``bind_sql`` sends it to ``spark.sql`` — children
    AND innerChildren (CTE definitions live there). Raises Spark's
    ``ParseException`` when it does not parse.

    Fast path: ``TreeNode.toJSON`` serializes the whole tree in ONE py4j
    round trip; the per-node ``getClass``/``children`` walk costs several
    round trips per node and measured ~8x slower on a 3-join statement —
    and the gate runs on every statement, up to 3x per prepared round
    trip. Class names are harvested from EVERY ``"class"`` key in the raw
    JSON (not just the top-level node array): CTE definitions live in
    ``cteRelations`` constructor fields, which serialize as nested values
    rather than array elements. Nested expression classes come along too —
    harmless, since no expression class name contains a gate fragment, and
    a hypothetical collision fails toward rejection (the safe direction
    for a deny-by-default gate). The walk remains as the fallback for
    trees whose JSON serialization throws.
    """
    parser = spark._jsparkSession.sessionState().sqlParser()
    jplan = parser.parsePlan(normalize_placeholders(sql)[0])
    try:
        js = jplan.toJSON()
        return {
            m.rsplit(".", 1)[-1]
            for m in re.findall(r'"class"\s*:\s*"([^"]+)"', js)
        }
    except Exception:  # noqa: BLE001 - fall back to the per-node walk
        pass
    names: set[str] = set()
    stack = [jplan]
    while stack:
        node = stack.pop()
        names.add(node.getClass().getSimpleName())
        for getter in ("children", "innerChildren"):
            try:
                seq = getattr(node, getter)()
                for i in range(seq.size()):
                    stack.append(seq.apply(i))
            except Exception:  # noqa: BLE001 - non-TreeNode inner child
                pass
    return names
