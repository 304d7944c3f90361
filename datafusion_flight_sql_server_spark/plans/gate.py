"""Statement gating — the ``SQLOptions::verify_plan`` analogue.

The reference runs every incoming SQL through a DataFusion ``SQLOptions``
gate before execution (reference: datafusion-flight-sql-server/src/
service.rs:92-101,170-175): three independent switches for DDL, DML, and
"statements" (SET and friends). Spark exposes no such verifier in PySpark, so
we parse the statement with the session's own SQL parser (JVM
``sessionState().sqlParser().parsePlan``) and classify the resulting logical
plan node by class name; a regex classifier is the fallback when the JVM walk
is unavailable (e.g. Spark Connect).

This is a pre-flight check on the *parsed* plan, like the reference — it runs
before analysis/execution and therefore costs no I/O.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession


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
)

# Fallback keyword classifier (first significant token), used when the JVM
# parser is unreachable.
_DDL_RE = re.compile(r"^\s*(CREATE|DROP|ALTER|TRUNCATE|RENAME|REPLACE|COMMENT)\b", re.I)
_DML_RE = re.compile(r"^\s*(INSERT|UPDATE|DELETE|MERGE|COPY|IMPORT|LOAD)\b", re.I)
_STMT_RE = re.compile(
    r"^\s*(SET|RESET|USE|ADD\s+(JAR|FILE|ARCHIVE)|REFRESH|CACHE|UNCACHE|CLEAR|"
    r"ANALYZE|MSCK|BEGIN|COMMIT|ROLLBACK|START\s+TRANSACTION)\b",
    re.I,
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
        """Raise :class:`PlanVerificationError` if ``sql`` is disallowed;
        return the classification (``query``/``ddl``/``dml``/
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
    classes = _parsed_plan_classes(spark, sql)
    if classes is not None:
        # Walk EVERY node, not just the root: `WITH cte AS (...) INSERT
        # INTO ...` parses to UnresolvedWith with the DML node as its
        # child, so a root-only check admits CTE-wrapped DML (round-6 fix).
        if any(f in cls for cls in classes for f in _DDL_FRAGMENTS):
            return "ddl"
        if any(f in cls for cls in classes for f in _DML_FRAGMENTS):
            return "dml"
        if any(f in cls for cls in classes for f in _STATEMENT_FRAGMENTS):
            return "statement"
        return "query"
    # JVM unavailable → keyword fallback.
    if _DDL_RE.match(sql):
        return "ddl"
    if _DML_RE.match(sql) or (
        re.match(r"^\s*WITH\b", sql, re.I)
        and re.search(r"\b(INSERT|UPDATE|DELETE|MERGE)\b", sql, re.I)
    ):
        # A CTE prefix can hide DML from the head-of-statement check; for a
        # deny-by-default gate, a DML keyword anywhere in a WITH statement
        # conservatively classifies as DML (string-literal false positives
        # reject a query the JVM path would admit — safe direction).
        return "dml"
    if _STMT_RE.match(sql):
        return "statement"
    return "query"


def is_pure_query(spark: SparkSession, sql: str) -> bool:
    """True only when ``sql`` is provably a plain query (no DDL/DML/command).

    Used by prepared-statement schema inference before ``spark.sql()``-probing
    a statement: Spark executes command plans EAGERLY, so anything not
    provably a query must never be probed. Unparseable statements return
    False (they could not be probed anyway).
    """
    classes = _parsed_plan_classes(spark, sql)
    if classes is None:
        return False
    return not any(
        f in cls
        for cls in classes
        for f in _DDL_FRAGMENTS + _DML_FRAGMENTS + _STATEMENT_FRAGMENTS
    )


def _parsed_plan_classes(spark: SparkSession, sql: str) -> set[str] | None:
    """Simple class names of every node in the parsed (unanalyzed) logical
    plan — children AND innerChildren (CTE definitions live there) — or
    None when the statement does not parse / the JVM is unreachable.

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
    try:
        jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except Exception:  # noqa: BLE001 - parse errors surface later
        # A genuine parse error should surface as an AnalysisException when
        # the query actually runs; the gate only cares about classification.
        return None
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
