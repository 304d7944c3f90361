"""Table registry — registering sources on the session.

Reference parity: the reference registers tables on the ``SessionContext``
before serving — ``MemTable`` batches in tests (reference:
datafusion-flight-sql-server/tests/integration_test.rs:17-58) and CSV in
examples (examples/flight-sql.rs:25-27). Spark equivalents: temp views over
``spark.createDataFrame`` and ``spark.read.csv/parquet``.

Scale note: parquet scans here are plain ``spark.read.parquet`` — schema comes
from footer metadata, partition/predicate pruning and column projection are
Catalyst's job and verified in tests via ``PushedFilters``/``ReadSchema`` in
the formatted plan.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: Driver-generated tables (TESTDATA.md), one parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_sf_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every scale-factor parquet table as a temp view.

    Returns {name: DataFrame}. Not cheap: ``spark.read.parquet`` runs one
    schema-inference Spark job per table, measured on a 4-vCPU host at
    0.3-0.5 s of CPU each, and 3.7 s for the first table on a fresh JVM.
    """
    _ensure_runtime_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        df = _fix_nanos_ts(df, _nanos_ts_columns(path))
        df = _fix_ntz_ts(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _nanos_ts_columns(path: str) -> set[str]:
    """Columns stored as TIMESTAMP(NANOS) per the parquet footer.

    With ``spark.sql.legacy.parquet.nanosAsLong=true`` Spark surfaces these as
    plain longs and drops the logical-type info, so the footer (read via
    pyarrow, metadata-only) is the source of truth — not a hardcoded name.
    """
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return {
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:  # pragma: no cover - non-local path / no pyarrow
        return {"ts"}


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Set the runtime confs correctness depends on, defensively.

    Callers (the driver harness included) may hand us a vanilla
    SparkSession built without ``engine.session.build_session``; these
    are runtime-settable and required: nanos timestamps readable,
    UTC semantics (DuckDB/Arrow are UTC-naive), Arrow-batched transfers,
    and Python DataSource filter pushdown (off by default in Spark 4, but
    Spark HARD-ERRORS at action time on any registered reader that
    implements ``pushFilters`` while it is off — and the conf is read at
    execution, not at ``.load()``, so it cannot be scoped per-query; it
    belongs here in session setup, not as a query-build side effect).
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked → keep going
            pass


def _fix_nanos_ts(df: DataFrame, nanos_cols: set[str]) -> DataFrame:
    """Convert TIMESTAMP(NANOS) columns (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``) back to timestamps.

    Integer division (``div``) keeps the nanos→micros truncation exact —
    a double roundtrip would lose sub-second precision at 2024-era epochs.
    DuckDB applies the same floor-truncation reading TIMESTAMP_NS, so both
    engines see identical microsecond values.
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name in nanos_cols and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def _fix_ntz_ts(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-zone TIMESTAMP.

    Parquet ``timestamp[us]`` with ``isAdjustedToUTC=false`` surfaces as
    TIMESTAMP_NTZ in Spark 4, which many chronological functions
    (``unix_micros`` et al.) reject. The session timezone is pinned to UTC
    (:func:`_ensure_runtime_confs`), so the cast reinterprets the naive
    wall-clock as the same UTC instant — bit-identical values to what
    DuckDB reads from the same file.
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_csv(spark: SparkSession, name: str, path: str) -> DataFrame:
    """CSV registration with header + schema inference.

    Parity with ``register_csv`` (reference: examples/flight-sql.rs:25-27,
    default CsvReadOptions = header true, infer schema).
    """
    df = spark.read.csv(path, header=True, inferSchema=True)
    df.createOrReplaceTempView(name)
    return df


def register_json(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Line-delimited JSON registration with schema inference.

    Parity: the reference's SessionContext accepts any embedder-registered
    provider, JSON included (delegation: service.rs:140-141); this is the
    ``register_json`` analogue of :func:`register_csv`.
    """
    df = spark.read.json(path)
    df.createOrReplaceTempView(name)
    return df


def register_memtable(
    spark: SparkSession, name: str, data: list[tuple], schema
) -> DataFrame:
    """In-memory table registration.

    Parity with ``MemTable`` registration (reference:
    tests/integration_test.rs:34-35,53-55). ``schema`` is a Spark StructType
    or DDL string. The rows reach Spark as one Arrow table, which plans as a
    ``LocalRelation`` (a Python list plans as a scan of pickled rows), so
    the engine can reuse the results of statements over the table.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([row[i] for row in data], f.type) for i, f in enumerate(arrow)]
    table = pa.Table.from_arrays(columns, schema=arrow)
    df = spark.createDataFrame(table, schema=schema)
    df.createOrReplaceTempView(name)
    return df


def register_orc(spark: SparkSession, name: str, path: str) -> DataFrame:
    """ORC registration — the columnar-format sibling of the parquet scan.

    Parity: the reference's SessionContext accepts any embedder-registered
    provider (delegation: service.rs:140-141); DataFusion ships parquet/
    CSV/JSON/Avro readers, Spark ships ORC natively. Schema comes from the
    ORC footer (self-describing, like parquet) so predicate pushdown and
    column pruning work unchanged.
    """
    df = spark.read.orc(path)
    df.createOrReplaceTempView(name)
    return df


def register_binary_dir(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Binary-file registration for multimodal ingestion.

    Spark's ``binaryFile`` source reads each file as one row of (path,
    modificationTime, length, content) — the ingestion edge for opaque
    image/audio/video payloads that downstream mapInPandas decoders
    (operators/multimodal.py) consume. Files larger than
    ``spark.sql.files.maxPartitionBytes`` are NOT split (one file = one
    row), so at 100 TB the unit of parallelism is the file: shard payloads
    into many objects upstream rather than few huge archives.
    """
    df = spark.read.format("binaryFile").load(path)
    df.createOrReplaceTempView(name)
    return df
