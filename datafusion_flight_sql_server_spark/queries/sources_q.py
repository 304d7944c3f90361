"""Source-registration and parameter-binding queries.

Covers the engine surfaces the reference exercises outside plain parquet
scans: CSV registration with header+inference (reference:
examples/flight-sql.rs:25-27, examples/test.csv), in-memory MemTable
registration (tests/integration_test.rs:17-58), and ``$n``/``$name``
placeholder binding (service.rs:1157-1192) — each as a driver-checkable
catalog query with a DuckDB oracle.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.registry import (
    register_csv,
    register_json,
    register_memtable,
)
from datafusion_flight_sql_server_spark.plans.params import bind_sql
from datafusion_flight_sql_server_spark.queries.catalog import query, tables

#: Repo-local clone of the reference's example CSV (examples/test.csv).
_CSV_PATH = str(Path(__file__).resolve().parents[2] / "examples" / "test.csv")

#: Repo-local line-delimited JSON example (same shape family as the CSV).
_JSON_PATH = str(Path(__file__).resolve().parents[2] / "examples" / "test.jsonl")


@query(
    "scan_csv",
    oracle=f"""
        SELECT foo, CAST(bar AS BIGINT) AS bar
        FROM read_csv('{_CSV_PATH}', header=true)
        ORDER BY foo
    """,
    doc="CSV registration with header + schema inference (parity: "
    "register_csv, reference examples/flight-sql.rs:25-27 over "
    "examples/test.csv). BIGINT casts align the two engines' integer "
    "inference.",
    tags=("source",),
)
def q_scan_csv(spark: SparkSession, sf: str) -> DataFrame:
    df = register_csv(spark, "example_csv", _CSV_PATH)
    return df.select("foo", F.col("bar").cast("bigint").alias("bar")).orderBy("foo")


@query(
    "scan_json",
    oracle=f"""
        SELECT CAST(id AS BIGINT) AS id, name,
               CAST(score AS DOUBLE) AS score
        FROM read_json_auto('{_JSON_PATH}')
        ORDER BY id
    """,
    doc="Line-delimited JSON registration with schema inference (parity: "
    "any embedder-registered provider on the wrapped session, reference "
    "service.rs:140-141; the JSON analogue of register_csv). Casts align "
    "the engines' inferred integer/float types; nulls in both value "
    "columns round-trip.",
    tags=("source",),
)
def q_scan_json(spark: SparkSession, sf: str) -> DataFrame:
    df = register_json(spark, "example_json", _JSON_PATH)
    return df.select(
        F.col("id").cast("bigint").alias("id"),
        "name",
        F.col("score").cast("double").alias("score"),
    ).orderBy("id")


@query(
    "scan_memtable",
    oracle="""
        SELECT CAST(id AS BIGINT) AS id, name
        FROM (VALUES (1, 'Alice'), (2, 'Bob'), (3, 'Charlie')) AS t(id, name)
    """,
    doc="In-memory table registration (parity: MemTable, reference "
    "tests/integration_test.rs:17-58 users fixture) — createDataFrame + temp "
    "view scan.",
    tags=("source",),
)
def q_scan_memtable(spark: SparkSession, sf: str) -> DataFrame:
    df = register_memtable(
        spark,
        "users_mem",
        [(1, "Alice"), (2, "Bob"), (3, "Charlie")],
        "id INT NOT NULL, name STRING NOT NULL",
    )
    return df.select(F.col("id").cast("bigint").alias("id"), "name")


@query(
    "sink_partitioned",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                   AS total
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """,
    doc="Partitioned parquet sink round-trip (operators/sink.py "
    "write_partitioned): orders written hive-partitioned by o_orderstatus, "
    "read back with a partition filter — the 'F' predicate prunes whole "
    "directories at planning time (PartitionFilters in the scan, asserted "
    "in tests/test_sink.py), which at 100 TB is the difference between "
    "scanning everything and scanning one split. The reference's only sink "
    "is the Flight stream (service.rs:230-236); this is the "
    "training-pipeline materialization path layered on top. Decimal-cast "
    "sum keeps the aggregate order-independent across the rewrite.",
    tags=("sink",),
)
def q_sink_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from datafusion_flight_sql_server_spark.operators.sink import (
        write_partitioned,
    )

    orders = tables(spark, sf)["orders"]
    out = str(
        Path(tempfile.gettempdir()) / f"sgraft_sink_orders_{Path(sf).name}"
    )
    write_partitioned(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "sink_clustered",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM events
        WHERE user_id BETWEEN 100 AND 200
        GROUP BY event_type
    """,
    doc="Clustered parquet sink round-trip (operators/sink.py "
    "write_clustered): events range-partitioned across files on user_id "
    "and sorted within each file, read back with a range predicate. The "
    "layout gives every file a disjoint user_id range, so footer min/max "
    "stats let the pushed filter skip whole files/row groups "
    "(disjointness asserted in tests/test_sink.py) — the storage-side "
    "data-skipping half of the 100 TB read path, complementing "
    "sink_partitioned's directory pruning. Decimal-cast sum keeps the "
    "aggregate order-independent across the rewrite.",
    tags=("sink",),
)
def q_sink_clustered(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from datafusion_flight_sql_server_spark.operators.sink import (
        write_clustered,
    )

    events = tables(spark, sf)["events"]
    out = str(
        Path(tempfile.gettempdir()) / f"sgraft_sink_events_{Path(sf).name}"
    )
    write_clustered(events, out, ["user_id"], n_files=8)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("user_id").between(100, 200))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
    )


def _zorder_oracle() -> str:
    from datafusion_flight_sql_server_spark.operators.sink import zorder_sql

    z = zorder_sql("xs", "ys", bits=16, idiv="//")
    bucket_div = (1 << 32) // 8
    return f"""
        WITH mm AS (SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
                           MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
                    FROM lineitem),
             s AS (SELECT CAST(FLOOR(((l_partkey - xmin) * 65535.0)
                              / GREATEST(CAST(xmax - xmin AS DOUBLE), 1.0))
                              AS BIGINT) AS xs,
                          CAST(FLOOR(((l_suppkey - ymin) * 65535.0)
                              / GREATEST(CAST(ymax - ymin AS DOUBLE), 1.0))
                              AS BIGINT) AS ys
                   FROM lineitem CROSS JOIN mm),
             z AS (SELECT xs, ys, {z} AS zv FROM s)
        SELECT CAST(zv // {bucket_div} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(xs) AS BIGINT) AS xs_min,
               CAST(MAX(xs) AS BIGINT) AS xs_max,
               CAST(MIN(ys) AS BIGINT) AS ys_min,
               CAST(MAX(ys) AS BIGINT) AS ys_max
        FROM z
        GROUP BY bucket
    """


@query(
    "sink_zorder",
    oracle=_zorder_oracle(),
    doc="Z-order-clustered parquet sink round-trip (operators/sink.py "
    "write_zorder): lineitem written with (l_partkey, l_suppkey) Morton-"
    "interleaved into 8 z-buckets, one directory per bucket, z-sorted "
    "within. Each bucket covers a small RECTANGLE of the 2-D key space "
    "(per-bucket bounding boxes asserted <= 1/8 of the full area in "
    "tests/test_sink.py), so footer min/max stats skip files for "
    "predicates on EITHER key — the Delta/Iceberg OPTIMIZE ZORDER layout "
    "on stock parquet, complementing sink_clustered's single-key "
    "clustering. The z code is pure integer arithmetic (zorder_sql) that "
    "evaluates bit-identically on Spark (DIV) and DuckDB (//); bucket "
    "boundaries are deterministic top-z-bits, not sampled ranges. The "
    "query aggregates the READ-BACK files, so the driver hash certifies "
    "the round-tripped layout, not the in-memory plan.",
    tags=("sink",),
)
def q_sink_zorder(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from datafusion_flight_sql_server_spark.operators.sink import write_zorder

    li = tables(spark, sf)["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    out = str(
        Path(tempfile.gettempdir()) / f"sgraft_sink_zorder_{Path(sf).name}"
    )
    write_zorder(li, out, "l_partkey", "l_suppkey", bits=16, n_buckets=8)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("__zbucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("__zx").cast("bigint").alias("xs_min"),
            F.max("__zx").cast("bigint").alias("xs_max"),
            F.min("__zy").cast("bigint").alias("ys_min"),
            F.max("__zy").cast("bigint").alias("ys_max"),
        )
    )


@query(
    "param_bind_positional",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 150000 AND o_orderpriority = '1-URGENT'
    """,
    doc="Positional $n placeholder binding (parity: record_to_param_values "
    "positional path, reference service.rs:1178-1186): $1/$2 rewritten to "
    "Spark named args and bound from a positional list.",
    tags=("params",),
)
def q_param_bind_positional(spark: SparkSession, sf: str) -> DataFrame:
    tables(spark, sf)
    return bind_sql(
        spark,
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > $1 AND o_orderpriority = $2
        """,
        [150000, "1-URGENT"],
    )


@query(
    "param_bind_named",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 1000
    """,
    doc="Named $name placeholder binding (parity: record_to_param_values "
    "named path, reference service.rs:1187-1191).",
    tags=("params",),
)
def q_param_bind_named(spark: SparkSession, sf: str) -> DataFrame:
    tables(spark, sf)
    return bind_sql(
        spark,
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_mktsegment = $segment AND c_acctbal >= $min_bal
        """,
        {"segment": "BUILDING", "min_bal": 1000},
    )


def _stage_binary_fixture() -> str:
    """Write four deterministic binary payloads under /tmp (idempotent).

    Pure-Python staging at import/call time so the DuckDB oracle (which
    reads the same files via read_blob) never depends on the Spark query
    having run first. Import-time staging is failure-tolerant: on a
    read-only /tmp the PATH still returns (the oracle f-strings only need
    the path at import) and the query functions re-invoke the stager at
    call time, surfacing the real error only if the fixture is actually
    used.
    """
    import tempfile

    out = Path(tempfile.gettempdir()) / "sgraft_binary_fixture"
    try:
        out.mkdir(exist_ok=True)
        for i in range(4):
            p = out / f"blob_{i}.bin"
            payload = bytes((i * 7 + j * 13) % 256 for j in range(256 + 64 * i))
            if not p.exists() or p.stat().st_size != len(payload):
                p.write_bytes(payload)
    except OSError:
        pass
    return str(out)


_BINARY_DIR = _stage_binary_fixture()


@query(
    "scan_orc",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    doc="ORC source round-trip (engine/registry.py register_orc): nation "
    "rewritten as ORC in a temp dir, registered, scanned back. Parity: "
    "embedder-registered providers on the wrapped session (reference "
    "service.rs:140-141 — DataFusion ships CSV/JSON/Avro alongside "
    "parquet; Spark's native sibling format is ORC). The oracle reads the "
    "original parquet view: a lossless round-trip means identical values "
    "and types. ORC is self-describing like parquet, so pushdown/pruning "
    "survive the format change.",
    tags=("source",),
)
def q_scan_orc(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from datafusion_flight_sql_server_spark.engine.registry import register_orc

    nation = tables(spark, sf)["nation"]
    out = str(Path(tempfile.gettempdir()) / f"sgraft_orc_nation_{Path(sf).name}")
    nation.write.mode("overwrite").orc(out)
    df = register_orc(spark, "nation_orc", out)
    return df.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_binary",
    oracle=f"""
        SELECT parse_filename(filename) AS fname,
               CAST(size AS BIGINT) AS n_bytes,
               hex(content) AS content_hex
        FROM read_blob('{_BINARY_DIR}/*.bin')
    """,
    doc="Binary-file source (engine/registry.py register_binary_dir): "
    "Spark's binaryFile format reads opaque payloads one file per row — "
    "the multimodal ingestion edge feeding the mapInPandas decoders in "
    "operators/multimodal.py. Compared against DuckDB read_blob on the "
    "same staged fixture by name, byte length, and full content hex. "
    "binaryFile never splits a file, so at 100 TB parallelism = file "
    "count: shard payloads into many objects, not few archives (noted in "
    "the registry docstring).",
    tags=("source", "multimodal"),
)
def q_scan_binary(spark: SparkSession, sf: str) -> DataFrame:
    from datafusion_flight_sql_server_spark.engine.registry import (
        register_binary_dir,
    )

    path = _stage_binary_fixture()
    df = register_binary_dir(spark, "binary_fixture", path)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.hex(F.col("content")).alias("content_hex"),
    )


def _stage_dup_binary_fixture() -> str:
    """Ten deterministic binary payloads with planted duplicates (idempotent):
    contents A,A,A,B,B,C,D,E,F,F under distinct filenames — the media-dedup
    case where the SAME image/audio bytes arrive under different names."""
    import tempfile

    out = Path(tempfile.gettempdir()) / "sgraft_binary_dups"
    try:
        out.mkdir(exist_ok=True)
        groups = [0, 0, 0, 1, 1, 2, 3, 4, 5, 5]
        for i, g in enumerate(groups):
            p = out / f"media_{i:02d}.bin"
            payload = bytes((g * 31 + j * 7) % 256 for j in range(512 + 32 * g))
            if not p.exists() or p.stat().st_size != len(payload):
                p.write_bytes(payload)
    except OSError:  # failure-tolerant at import; see _stage_binary_fixture
        pass
    return str(out)


_DUP_BINARY_DIR = _stage_dup_binary_fixture()


@query(
    "multimodal_dedup",
    oracle=f"""
        WITH b AS (SELECT parse_filename(filename) AS fname,
                          md5(hex(content)) AS digest,
                          CAST(size AS BIGINT) AS n_bytes
                   FROM read_blob('{_DUP_BINARY_DIR}/*.bin'))
        SELECT digest,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(fname) AS keeper,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        FROM b
        GROUP BY digest
    """,
    doc="Exact content dedup for opaque media payloads (the binary-column "
    "sibling of dedup_exact): binaryFile-scanned blobs are digested with "
    "md5 over the hex encoding (DuckDB's md5 is VARCHAR-only, so hex() "
    "first makes the digest engine-portable), grouped by digest, and each "
    "group reports its copy count, deterministic keeper (min filename) "
    "and reclaimable bytes. This is the first pass of any multimodal "
    "ingest — the same bytes arriving under different names/URLs. Scale: "
    "only (digest, name, size) tuples shuffle, never payload bytes — the "
    "digest is computed map-side next to the scan; the shuffle is "
    "16-byte keys regardless of object size. binaryFile parallelism = "
    "file count (registry docstring), which is exactly the sharding a "
    "100 TB media corpus already has.",
    tags=("dedup", "multimodal"),
)
def q_multimodal_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from datafusion_flight_sql_server_spark.engine.registry import (
        register_binary_dir,
    )

    path = _stage_dup_binary_fixture()
    df = register_binary_dir(spark, "binary_dups", path)
    return (
        df.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.md5(F.hex(F.col("content"))).alias("digest"),
            F.col("length").cast("bigint").alias("n_bytes"),
        )
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("fname").alias("keeper"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        )
    )


def _stage_near_dup_binary_fixture() -> str:
    """Ten deterministic binary payloads with planted NEAR-duplicates
    (idempotent): sha256-stream content (aperiodic, so unrelated files get
    unrelated signatures) with 16-byte splices simulating re-encoded /
    lightly-edited media — a0~a1~a2 and b0~b1 are edit families, s* are
    singletons."""
    import hashlib
    import tempfile

    out = Path(tempfile.gettempdir()) / "sgraft_binary_neardups"

    def payload(seed: int, size: int = 512) -> bytearray:
        data = bytearray()
        c = 0
        while len(data) < size:
            data += hashlib.sha256(f"{seed}:{c}".encode()).digest()
            c += 1
        return data[:size]

    try:
        out.mkdir(exist_ok=True)
        a = payload(0)
        a1 = bytearray(a)
        a1[40:56] = b"\xff" * 16
        a2 = bytearray(a)
        a2[200:216] = b"\x00" * 16
        b = payload(5)
        b1 = bytearray(b)
        b1[300:316] = b"\xee" * 16
        files = {"a0": a, "a1": a1, "a2": a2, "b0": b, "b1": b1}
        for s in (9, 12, 17, 23, 30):
            files[f"s{s}"] = payload(s)
        for name, data in files.items():
            p = out / f"{name}.bin"
            if not p.exists() or p.stat().st_size != len(data):
                p.write_bytes(bytes(data))
    except OSError:  # failure-tolerant at import; see _stage_binary_fixture
        pass
    return str(out)


_NEAR_DUP_BINARY_DIR = _stage_near_dup_binary_fixture()

#: blockhash signature pieces shared by query and doc: 64 blocks, bit k set
#: iff mean(block k) > mean(payload) ⇔ blocksum*n > total*bs (exact integer).
_PHASH_WORD = (
    "aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), (acc, k) -> acc + "
    "IF(aggregate(slice(v, k * bs + 1, bs), CAST(0 AS BIGINT),"
    "             (s, x) -> s + x) * n > bs * total,"
    "   shiftleft(CAST(1 AS BIGINT), k - {lo}), CAST(0 AS BIGINT)))"
)


@query(
    "multimodal_phash",
    oracle=f"""
        WITH b AS (SELECT parse_filename(filename) AS fname, hex(content) AS h,
                          CAST(size AS BIGINT) AS n
                   FROM read_blob('{_NEAR_DUP_BINARY_DIR}/*.bin')
                   WHERE size >= 64),
        by AS (SELECT fname, n, CAST(n // 64 AS INT) AS bs,
                      list_transform(range(0, CAST(n AS INT)),
                          i -> ('0x' || substr(h, 2 * i + 1, 2))::BIGINT) AS v
               FROM b),
        st AS (SELECT fname, n, bs, v, list_sum(v) AS total FROM by),
        sig AS (SELECT fname,
                  list_sum(list_transform(range(0, 32), k ->
                    CASE WHEN list_sum(v[(k * bs + 1):((k + 1) * bs)]) * n
                              > bs * total
                         THEN (1::BIGINT << k) ELSE 0::BIGINT END)) AS w0,
                  list_sum(list_transform(range(32, 64), k ->
                    CASE WHEN list_sum(v[(k * bs + 1):((k + 1) * bs)]) * n
                              > bs * total
                         THEN (1::BIGINT << (k - 32)) ELSE 0::BIGINT END)) AS w1
                FROM st),
        bands AS (SELECT fname, w0, w1, bi,
                         CASE WHEN bi < 4 THEN (w0 >> (8 * bi)) & 255
                              ELSE (w1 >> (8 * (bi - 4))) & 255 END AS bv
                  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS bi)),
        cand AS (SELECT DISTINCT x.fname AS file_a, y.fname AS file_b,
                        x.w0 AS xw0, x.w1 AS xw1, y.w0 AS yw0, y.w1 AS yw1
                 FROM bands x JOIN bands y
                   ON x.bi = y.bi AND x.bv = y.bv AND x.fname < y.fname)
        SELECT file_a, file_b,
               CAST(bit_count(xor(xw0, yw0)) + bit_count(xor(xw1, yw1))
                    AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(xw0, yw0)) + bit_count(xor(xw1, yw1)) <= 10
    """,
    doc="Perceptual-hash near-dup detection for opaque media payloads (the "
    "near-dup sibling of multimodal_dedup's exact digest): a blockhash-"
    "family signature — 64 equal byte-blocks, bit k = mean(block k) > "
    "mean(payload), the classic blockhash.io construction applied to the "
    "raw byte stream since this container cannot decode pixels (the "
    "decode seam is the same one multimodal_decode stubs; on a real "
    "cluster the block means come from decoded luma). Signatures pack "
    "into 2x32-bit words (exact integer compare: blocksum*n > total*bs, "
    "no division), candidates come from an 8-band x 8-bit LSH equi-join "
    "— NEVER all-pairs — and exact Hamming <= 10 verifies. Catches "
    "re-encoded/lightly-edited media that exact digests miss. Scale: "
    "signatures are map-side next to the binaryFile scan (payload bytes "
    "never shuffle — 8 band rows of (16-byte name, 2 longs) per file); "
    "the band join is hash-partitioned; verification touches only "
    "candidate signature pairs.",
    tags=("dedup", "multimodal", "similarity"),
)
def q_multimodal_phash(spark: SparkSession, sf: str) -> DataFrame:
    from datafusion_flight_sql_server_spark.engine.registry import (
        register_binary_dir,
    )

    path = _stage_near_dup_binary_fixture()
    df = register_binary_dir(spark, "binary_neardups", path)
    by = (
        df.filter(F.col("length") >= 64)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.col("length").cast("bigint").alias("n"),
            (F.col("length") / 64).cast("int").alias("bs"),
            F.expr(
                "transform(sequence(0, CAST(length AS INT) - 1),"
                " i -> CAST(conv(substr(hex(content), 2 * i + 1, 2), 16, 10)"
                "          AS BIGINT))"
            ).alias("v"),
        )
        .withColumn(
            "total",
            F.expr("aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + x)"),
        )
    )
    sig = by.select(
        "fname",
        F.expr(_PHASH_WORD.format(lo=0, hi=31)).alias("w0"),
        F.expr(_PHASH_WORD.format(lo=32, hi=63)).alias("w1"),
    )
    bands = sig.select(
        "fname",
        "w0",
        "w1",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("bi"),
    ).withColumn(
        "bv",
        F.expr(
            "CASE WHEN bi < 4 THEN shiftrightunsigned(w0, 8 * bi) & 255 "
            "ELSE shiftrightunsigned(w1, 8 * (bi - 4)) & 255 END"
        ),
    )
    x = bands.select(
        F.col("fname").alias("file_a"),
        F.col("w0").alias("xw0"),
        F.col("w1").alias("xw1"),
        "bi",
        "bv",
    )
    y = bands.select(
        F.col("fname").alias("file_b"),
        F.col("w0").alias("yw0"),
        F.col("w1").alias("yw1"),
        "bi",
        "bv",
    )
    cand = (
        x.join(y, ["bi", "bv"])
        .filter(F.col("file_a") < F.col("file_b"))
        .select("file_a", "file_b", "xw0", "xw1", "yw0", "yw1")
        .distinct()
    )
    ham = F.bit_count(F.expr("xw0 ^ yw0")) + F.bit_count(F.expr("xw1 ^ yw1"))
    return cand.select(
        "file_a", "file_b", ham.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= 10)


# -- federation: Spark reading its own Flight SQL server ---------------------

#: One in-process Flight SQL server per driver application, started lazily on
#: the first scan_flight invocation and bound to that session's Engine
#: (daemon thread; lives for the process). Keyed by applicationId, NOT id()
#: (the round-1 id()-keyed-cache defect class).
_FLIGHT_SINGLETON: dict[str, object] = {}
_FLIGHT_LOCK = None  # created lazily so module import stays threading-free


def _flight_server(spark: SparkSession):
    import threading

    from datafusion_flight_sql_server_spark.engine.core import Engine
    from datafusion_flight_sql_server_spark.server import FlightSqlServer

    global _FLIGHT_LOCK
    if _FLIGHT_LOCK is None:
        _FLIGHT_LOCK = threading.Lock()

    app_id = spark.sparkContext.applicationId
    with _FLIGHT_LOCK:
        entry = _FLIGHT_SINGLETON.get(app_id)
        if entry is None:
            # Default config, as deployed: one stateless endpoint per
            # result, which the scan reads as one Spark partition.
            srv = FlightSqlServer(Engine(spark), location="grpc://0.0.0.0:0")
            threading.Thread(target=srv.serve, daemon=True).start()
            # The socket binds in __init__ (so srv.port is valid here) but
            # gRPC only accepts requests once serve() is running on the
            # thread — hand the port out before that and the first
            # GetFlightInfo races the thread start. Block until the server
            # answers.
            import pyarrow.flight as _fl

            client = _fl.FlightClient(f"grpc://localhost:{srv.port}")
            try:
                client.wait_for_available(timeout=10)
            finally:
                client.close()
            _FLIGHT_SINGLETON[app_id] = srv
            entry = srv
    return entry


@query(
    "scan_flight",
    oracle="""
        SELECT l_orderkey, l_partkey, CAST(l_quantity AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_quantity >= 45
    """,
    doc="Federation round-trip as a driver-checked row (parity: the "
    "reference's federation example, examples/flight-sql.rs:18-63, and "
    "the table-provider crate lib.rs:33-105): Spark reads lineitem BACK "
    "through the full wire stack — Python DataSource 'flightsql' → "
    "GetFlightInfo → DoGet over real TCP against an in-process Flight SQL "
    "server → executor-side Arrow IPC — and the "
    "result must hash-match DuckDB reading the parquet directly. The "
    "WHERE clause rides the DataSource filter pushdown into the remote "
    "SQL. One daemon server per application, started lazily with the "
    "default config; like the reference it answers with one stateless "
    "FlightEndpoint, which the scan reads as one Spark partition.",
    tags=("source", "protocol"),
)
def q_scan_flight(spark: SparkSession, sf: str) -> DataFrame:
    from datafusion_flight_sql_server_spark.sources import FlightSQLDataSource

    # register sf tables; session setup (_ensure_runtime_confs) also enables
    # Python DataSource filter pushdown — required at ACTION time for any
    # reader implementing pushFilters, so it lives in session setup rather
    # than as a query-build conf mutation (round-3 review nit #3)
    tables(spark, sf)
    srv = _flight_server(spark)
    spark.dataSource.register(FlightSQLDataSource)
    return (
        spark.read.format("flightsql")
        .option("uri", f"grpc://localhost:{srv.port}")
        .option(
            "query",
            "SELECT l_orderkey, l_partkey, CAST(l_quantity AS DOUBLE) AS qty "
            "FROM lineitem WHERE l_quantity >= 45",
        )
        .load()
    )
