"""Result reuse in ``Engine.execute_stream``: a repeated deterministic
statement over unchanged local files is served without a Spark job, and
everything that could change its answer makes it miss."""

from __future__ import annotations

import sys
import threading
import time
from datetime import datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datafusion_flight_sql_server_spark.client import FlightSQLExecutor
from datafusion_flight_sql_server_spark.engine import core
from datafusion_flight_sql_server_spark.engine.core import Engine
from datafusion_flight_sql_server_spark.engine.registry import register_memtable
from datafusion_flight_sql_server_spark.server import FlightSqlServer

SQL = "SELECT k, v FROM t WHERE k > 1 ORDER BY k"


@pytest.fixture
def cache(monkeypatch):
    """A fresh process memo with the module's own bounds."""
    fresh = core._PlanMemo(
        core._PLAN_MEMO_ENTRIES, core._RESULT_CACHE_BYTES, core._RESULT_ENTRY_BYTES
    )
    monkeypatch.setattr(core, "_PLAN_MEMO", fresh)
    return fresh


@pytest.fixture
def path(tmp_path):
    out = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), out)
    return out


@pytest.fixture
def engine(spark, path):
    """An engine on its own session with ``t`` a view over ``path``."""
    session = spark.newSession()
    session.read.parquet(str(path)).createOrReplaceTempView("t")
    return Engine(session)


def _run(engine: Engine, sql: str) -> pa.Table:
    df = engine.execute(sql)
    return pa.Table.from_batches(list(engine.execute_stream(df)), schema=None)


def _rdd_view(spark, name: str, rows: list, schema: str) -> None:
    """A temp view over a Python RDD, which plans as a ``LogicalRDD``."""
    rdd = spark.sparkContext.parallelize(rows, 1)
    spark.createDataFrame(rdd, schema=schema).createOrReplaceTempView(name)


def _jobs(spark) -> int:
    """Id of the newest job (-1 before any). The status store keeps only
    the last ``spark.ui.retainedJobs`` jobs, so a count of them can fall
    while jobs run; the newest id only grows."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


class TestHit:
    def test_repeat_over_file_view_runs_no_job(self, spark, cache, engine):
        first = _run(engine, SQL)
        before = _jobs(spark)
        again = _run(engine, SQL)
        assert _jobs(spark) == before
        assert again.equals(first)
        assert first.column("k").to_pylist() == [2, 3]
        stats = cache.stats()["results"]
        assert (stats["misses"], stats["hits"], stats["admitted"]) == (1, 1, 1)
        assert stats["entries"] == 1 and stats["bytes"] > 0

    def test_gate_still_runs_on_a_hit(self, spark, cache, engine, monkeypatch):
        _run(engine, SQL)
        calls = []
        verify = type(engine.options).verify

        def _spy(self, *a, **k):
            calls.append(a[-1])
            return verify(self, *a, **k)

        monkeypatch.setattr(type(engine.options), "verify", _spy)
        _run(engine, SQL)
        assert calls == [SQL]
        assert cache.stats()["results"]["hits"] == 1

    def test_ddl_through_the_gate_clears(self, spark, cache, path):
        from datafusion_flight_sql_server_spark.plans.gate import SQLOptions

        session = spark.newSession()
        session.read.parquet(str(path)).createOrReplaceTempView("t")
        engine = Engine(session, SQLOptions(allow_ddl=True))
        _run(engine, SQL)
        assert cache.stats()["results"]["entries"] == 1
        engine.execute("CREATE OR REPLACE TEMP VIEW other AS SELECT 1 AS x")
        assert cache.stats()["results"]["entries"] == 0


class TestMiss:
    def test_file_rewritten_in_place(self, spark, cache, engine, path):
        _run(engine, SQL)
        pq.write_table(pa.table({"k": [1, 2, 3, 4], "v": list("abcd")}), path)
        # same path, so the same analyzed plan: only the file stat differs
        engine.spark.read.parquet(str(path)).createOrReplaceTempView("t")
        before = _jobs(spark)
        table = _run(engine, SQL)
        assert _jobs(spark) > before
        assert table.column("k").to_pylist() == [2, 3, 4]
        assert cache.stats()["results"]["hits"] == 0

    def test_alias_only_change_keeps_its_own_names(self, cache, engine):
        x = _run(engine, "SELECT k AS x FROM t")
        y = _run(engine, "SELECT k AS y FROM t")
        assert x.column_names == ["x"] and y.column_names == ["y"]
        assert y.column("y").to_pylist() == x.column("x").to_pylist()
        assert cache.stats()["results"]["hits"] == 0

    @pytest.mark.parametrize(
        "sql, reason",
        [
            ("SELECT k, rand(7) AS r FROM t", "not_deterministic"),
            ("SELECT k, current_timestamp() AS ts FROM t", "clock_function"),
            ("SELECT k, current_user() AS u FROM t", "clock_function"),
            ("SELECT plus_one(k) AS p FROM t", "udf"),
            ("SELECT k FROM t WHERE k >= (SELECT max(m) FROM mem)", "leaf"),
        ],
        ids=["rand", "current_timestamp", "current_user", "python_udf", "rdd_subquery"],
    )
    def test_not_reusable_statements_bypass(self, cache, engine, sql, reason):
        engine.spark.udf.register("plus_one", lambda x: x + 1, "int")
        _rdd_view(engine.spark, "mem", [(2,)], "m INT")
        for _ in range(2):
            _run(engine, sql)
        stats = cache.stats()["results"]
        assert stats["bypasses"][reason] == 2
        assert (stats["hits"], stats["misses"], stats["entries"]) == (0, 0, 0)

    def test_flightsql_subquery_bypasses(self, spark, cache):
        from datafusion_flight_sql_server_spark.sources import FlightSQLDataSource

        _rdd_view(spark, "remote_m", [(2,)], "m INT NOT NULL")
        srv = FlightSqlServer(Engine(spark), location="grpc://127.0.0.1:0")
        threading.Thread(target=srv.serve, daemon=True).start()
        try:
            try:
                spark.dataSource.register(FlightSQLDataSource)
            except Exception as exc:  # registered once per JVM
                if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
                    raise
            spark.read.format("flightsql").option(
                "uri", f"grpc://localhost:{srv.port}"
            ).option("table", "remote_m").load().createOrReplaceTempView("fm")
            engine = Engine(spark)
            sql = "SELECT id FROM range(4) WHERE id >= (SELECT max(m) FROM fm)"
            assert _run(engine, sql).column("id").to_pylist() == [2, 3]
            _run(engine, sql)
        finally:
            srv.shutdown()
            spark.catalog.dropTempView("fm")
        # the remote side's own DoGets (an RDD-backed view) bypass as well
        stats = cache.stats()["results"]
        assert stats["bypasses"]["leaf"] >= 2
        assert (stats["hits"], stats["misses"], stats["entries"]) == (0, 0, 0)

    def test_changed_session_time_zone(self, cache, engine):
        sql = "SELECT k, hour(timestamp_seconds(k * 3600)) AS h FROM t ORDER BY k"
        utc = _run(engine, sql)
        engine.spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        local = _run(engine, sql)
        assert utc.column("h").to_pylist() == [1, 2, 3]
        assert local.column("h").to_pylist() == [6, 7, 8]
        assert cache.stats()["results"]["hits"] == 0

    def test_replaced_temp_view(self, cache, engine):
        engine.spark.sql("SELECT k FROM t").createOrReplaceTempView("t2")
        assert _run(engine, "SELECT * FROM t2").column("k").to_pylist() == [1, 2, 3]
        engine.spark.sql("SELECT k + 10 AS k FROM t").createOrReplaceTempView("t2")
        assert _run(engine, "SELECT * FROM t2").column("k").to_pylist() == [11, 12, 13]
        assert cache.stats()["results"]["hits"] == 0

    def test_new_session_engine(self, cache, engine):
        sql = "SELECT id FROM range(5)"
        _run(engine, sql)
        other = engine.new_session()
        assert _run(other, sql).column("id").to_pylist() == list(range(5))
        assert cache.stats()["results"]["hits"] == 0
        _run(other, sql)
        assert cache.stats()["results"]["hits"] == 1


class TestAdmission:
    def test_stream_closed_after_first_batch_is_not_admitted(self, cache, engine):
        engine.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        df = engine.execute("SELECT id FROM range(0, 5000, 1, 5)")
        gen = engine.execute_stream(df)
        assert next(gen).num_rows == 1000
        gen.close()
        stats = cache.stats()["results"]
        assert stats["bypasses"]["incomplete"] == 1
        assert (stats["admitted"], stats["entries"]) == (0, 0)
        assert _run(engine, "SELECT id FROM range(0, 5000, 1, 5)").num_rows == 5000
        assert cache.stats()["results"]["misses"] == 2

    def test_error_is_not_admitted(self, cache, engine):
        engine.spark.conf.set("spark.sql.ansi.enabled", "true")
        sql = "SELECT id, 10 DIV (id - 3) AS z FROM range(0, 10, 1, 2)"
        for _ in range(2):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                _run(engine, sql)
        stats = cache.stats()["results"]
        assert stats["bypasses"]["incomplete"] == 2
        assert (stats["misses"], stats["admitted"], stats["entries"]) == (2, 0, 0)

    def test_result_over_entry_cap_reexecutes_every_time(self, spark, cache, engine):
        # 400k rows of two bigints: 6.4 MB of Arrow buffers, over the 4 MB cap
        sql = "SELECT id, id * 2 AS b FROM range(0, 400000, 1, 2)"
        for _ in range(2):
            before = _jobs(spark)
            assert _run(engine, sql).num_rows == 400_000
            assert _jobs(spark) > before
        stats = cache.stats()["results"]
        assert stats["bypasses"]["over_cap"] == 2
        assert (stats["hits"], stats["entries"], stats["bytes"]) == (0, 0, 0)

    def test_count_bound_holds_after_300_statements(self, cache, engine):
        for i in range(300):
            _run(engine, f"SELECT {i} AS v")
        stats = cache.stats()["results"]
        assert stats["admitted"] == 300
        assert stats["entries"] == core._PLAN_MEMO_ENTRIES
        assert 0 < stats["bytes"] <= core._RESULT_CACHE_BYTES
        assert stats["evicted"] == 300 - core._PLAN_MEMO_ENTRIES
        # the oldest went first; the newest are still served
        assert _run(engine, "SELECT 299 AS v").column("v").to_pylist() == [299]
        assert cache.stats()["results"]["hits"] == 1
        _run(engine, "SELECT 0 AS v")
        assert cache.stats()["results"]["hits"] == 1

    def test_byte_bound_holds(self, cache, engine):
        # 450k bigints: 3.6 MB each, so the 32 MB total binds before the count
        for i in range(12):
            _run(engine, f"SELECT id + {i} AS v FROM range(0, 450000, 1, 2)")
            assert cache.stats()["results"]["bytes"] <= core._RESULT_CACHE_BYTES
        stats = cache.stats()["results"]
        assert stats["admitted"] == 12
        assert stats["entries"] == core._RESULT_CACHE_BYTES // 3_600_000
        assert stats["evicted"] == 12 - stats["entries"]


class TestResultsDieWithTheirEntry:
    def test_replaced_view_keeps_only_the_live_result(self, cache, engine, tmp_path):
        # each replacement plans a new entry in place of the last one
        paths = []
        for i in range(6):
            paths.append(tmp_path / f"r{i}.parquet")
            pq.write_table(pa.table({"k": list(range(10_000 * (i + 1)))}), paths[-1])
        time.sleep(0.1)  # older than the planning by more than the slack
        for p in paths:
            engine.spark.read.parquet(str(p)).createOrReplaceTempView("r")
            last = _run(engine, "SELECT k FROM r")
        assert last.num_rows == 60_000
        stats = cache.stats()["results"]
        assert stats["admitted"] == 6
        assert stats["entries"] == 1
        assert stats["bytes"] == sum(b.get_total_buffer_size() for b in last.to_batches())

    def test_every_kept_result_is_on_an_entry_of_the_memo(self, cache, engine):
        entries = []
        for i in range(300):
            df = engine.execute(f"SELECT {i} AS v")
            list(engine.execute_stream(df))
            entries.append(df._plan_memo)
        live = {id(e) for e in cache._lru.values()}
        kept = [e for e in entries if e.result is not None]
        assert all(id(e) in live for e in kept)
        stats = cache.stats()["results"]
        assert len(kept) == stats["entries"] == core._PLAN_MEMO_ENTRIES
        assert sum(e.result[2] for e in kept) == stats["bytes"]


def test_concurrent_identical_do_gets_are_exact(spark, cache, path):
    session = spark.newSession()
    session.read.parquet(str(path)).createOrReplaceTempView("t")
    srv = FlightSqlServer(Engine(session), location="grpc://127.0.0.1:0")
    threading.Thread(target=srv.serve, daemon=True).start()
    expected = pa.table({"k": [2, 3], "v": ["b", "c"]})
    results: list = []
    errors: list = []
    barrier = threading.Barrier(8)

    def pull():
        ex = FlightSQLExecutor(f"grpc://localhost:{srv.port}")
        try:
            barrier.wait()
            results.append(ex.execute(SQL))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)
        finally:
            ex.close()

    threads = [threading.Thread(target=pull) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(results) == 8
    for table in results:
        assert table.equals(expected)
    # every lookup counted once, and concurrent misses admitted one entry
    stats = cache.stats()["results"]
    assert stats["hits"] + stats["misses"] == 8
    assert stats["entries"] == 1 and stats["admitted"] == 1
    (entry,) = [e for e in cache._lru.values() if e.result is not None]
    assert stats["bytes"] == entry.result[2] == sum(
        b.get_total_buffer_size() for b in entry.result[1]
    )


_MEMTABLE_ROWS = [
    (1, "a", Decimal("1.50"), datetime(2024, 1, 2, 3, 4, 5), ["x", "y"]),
    (2, None, None, None, None),
]
_MEMTABLE_STRUCT = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("amount", T.DecimalType(10, 2), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), False), True),
    ]
)


@pytest.mark.parametrize(
    "schema",
    [
        _MEMTABLE_STRUCT,
        "id INT NOT NULL, name STRING, amount DECIMAL(10,2), ts TIMESTAMP, "
        "tags ARRAY<STRING>",
    ],
    ids=["struct_type", "ddl"],
)
def test_memtable_is_a_local_relation_with_the_row_schema(spark, schema):
    # a memtable keeps the schema and rows a row-list construction gives,
    # nullability included, and plans as the LocalRelation the result
    # cache can reuse
    df = register_memtable(spark, "mt_schema", _MEMTABLE_ROWS, schema)
    rows = spark.createDataFrame(_MEMTABLE_ROWS, schema=schema)
    try:
        assert df.schema == rows.schema
        assert df.collect() == rows.collect()
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
    finally:
        spark.catalog.dropTempView("mt_schema")
