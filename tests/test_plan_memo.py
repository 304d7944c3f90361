"""Plan reuse in ``Engine.sql_to_plan``: a repeated query statement is
analyzed once per catalog state, the gate still runs for it, and nothing
that could change its plan is served stale."""

from __future__ import annotations

import threading
import time
from decimal import Decimal

import pyarrow as pa
import pyarrow.flight as fl
import pyarrow.parquet as pq
import pytest

from datafusion_flight_sql_server_spark.client import FlightSQLExecutor
from datafusion_flight_sql_server_spark.engine import core
from datafusion_flight_sql_server_spark.engine.core import Engine
from datafusion_flight_sql_server_spark.protocol.flightsql import CommandStatementQuery
from datafusion_flight_sql_server_spark.server import FlightSqlServer
from datafusion_flight_sql_server_spark.server.service import FlightSqlServiceConfig


@pytest.fixture(autouse=True)
def _fresh_memo(monkeypatch):
    """A fresh process memo, so every test starts its counters at zero."""
    monkeypatch.setattr(core, "_PLAN_MEMO", core._PlanMemo(core._PLAN_MEMO_ENTRIES))


@pytest.fixture
def engine(spark):
    return Engine(spark.newSession())


def _run(engine: Engine, sql: str, params=None) -> pa.Table:
    df = engine.sql_to_plan(sql, params)
    return pa.Table.from_batches(list(engine.execute_stream(df)), schema=None)


def _served(engine: Engine, sql: str) -> pa.Table:
    """Plan ``sql`` three times, so the last call is served by the memo."""
    for _ in range(2):
        engine.sql_to_plan(sql)
    return _run(engine, sql)


def _server(engine: Engine, **config) -> FlightSqlServer:
    srv = FlightSqlServer(
        engine, location="grpc://127.0.0.1:0", config=FlightSqlServiceConfig(**config)
    )
    threading.Thread(target=srv.serve, daemon=True).start()
    return srv


class TestCounters:
    def test_repeat_counts_one_miss_then_hits(self, engine):
        sql = "SELECT id FROM range(3)"
        for _ in range(4):
            assert _run(engine, sql).column("id").to_pylist() == [0, 1, 2]
        stats = core._PLAN_MEMO.stats()
        assert (stats["misses"], stats["hits"], stats["entries"]) == (1, 3, 1)
        assert sum(stats["bypasses"].values()) == 0

    def test_permanent_view_is_bypassed(self, engine):
        engine.spark.sql("CREATE OR REPLACE VIEW memo_pv AS SELECT id FROM range(3)")
        try:
            for _ in range(3):
                assert _run(engine, "SELECT * FROM memo_pv").num_rows == 3
        finally:
            engine.spark.sql("DROP VIEW memo_pv")
        stats = core._PLAN_MEMO.stats()
        assert stats["bypasses"]["catalog"] == 1
        assert (stats["misses"], stats["hits"]) == (3, 0)

    def test_memo_entries_are_bounded(self, engine):
        for i in range(core._PLAN_MEMO_ENTRIES + 10):
            engine.sql_to_plan(f"SELECT {i} AS v")
        assert core._PLAN_MEMO.stats()["entries"] == core._PLAN_MEMO_ENTRIES


class TestFreshness:
    def test_every_hit_has_its_own_query_execution(self, engine):
        sql = "SELECT id FROM range(3)"
        dfs = [engine.sql_to_plan(sql) for _ in range(3)]
        assert core._PLAN_MEMO.stats()["hits"] == 2
        qes = [df._jdf.queryExecution() for df in dfs]
        assert not qes[1].equals(qes[2]) and not qes[0].equals(qes[2])

    def test_back_to_back_replacements_are_seen(self, engine):
        spark = engine.spark
        for i in range(4):
            # replacements within one millisecond keep the view's createTime
            spark.sql(f"SELECT {i} AS v").createOrReplaceTempView("memo_v")
            assert _served(engine, "SELECT v FROM memo_v").column("v").to_pylist() == [i]
        assert core._PLAN_MEMO.stats()["hits"] == 2 * 4

    def test_identical_redefinition_by_sql_is_seen(self, engine):
        spark = engine.spark
        spark.sql("CREATE OR REPLACE TEMP VIEW memo_base AS SELECT 1 AS v")
        spark.sql("CREATE OR REPLACE TEMP VIEW memo_top AS SELECT v FROM memo_base")
        assert _served(engine, "SELECT v FROM memo_top").column("v").to_pylist() == [1]
        # only the inner view changes; the outer one re-resolves it
        spark.sql("CREATE OR REPLACE TEMP VIEW memo_base AS SELECT 2 AS v")
        assert _served(engine, "SELECT v FROM memo_top").column("v").to_pylist() == [2]

    def test_file_added_to_a_listed_directory_is_seen(self, engine, tmp_path):
        pq.write_table(pa.table({"k": [1]}), tmp_path / "a.parquet")
        sql = f"SELECT count(*) AS n FROM parquet.`{tmp_path}`"
        assert _run(engine, sql).column("n").to_pylist() == [1]
        # the listing is older than the planning by more than the slack now
        core._PLAN_MEMO.clear()
        assert _served(engine, sql).column("n").to_pylist() == [1]
        hits = core._PLAN_MEMO.stats()["hits"]
        assert hits >= 1
        pq.write_table(pa.table({"k": [2]}), tmp_path / "b.parquet")
        assert _run(engine, sql).column("n").to_pylist() == [2]
        assert core._PLAN_MEMO.stats()["hits"] == hits

    def test_file_rewritten_in_place_after_planning_is_seen(self, engine, tmp_path, spark):
        path = tmp_path / "t.parquet"
        pq.write_table(pa.table({"k": [1, 2]}), path)
        time.sleep(0.1)  # older than the planning by more than the slack
        sql = f"SELECT * FROM parquet.`{path}`"
        engine.sql_to_plan(sql)  # a GetFlightInfo: planned, not fingerprinted
        inode = path.stat().st_ino
        pq.write_table(pa.table({"k": [3, 4, 5], "j": ["a", "b", "c"]}), path)
        assert path.stat().st_ino == inode
        fresh = spark.read.parquet(str(path)).toArrow()
        for _ in range(2):
            assert _run(engine, sql).equals(fresh)

    def test_vanished_input_file_does_not_block_the_statement(self, engine, tmp_path):
        path = tmp_path / "t.parquet"
        pq.write_table(pa.table({"k": [1]}), path)
        time.sleep(0.1)
        sql = f"SELECT count(*) AS n FROM parquet.`{path}`"
        engine.sql_to_plan(sql)
        path.unlink()
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            engine.sql_to_plan(sql)
        pq.write_table(pa.table({"k": [1, 2]}), path)
        time.sleep(0.1)
        assert _run(engine, sql).column("n").to_pylist() == [2]
        hits = core._PLAN_MEMO.stats()["hits"]
        assert _run(engine, sql).column("n").to_pylist() == [2]
        assert core._PLAN_MEMO.stats()["hits"] == hits + 1

    def test_reregistered_python_udf_is_never_stale(self, engine):
        spark = engine.spark
        sql = "SELECT memo_f(id) AS v FROM range(2)"
        spark.udf.register("memo_f", lambda x: x + 1, "long")
        assert _served(engine, sql).column("v").to_pylist() == [1, 2]
        spark.udf.register("memo_f", lambda x: x + 10, "long")
        assert _served(engine, sql).column("v").to_pylist() == [10, 11]
        stats = core._PLAN_MEMO.stats()
        assert stats["hits"] == 0 and stats["bypasses"]["udf"] >= 1

    def test_unseeded_rand_is_never_memoized(self, engine):
        sql = "SELECT rand() AS r"
        values = {_run(engine, sql).column("r")[0].as_py() for _ in range(3)}
        assert len(values) == 3
        assert core._PLAN_MEMO.stats()["hits"] == 0


class TestParameters:
    @pytest.mark.parametrize(
        "values, types",
        [
            ([1, 1.0, True], ["int", "double", "boolean"]),
            ([Decimal("1.0"), Decimal("1.00")], ["decimal(2,1)", "decimal(3,2)"]),
        ],
        ids=["int_float_bool", "decimal_scales"],
    )
    def test_equal_values_of_other_types_bind_their_own_plan(
        self, engine, values, types
    ):
        sql = "SELECT typeof($1) AS t"
        for _ in range(3):
            got = [_run(engine, sql, [v]).column("t")[0].as_py() for v in values]
            assert got == types

    def test_named_parameters_in_any_order_share_an_entry(self, engine):
        sql = "SELECT $a - $b AS d"
        assert _run(engine, sql, {"a": 5, "b": 2}).column("d").to_pylist() == [3]
        assert _run(engine, sql, {"b": 2, "a": 5}).column("d").to_pylist() == [3]
        assert core._PLAN_MEMO.stats()["entries"] == 1


def test_concurrent_statements_see_a_view_replaced_outside_the_gate(spark):
    session = spark.newSession()
    defs = [
        "SELECT id AS k FROM range(3)",
        "SELECT id AS k, id * 10 AS x FROM range(4)",
    ]
    fresh = [session.sql(d).toArrow() for d in defs]
    session.sql(defs[0]).createOrReplaceTempView("memo_cv")
    srv = _server(Engine(session))
    sql = "SELECT * FROM memo_cv"
    stop = threading.Event()
    seen: list = []
    errors: list = []

    def query():
        ex = FlightSQLExecutor(f"grpc://localhost:{srv.port}")
        try:
            while not stop.is_set():
                info = ex.flight_info(CommandStatementQuery(query=sql))
                seen.append((info.schema, ex.do_get(info.endpoints[0].ticket)))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)
        finally:
            ex.close()

    threads = [threading.Thread(target=query) for _ in range(4)]
    try:
        for t in threads:
            t.start()
        for i in range(12):
            session.sql(defs[i % 2]).createOrReplaceTempView("memo_cv")
            time.sleep(0.05)
        session.sql(defs[1]).createOrReplaceTempView("memo_cv")
        stop.set()
        for t in threads:
            t.join(120)
        last = FlightSQLExecutor(f"grpc://localhost:{srv.port}")
        try:
            final = [last.execute(sql) for _ in range(3)]
        finally:
            last.close()
    finally:
        stop.set()
        srv.shutdown()
    assert not errors
    assert seen
    schemas = [f.schema for f in fresh]
    for schema, table in seen:
        assert any(schema.equals(s) for s in schemas)
        assert any(table.equals(f) for f in fresh)
    for table in final:
        assert table.equals(fresh[1])


class TestIntervalParameterTyping:
    @pytest.fixture
    def session(self, spark):
        session = spark.newSession()
        session.sql(
            "SELECT id, make_ym_interval(1, CAST(id AS INT)) AS ym FROM range(3)"
        ).createOrReplaceTempView("ivt")
        return session

    @pytest.fixture(params=[False, True], ids=["lenient", "strict"])
    def client(self, request, session):
        srv = _server(Engine(session), strict_parameter_types=request.param)
        ex = FlightSQLExecutor(f"grpc://localhost:{srv.port}")
        yield ex
        ex.close()
        srv.shutdown()

    def test_placeholder_typed_from_its_column_beside_an_interval(self, client):
        prepared = client.prepare("SELECT id FROM ivt WHERE id = $1")
        assert prepared.parameter_schema.field(0).type == pa.int64()
        prepared.close()

    def test_placeholder_compared_with_the_interval_is_untyped(self, client, request):
        sql = "SELECT id FROM ivt WHERE ym = $1"
        if "strict" in request.node.callspec.id:
            with pytest.raises(fl.FlightError, match="strict_parameter_types"):
                client.prepare(sql)
        else:
            prepared = client.prepare(sql)
            assert prepared.parameter_schema.field(0).type == pa.string()
            prepared.close()
