"""Federation round-trip: Spark reading a remote Flight SQL table through the
Python DataSource, mirroring the reference's federation example
(reference: examples/flight-sql.rs:18-63 — register remote table, query it
through the local engine)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.core import Engine
from datafusion_flight_sql_server_spark.engine.registry import register_memtable
from datafusion_flight_sql_server_spark.server import FlightSqlServer
from datafusion_flight_sql_server_spark.sources import FlightSQLDataSource


@pytest.fixture(scope="module")
def server(spark):
    register_memtable(
        spark,
        "remote_users",
        [(1, "Alice"), (2, "Bob"), (3, "Charlie")],
        "id INT NOT NULL, name STRING NOT NULL",
    )
    srv = FlightSqlServer(Engine(spark), location="grpc://0.0.0.0:0")
    threading.Thread(target=srv.serve, daemon=True).start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def uri(server):
    return f"grpc://localhost:{server.port}"


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    spark.dataSource.register(FlightSQLDataSource)


def test_read_remote_table(spark, uri):
    df = spark.read.format("flightsql").option("uri", uri).option(
        "table", "remote_users"
    ).load()
    assert [f.name for f in df.schema.fields] == ["id", "name"]
    rows = sorted((r.id, r.name) for r in df.collect())
    assert rows == [(1, "Alice"), (2, "Bob"), (3, "Charlie")]


def test_read_remote_query(spark, uri):
    df = (
        spark.read.format("flightsql")
        .option("uri", uri)
        .option("query", "SELECT name FROM remote_users WHERE id >= 2")
        .load()
    )
    assert sorted(r.name for r in df.collect()) == ["Bob", "Charlie"]


def test_filter_pushdown_into_remote_sql(spark, uri):
    df = (
        spark.read.format("flightsql")
        .option("uri", uri)
        .option("table", "remote_users")
        .load()
        .filter(F.col("id") > 1)
    )
    assert sorted(r.id for r in df.collect()) == [2, 3]


def test_join_remote_with_local(spark, uri):
    # federation: remote table joined against a local DataFrame
    local = spark.createDataFrame(
        [(1, 50), (3, 25)], "user_id INT, amount INT"
    )
    remote = (
        spark.read.format("flightsql")
        .option("uri", uri)
        .option("table", "remote_users")
        .load()
    )
    out = remote.join(local, remote.id == local.user_id).select("name", "amount")
    assert sorted((r.name, r.amount) for r in out.collect()) == [
        ("Alice", 50),
        ("Charlie", 25),
    ]


def test_missing_option_rejected(spark, uri):
    with pytest.raises(Exception, match="table.*query|query.*table"):
        spark.read.format("flightsql").option("uri", uri).load().collect()


@pytest.fixture(scope="module")
def typed_view(spark, server):
    # s.x and the top-level x hold different values, so a filter on the
    # struct field that reached the remote as plain x would pick wrong rows;
    # n holds a backslash, which SQL dialects disagree on inside literals
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW remote_typed AS SELECT * FROM VALUES "
        "(1, DATE'2024-01-01', named_struct('x', 10L), 20L, 'a'), "
        "(2, DATE'2024-01-03', named_struct('x', 20L), 10L, 'b'), "
        "(3, DATE'2024-01-03', named_struct('x', 30L), 30L, "
        "concat('a', char(92), 'b')) "
        "AS t(id, d, s, x, n)"
    )
    return "remote_typed"


@pytest.mark.parametrize(
    "condition, ids",
    [
        ("d = DATE'2024-01-03'", [2, 3]),
        ("s.x = 20", [2]),
        ("n = 'a\\\\b'", [3]),  # Spark SQL for the string a\b
    ],
    ids=["date_literal", "struct_field", "backslash_string"],
)
def test_pushed_filter_keeps_value_and_column_path(
    spark, uri, typed_view, condition, ids
):
    df = (
        spark.read.format("flightsql")
        .option("uri", uri)
        .option("table", typed_view)
        .load()
        .filter(condition)
    )
    assert sorted(r.id for r in df.collect()) == ids
