"""Unit tests for the plans layer: statement gate, parameter binding,
plan-only schema derivation, streamed delivery.

Ports the reference's non-server unit semantics: the SQLOptions accept/reject
matrix (reference: datafusion-flight-sql-server/src/service.rs:92-101), the
$n/$name positional-vs-named binding rules (service.rs:1157-1192), parameter
IPC decode constraints (service.rs:810-862), qualifier metadata scenarios
(tests/schema_metadata_test.rs:80-179), and batch-streamed result delivery
(service.rs:186-191).
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.core import Engine
from datafusion_flight_sql_server_spark.engine.registry import register_memtable
from datafusion_flight_sql_server_spark.plans.gate import (
    PlanVerificationError,
    SQLOptions,
    is_pure_query,
)
from datafusion_flight_sql_server_spark.plans.params import (
    ParameterError,
    bind_sql,
    decode_ipc_params,
    normalize_placeholders,
    null_bind_params,
    record_batch_to_params,
)
from datafusion_flight_sql_server_spark.plans.schema import (
    arrow_schema_for_df,
    parameter_schema_for_sql,
    qualifier_metadata,
)


@pytest.fixture(scope="module", autouse=True)
def fixtures(spark):
    register_memtable(
        spark,
        "users",
        [(1, "Alice"), (2, "Bob"), (3, "Charlie")],
        "id INT NOT NULL, name STRING NOT NULL",
    )
    register_memtable(
        spark,
        "orders",
        [(100, 1, 50), (101, 2, 75), (102, 1, 100), (103, 3, 25)],
        "order_id INT NOT NULL, user_id INT NOT NULL, amount INT NOT NULL",
    )


class TestGate:
    """SQLOptions accept/reject matrix (service.rs:92-101 semantics)."""

    CASES = [
        ("SELECT * FROM users", "query"),
        ("SHOW TBLPROPERTIES users", "query"),
        # SHOW and DESCRIBE nodes only read, though ShowCreateTable holds
        # the DDL fragment CreateTable
        ("SHOW CREATE TABLE users", "query"),
        ("SHOW CREATE TABLE users AS SERDE", "query"),
        ("WITH t AS (SELECT 1 AS x) SELECT * FROM t", "query"),
        ("EXPLAIN SELECT 1", "query"),
        ("CREATE TABLE t2 (x INT) USING parquet", "ddl"),
        ("DROP TABLE users", "ddl"),
        ("ALTER TABLE users ADD COLUMNS (extra INT)", "ddl"),
        ("CREATE VIEW v AS SELECT 1 AS one", "ddl"),
        ("INSERT INTO users VALUES (4, 'Dave')", "dml"),
        ("DELETE FROM users WHERE id = 1", "dml"),
        ("UPDATE users SET name = 'x' WHERE id = 1", "dml"),
        ("MERGE INTO users USING orders ON users.id = orders.user_id "
         "WHEN MATCHED THEN DELETE", "dml"),
        # CTE-wrapped DML parses to UnresolvedWith with the DML node as a
        # child — a root-only class check admitted these (round-6 fix)
        ("WITH c AS (SELECT 9 AS i) INSERT INTO users SELECT i, 'x' FROM c",
         "dml"),
        ("WITH c AS (SELECT 1 AS i) DELETE FROM users "
         "WHERE id IN (SELECT i FROM c)", "dml"),
        ("SET spark.sql.shuffle.partitions=1", "statement"),
        ("RESET", "statement"),
        ("CACHE TABLE users", "statement"),
        ("REFRESH TABLE users", "statement"),
        # the gate parses the text bind_sql sends: $n/$name become Spark
        # named parameters, so prepared statements are classified by the
        # parse, not by their first keyword
        ("SELECT * FROM users WHERE id = $1", "query"),
        ("SELECT * FROM users WHERE name = $who LIMIT $2 OFFSET $3", "query"),
        ("SELECT '$1' AS s FROM users WHERE id IN "
         "(SELECT user_id FROM orders WHERE amount > $1)", "query"),
        ("/**/ INSERT INTO users VALUES ($1, 'x')", "dml"),
        # EXECUTE IMMEDIATE hides its statement in a string; session
        # variables are session state
        ("EXECUTE IMMEDIATE 'DROP TABLE users'", "statement"),
        ("EXECUTE IMMEDIATE 'SELECT 1'", "statement"),
        ("DECLARE v INT", "statement"),
        ("SET VAR v = 3", "statement"),
        ("DROP TEMPORARY VARIABLE v", "statement"),
        # catalog changes whose parsed plans carry no Create/Drop/Alter
        # class name
        ("CREATE TEMPORARY VIEW tv USING parquet OPTIONS (path '/nonexistent')",
         "ddl"),
        ("CREATE TEMPORARY FUNCTION f(x INT) RETURNS INT RETURN x + 1", "ddl"),
        ("CREATE FUNCTION f(x INT) RETURNS INT RETURN x + 1", "ddl"),
        ("COMMENT ON TABLE users IS 'x'", "ddl"),
        ("ALTER TABLE users SET TBLPROPERTIES ('a' = 'b')", "ddl"),
        ("ALTER TABLE users UNSET TBLPROPERTIES ('a')", "ddl"),
        ("ALTER TABLE users SET SERDEPROPERTIES ('a' = 'b')", "ddl"),
        ("ALTER TABLE users SET LOCATION '/nonexistent'", "ddl"),
        ("ALTER TABLE users REPLACE COLUMNS (a INT)", "ddl"),
        ("ALTER TABLE users ADD PARTITION (p = 1)", "ddl"),
        ("ALTER TABLE users DROP PARTITION (p = 1)", "ddl"),
        ("ALTER TABLE users RECOVER PARTITIONS", "ddl"),
        ("ALTER TABLE users PARTITION (p = 1) RENAME TO PARTITION (p = 2)",
         "ddl"),
        ("REFRESH '/nonexistent'", "statement"),
        ("CALL spark_catalog.system.p()", "statement"),
    ]

    @pytest.mark.parametrize("sql,category", CASES)
    def test_default_gate_blocks_everything_but_queries(self, spark, sql, category):
        gate = SQLOptions()  # reference server default: deny DDL/DML/statements
        if category == "query":
            gate.verify(spark, sql)  # no raise
        else:
            with pytest.raises(PlanVerificationError):
                gate.verify(spark, sql)

    def test_selective_allow(self, spark):
        SQLOptions(allow_ddl=True).verify(spark, "DROP TABLE users")
        SQLOptions(allow_dml=True).verify(
            spark, "INSERT INTO users VALUES (9, 'Zed')"
        )
        SQLOptions(allow_statements=True).verify(spark, "RESET")
        with pytest.raises(PlanVerificationError):
            SQLOptions(allow_ddl=True).verify(spark, "RESET")

    def test_unparseable_statement_fails_with_spark_parse_error(self, spark):
        # no keyword fallback: what Spark cannot parse never reaches a bind
        with pytest.raises(ParseException, match="PARSE_SYNTAX_ERROR"):
            SQLOptions().verify(spark, "SELECT 1 +")
        assert not is_pure_query(spark, "SELECT 1 +")

    def test_dml_probe_is_not_pure(self, spark):
        assert is_pure_query(spark, "SELECT * FROM users WHERE id = $1")
        assert not is_pure_query(spark, "/**/ INSERT INTO users VALUES ($1, 'x')")
        assert not is_pure_query(spark, "EXECUTE IMMEDIATE 'SELECT 1'")


class TestClassicOnly:
    def test_jvm_less_session_refused(self):
        from pyspark.errors import PySparkAttributeError

        from datafusion_flight_sql_server_spark.engine.core import (
            ClassicSessionRequired,
        )

        class _ConnectSession:
            """What a Spark Connect session answers for its JVM handles."""

            def __getattr__(self, name):
                raise PySparkAttributeError(
                    errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                    messageParameters={"attr_name": name},
                )

        with pytest.raises(ClassicSessionRequired, match="only classic"):
            Engine(_ConnectSession())


class TestBenchmarkStatementsParse:
    """Every statement text the benchmark workloads send classifies as a
    query through the gate's parse, so none of them relies on a keyword
    classifier."""

    class _Oracle:
        """Stand-in for the workloads' DuckDB oracle: keys and expected
        answers only, enough to generate the request streams."""

        def key_range(self, table, key):
            return list(range(1, 1000))

        def lookups(self, table, key, keys):
            return dict.fromkeys(keys, ())

        def digest(self, sql):
            return ()

        def schema_names(self, sql):
            return ()

    @pytest.fixture(scope="class")
    def statements(self):
        import sys
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
        try:
            import workloads
        finally:
            sys.path.pop(0)
        texts = set()
        for seed in (5, 7):
            for make in workloads.WORKLOADS.values():
                for stream in make(seed, self._Oracle(), 12):
                    texts.update(r.sql for r in stream if r.sql)
        for tpl, params in workloads.AGGREGATIONS.values():
            texts.update(tpl.format(p=p) for p in params)
        texts.add(workloads.PREPARED_LOOKUP)
        return sorted(texts)

    def test_all_classify_as_query(self, spark, statements):
        from datafusion_flight_sql_server_spark.plans.dialect import rewrite_sql

        # the three workloads' lookups, scans, probes, aggregations and
        # the prepared lookup
        assert len(statements) > 20
        assert any("$1" in sql for sql in statements)
        gate = SQLOptions()
        for sql in statements:
            assert gate.verify(spark, rewrite_sql(sql)) == "query", sql


class TestParams:
    """$n/$name binding semantics (service.rs:1157-1192)."""

    def test_positional_rewrite(self):
        sql, names = normalize_placeholders("SELECT * FROM t WHERE a = $1 AND b > $2")
        assert names == ["1", "2"]
        assert ":p1" in sql and ":p2" in sql and "$" not in sql

    def test_named_rewrite(self):
        sql, names = normalize_placeholders("SELECT * FROM t WHERE a = $min_a")
        assert names == ["min_a"] and ":min_a" in sql

    def test_dollar_inside_string_literal_untouched(self):
        sql, names = normalize_placeholders("SELECT '$1 literal' AS s FROM t WHERE x = $1")
        assert names == ["1"]
        assert "'$1 literal'" in sql

    def test_repeated_and_out_of_order(self, spark):
        df = bind_sql(
            spark,
            "SELECT * FROM users WHERE id = $2 OR id = $1 OR id = $2",
            [1, 3],
        )
        assert sorted(r.id for r in df.collect()) == [1, 3]

    def test_record_batch_all_numeric_becomes_positional(self):
        batch = pa.RecordBatch.from_pydict(
            {"$2": pa.array(["b"]), "$1": pa.array(["a"])}
        )
        # sorted by index regardless of field order (service.rs:1178-1186)
        assert record_batch_to_params(batch) == ["a", "b"]

    def test_record_batch_named_becomes_dict(self):
        batch = pa.RecordBatch.from_pydict(
            {"$1": pa.array([5]), "name": pa.array(["x"])}
        )
        # any non-numeric name → named map (service.rs:1187-1191)
        assert record_batch_to_params(batch) == {"1": 5, "name": "x"}

    def test_ipc_single_row_enforced(self):
        schema = pa.schema([("$1", pa.int32())])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, schema) as w:
            w.write_batch(pa.RecordBatch.from_pydict({"$1": pa.array([1, 2], pa.int32())}))
        with pytest.raises(ParameterError, match="single row"):
            decode_ipc_params(sink.getvalue().to_pybytes())

    def test_unbound_placeholder_rejected(self, spark):
        with pytest.raises(ParameterError, match="unbound"):
            bind_sql(spark, "SELECT * FROM users WHERE id = $1")

    def test_null_bind_params(self):
        assert null_bind_params("SELECT 1") is None
        assert null_bind_params("SELECT * FROM t WHERE a = $1 AND b = $n") == {
            "p1": None,
            "n": None,
        }


class TestParameterSchema:
    """Parameter-schema inference (service.rs:1085-1105; declared divergence
    SURVEY §7 H3: comparison-context typing, string default)."""

    def test_typed_from_comparison_column(self, spark):
        schema = parameter_schema_for_sql(
            spark, "SELECT * FROM users WHERE id = $1"
        )
        assert schema.names == ["$1"]
        assert schema.field("$1").type == pa.int32()

    def test_string_default_and_order(self, spark):
        schema = parameter_schema_for_sql(
            spark, "SELECT * FROM users WHERE name = $who AND id > $2 AND $1 < id"
        )
        # numerics sorted by index first, then named lexicographically
        assert schema.names == ["$1", "$2", "who"]
        assert schema.field("who").type == pa.string()

    def test_plan_probe_types_function_context(self, spark):
        # the comparison regex can't see through abs(); the analyzed-plan
        # walk types the marker from the comparison's cast-STRIPPED sibling
        # (abs(id) is int), not the string-promotion bigint — round-6 H3
        # closure, matching DataFusion's column-type report
        schema = parameter_schema_for_sql(
            spark, "SELECT * FROM users WHERE abs(id) > $1"
        )
        assert schema.field("$1").type == pa.int32()

    def test_plan_probe_types_subquery_context(self, spark):
        # the walk recurses into the IN-subquery's plan; id + 1 is int in
        # Spark (int column + int literal), so the sibling type is int32
        schema = parameter_schema_for_sql(
            spark,
            "SELECT * FROM users WHERE id IN "
            "(SELECT id FROM users WHERE id + 1 < $1)",
        )
        assert schema.field("$1").type == pa.int32()

    def test_limit_offset_placeholders_typed_int64(self, spark):
        # LIMIT/OFFSET positions are int64 by grammar; the analyzed-plan
        # probe can't see them (analysis fails there), so the grammar rule
        # types them directly — closing the last documented
        # string-default residual for the paging shape
        schema = parameter_schema_for_sql(
            spark, "SELECT * FROM users LIMIT $1 OFFSET $2"
        )
        assert schema.field("$1").type == pa.int64()
        assert schema.field("$2").type == pa.int64()

    def test_plan_probe_failure_keeps_string_default(self, spark):
        # a placeholder where neither comparison, grammar-position, nor
        # plan analysis can type it: the default survives instead of
        # raising (GROUP BY $1 is positional-or-expression, ambiguous)
        schema = parameter_schema_for_sql(
            spark, "SELECT name FROM users GROUP BY $1"
        )
        assert schema.field("$1").type == pa.string()


class TestQualifierMetadata:
    """schema_metadata_test.rs:80-179 scenarios at the plans layer."""

    def test_simple_table_qualifier(self, spark):
        df = spark.sql("SELECT id, name FROM users")
        assert qualifier_metadata(df) == {"id": "users", "name": "users"}

    def test_subquery_and_join_aliases(self, spark):
        df = spark.sql(
            "SELECT u.id, u.name, o.amount FROM users u "
            "JOIN (SELECT * FROM orders WHERE amount > 25) o ON u.id = o.user_id"
        )
        assert qualifier_metadata(df) == {"id": "u", "name": "u", "amount": "o"}

    def test_computed_column_has_no_qualifier(self, spark):
        df = spark.sql("SELECT id + 1 AS next_id FROM users")
        assert "next_id" not in qualifier_metadata(df)

    def test_arrow_schema_metadata_flag(self, spark):
        df = spark.sql("SELECT id FROM users")
        with_md = arrow_schema_for_df(df, with_table_metadata=True)
        assert with_md.field("id").metadata[b"table_name"] == b"users"
        without = arrow_schema_for_df(df, with_table_metadata=False)
        assert not without.field("id").metadata or b"table_name" not in (
            without.field("id").metadata or {}
        )


class TestPlanCache:
    """Every call returns a new DataFrame with its own ``QueryExecution``.
    A repeated query may reuse its analyzed plan from the engine's plan
    memo (``tests/test_plan_memo.py``), and the statement gate runs on
    every call."""

    def test_every_call_replans(self, spark):
        engine = Engine(spark)
        a = engine.sql_to_plan("SELECT * FROM users")
        b = engine.sql_to_plan("SELECT * FROM users")
        assert a is not b
        c = engine.sql_to_plan("SELECT * FROM users")
        qes = [df._jdf.queryExecution() for df in (a, b, c)]
        assert not qes[0].equals(qes[1]) and not qes[1].equals(qes[2])


class TestExecuteStream:
    """Streamed delivery (service.rs:186-191; SURVEY §7 H1)."""

    def test_multibatch_bounded_stream(self, spark):
        # batch size is the session's maxRecordsPerBatch: Spark's own cut
        # passes through, never one giant batch
        session = spark.newSession()
        session.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        engine = Engine(session)
        df = session.range(0, 10_000, 1, 8).select(F.col("id").cast("bigint"))
        batches = list(engine.execute_stream(df))
        assert len(batches) > 1
        assert all(b.num_rows <= 1000 for b in batches)
        assert sum(b.num_rows for b in batches) == 10_000
        ids = [v for b in batches for v in b.column("id").to_pylist()]
        assert sorted(ids) == list(range(10_000))

    def test_stream_values_match_collect(self, spark):
        engine = Engine(spark)
        df = spark.sql(
            "SELECT id, name FROM users ORDER BY id"
        )
        batches = list(engine.execute_stream(df))
        table = pa.Table.from_batches(batches)
        assert table.column("name").to_pylist() == ["Alice", "Bob", "Charlie"]

    def test_arrow_path_engaged(self, spark):
        # A multi-partition, multi-type result streams as Arrow batches.
        engine = Engine(spark)
        df = spark.range(0, 20_000, 1, 4).selectExpr(
            "id",
            "cast(id as double) AS d",
            "cast(id as string) AS s",
            "array(id, id + 1) AS arr",
            "named_struct('a', id) AS st",
            "id % 2 = 0 AS b",
            "timestamp_micros(id) AS ts",
        )
        table = pa.Table.from_batches(list(engine.execute_stream(df)))
        assert table.num_rows == 20_000
        assert table.column("arr").to_pylist()[1] == [1, 2]

    def test_empty_result_streams_nothing(self, spark):
        engine = Engine(spark)
        df = spark.range(10).where("id < 0")
        assert list(engine.execute_stream(df)) == []

    def test_probe_reads_through_empty_leading_partitions(self, spark):
        # A selective filter often leaves partition 0 empty; the grouped
        # pull must read through empties to the rows behind them.
        engine = Engine(spark)
        df = spark.range(0, 100, 1, 8).where("id >= 90")
        batches = list(engine.execute_stream(df))
        assert sorted(
            v for b in batches for v in b.column("id").to_pylist()
        ) == list(range(90, 100))


class TestJvmArrowPath:
    """Results stream Spark's JVM-encoded Arrow batches."""

    @pytest.fixture
    def engine(self, spark):
        return Engine(spark)

    @pytest.fixture
    def pulls(self, monkeypatch):
        """Partition lists of every JVM pull, one per grouped pull."""
        from datafusion_flight_sql_server_spark.engine import core

        calls = []
        run_job = core._ArrowBatchPuller.runJob

        def _spy(self, jrdd, func, parts):
            calls.append(list(parts))
            return run_job(self, jrdd, func, parts)

        monkeypatch.setattr(core._ArrowBatchPuller, "runJob", _spy)
        return calls

    def test_multi_partition_types_equal_to_arrow(self, spark, engine, pulls):
        df = spark.range(0, 20_000, 1, 4).selectExpr(
            "id",
            "cast(id as double) AS d",
            "cast(id as string) AS s",
            "array(id, id + 1) AS arr",
            "named_struct('a', id) AS st",
            "id % 2 = 0 AS b",
            "timestamp_micros(id) AS ts",
            "cast(id / 7 as decimal(38,4)) AS dec",
            "date_add(date'2020-01-01', cast(id % 1000 as int)) AS dt",
            "make_dt_interval(cast(id % 5 as int), 2, 3, 4.5) AS dti",
            "map('k', id, 'j', id * 2) AS m",
        )
        table = pa.Table.from_batches(list(engine.execute_stream(df)))
        assert table.equals(df.toArrow())
        assert [p for c in pulls for p in c] == [0, 1, 2, 3]

    def test_order_by_across_grouped_pulls_keeps_global_order(
        self, spark, engine, pulls
    ):
        session = spark.newSession()
        session.conf.set("spark.sql.shuffle.partitions", "16")
        session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        df = session.range(0, 16_000, 1, 8).selectExpr(
            "(id * 7919) % 16000 AS k"
        ).orderBy(F.desc("k"))
        batches = list(engine.execute_stream(df))
        keys = [v for b in batches for v in b.column("k").to_pylist()]
        assert keys == list(range(15_999, -1, -1))
        # at least four grouped pulls, in partition order
        assert len(pulls) >= 4
        assert [p for c in pulls for p in c] == list(range(16))

    def test_closing_after_first_batch_returns_pull_pool(self, spark, engine):
        from datafusion_flight_sql_server_spark.engine import core

        pool = core._PullBudgetPool(core._PULL_POOL_TOTAL)
        saved = core._PULL_POOL
        core._PULL_POOL = pool
        try:
            df = spark.range(0, 24_000, 1, 24).selectExpr("id", "id * 2 AS v")
            # one batch per 1000-row partition: the second batch comes
            # from the second pooled group, which holds its reservation
            # while it streams
            gen = engine.execute_stream(df)
            next(gen)
            next(gen)
            assert pool._avail < pool.total
            gen.close()
            assert pool._avail == pool.total
            assert not pool._waiters
        finally:
            core._PULL_POOL = saved

    def test_duplicate_field_names_raise_before_any_pull(self, spark, engine, pulls):
        # Arrow structs cannot carry duplicate field names: Spark's own
        # condition comes from the schema conversion, before any pull
        df = spark.range(0, 50, 1, 2).selectExpr(
            "id", "named_struct('a', id, 'a', id + 1) AS st"
        )
        with pytest.raises(Exception, match="DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT"):
            list(engine.execute_stream(df))
        assert pulls == []

    def test_runtime_error_surfaces_without_row_path(self, spark):
        # A query that fails at run time raises its own error, for a plain
        # projection and a shuffle alike.
        engine = Engine(spark)
        session = spark.newSession()
        session.conf.set("spark.sql.ansi.enabled", "true")
        for sql in (
            "SELECT id, 10 DIV (id - id) AS z FROM range(0, 1000, 1, 2)",
            "SELECT id % 3 AS g, sum(10 DIV (id - id)) AS z "
            "FROM range(0, 1000, 1, 2) GROUP BY id % 3",
        ):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                list(engine.execute_stream(session.sql(sql)))

    @pytest.mark.parametrize(
        "sql, condition",
        [
            (
                "SELECT CAST(concat('x', id) AS INT) AS v "
                "FROM range(0, 1000, 1, 2)",
                "CAST_INVALID_INPUT",
            ),
            (
                "SELECT id + 9223372036854775807 AS v FROM range(1, 1000, 1, 2)",
                "ARITHMETIC_OVERFLOW",
            ),
        ],
        ids=["cast_invalid_input", "arithmetic_overflow"],
    )
    def test_ansi_runtime_errors_keep_their_condition(self, spark, sql, condition):
        # every ANSI run-time failure, not only division, is the query's
        # own error
        engine = Engine(spark)
        session = spark.newSession()
        session.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match=condition):
            list(engine.execute_stream(session.sql(sql)))

    def test_error_in_pooled_group_returns_pull_pool(self, spark):
        # the failing partition is the last of 24, so the first groups'
        # batches reach the consumer first and the error comes out of a
        # later pooled group pull, which must hand its reservation back
        from datafusion_flight_sql_server_spark.engine import core

        engine = Engine(spark)
        session = spark.newSession()
        session.conf.set("spark.sql.ansi.enabled", "true")
        df = session.range(0, 24_000, 1, 24).selectExpr(
            "id", "10 DIV (CASE WHEN id >= 23500 THEN 0 ELSE 1 END) AS z"
        )
        pool = core._PullBudgetPool(core._PULL_POOL_TOTAL)
        saved = core._PULL_POOL
        core._PULL_POOL = pool
        seen = []
        try:
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                for batch in engine.execute_stream(df):
                    seen.append(batch.num_rows)
        finally:
            core._PULL_POOL = saved
        assert sum(seen) >= 1000
        assert pool.peak > 0
        assert pool._avail == pool.total and not pool._waiters


class TestProbePoisoning:
    def test_paging_placeholder_does_not_poison_plan_probe(self, spark):
        # $2 (LIMIT) is grammar-typed; $1 needs the plan probe — a string
        # marker in LIMIT used to fail the whole analysis and leave $1 at
        # the string default (round-5 final review)
        schema = parameter_schema_for_sql(
            spark, "SELECT * FROM users WHERE abs(id) > $1 LIMIT $2"
        )
        assert schema.field("$1").type == pa.int32()  # cast-stripped sibling
        assert schema.field("$2").type == pa.int64()

    def test_cte_wrapped_dml_never_probe_executed(self, spark, tmp_path):
        # Round-6 regression (ADVICE r5 medium): the head regex admits
        # `WITH cte AS (...) INSERT INTO ...`, and spark.sql() executes
        # command plans EAGERLY — schema inference must never write the
        # '<!p:N!>' marker rows into a user table.
        spark.sql(
            "CREATE TABLE probe_guard_t(x INT) USING parquet "
            f"LOCATION '{tmp_path}/probe_guard_t'"
        )
        try:
            schema = parameter_schema_for_sql(
                spark,
                "WITH c AS (SELECT 1 AS y) "
                "INSERT INTO probe_guard_t SELECT y FROM c WHERE y > $1",
            )
            # typing degrades safely to the string default...
            assert schema.field("$1").type == pa.string()
            # ...and, the point: nothing executed during inference
            assert spark.table("probe_guard_t").count() == 0
        finally:
            spark.sql("DROP TABLE probe_guard_t")
