import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import os

# Parity tests run at sf0.001 by default; set SPARK_GRAFT_TEST_SF to check at
# the driver's correctness scale (sf0.01) or bench scale (sf0.1).
SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from datafusion_flight_sql_server_spark.engine.session import build_session

    spark = build_session(master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views,
    mimicking the driver's oracle setup."""
    import duckdb

    from datafusion_flight_sql_server_spark.engine.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(autouse=True)
def _empty_plan_memo():
    """The engine's plan memo, and the results its entries keep, are
    process-wide: every test starts with it empty, so test order cannot
    turn one test's run into another's hit."""
    from datafusion_flight_sql_server_spark.engine import core

    core._PLAN_MEMO.clear()
