import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from geozero_spark.plans.session import make_session
    # 4g, not make_session's 8g floor: the suite passes at 4g, and at
    # 8g its local[8] JVM grew to 8.5 GB RSS, half of a 15 GB host
    s = make_session("tests", cpus=8, shuffle_partitions=8,
                     extra={"spark.driver.memory": "4g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{SF_DIR}/{t}.parquet'")
    return con
