import os

import pytest

SF_DIR = os.environ.get("TMFRAME_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tmframe_spark.session import get_spark

    s = get_spark(app_name="tmframe-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import glob

    import duckdb

    con = duckdb.connect()
    for p in glob.glob(f"{SF_DIR}/*.parquet"):
        name = p.split("/")[-1].removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    yield con
    con.close()
