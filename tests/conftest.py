import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("OSI_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from oscar_spatial_index_compare_spark.session import get_spark

    s = get_spark(app_name="osi-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def engine(spark):
    from oscar_spatial_index_compare_spark.engine import Engine

    return Engine(spark, SF_DIR)


@pytest.fixture(scope="session")
def cat_engine(spark):
    """A catalog-backed engine: tables written once, read back as scans."""
    from oscar_spatial_index_compare_spark.engine import Engine

    return Engine(spark, SF_DIR, catalog_root=tempfile.mkdtemp(prefix="osi_cat_"))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con
