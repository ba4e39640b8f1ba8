import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ie_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ie-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def kg_tables(spark):
    """Reads every KG table of a ``run_pipeline`` output dir as a set of
    rows over its sorted column names, so column order does not count."""
    def read(out):
        tables = {}
        for t in ("mentions", "triples", "linked", "coref", "nodes", "edges"):
            df = spark.read.parquet(os.path.join(out, t))
            tables[t] = {tuple(r) for r in
                         df.select(*sorted(df.columns)).collect()}
        return tables
    return read
