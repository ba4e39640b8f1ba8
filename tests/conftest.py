import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ie_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ie-spark-tests", master="local[4]")
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


@pytest.fixture
def staged_at_link(monkeypatch):
    """``watch(out)`` wraps ``run.link_mentions`` so each ``run_pipeline``
    call snapshots ``<out>/_extracted`` as it starts linking, the last
    point where the run still holds that table (a completed run deletes
    it), then calls through.  Returns the snapshot, refilled per call:
    ``files`` {bucket: sorted parquet file names} and ``rows`` (counted
    from the parquet footers, so no Spark job runs)."""
    import pyarrow.parquet as pq

    from ie_spark.pipeline import run

    def watch(out):
        staged = os.path.join(os.path.abspath(out), "_extracted")
        snap = {}
        link = run.link_mentions

        def snapshot(*args, **kwargs):
            dirs = (os.listdir(staged) if os.path.isdir(staged) else [])
            snap["files"] = {
                int(d.split("=")[1]): sorted(
                    f for f in os.listdir(os.path.join(staged, d))
                    if f.endswith(".parquet"))
                for d in dirs if d.startswith("_bucket=")}
            snap["rows"] = sum(
                pq.read_metadata(os.path.join(staged, f"_bucket={b}", f))
                .num_rows for b, fs in snap["files"].items() for f in fs)
            return link(*args, **kwargs)
        monkeypatch.setattr(run, "link_mentions", snapshot)
        return snap
    return watch
