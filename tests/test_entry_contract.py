"""Mirror of the driver's correctness gate: run every ``queries()`` entry on
the testdata parquet and compare against ``oracle_sql()`` via DuckDB —
row count, column names, and (column-name-sorted, row-sorted) values."""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            # unify resolution: Spark's arrow conversion hands struct-
            # extracted timestamps back as datetime64[ns] while DuckDB
            # yields [us]; numpy's astype(str) would then print padded
            # nanoseconds on one side only.  (The driver stringifies
            # per-VALUE with str(Timestamp), which never pads — this
            # mirrors that.)
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(name, spark_df, oracle_df):
    a, b = _normalize(spark_df), _normalize(oracle_df)
    assert list(a.columns) == list(b.columns), \
        f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating) or \
                np.issubdtype(b[c].dtype, np.floating):
            af = pd.to_numeric(a[c]).astype(float).values
            bf = pd.to_numeric(b[c]).astype(float).values
            bad = ~(np.isclose(af, bf, rtol=0, atol=0, equal_nan=True))
            assert not bad.any(), \
                f"{name}.{c}: {bad.sum()} value mismatches, e.g. " \
                f"{af[bad][:3]} vs {bf[bad][:3]}"
        else:
            mism = av.astype(str) != bv.astype(str)
            assert not mism.any(), \
                f"{name}.{c}: {mism.sum()} mismatches, e.g. " \
                f"{av[mism][:3]} vs {bv[mism][:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "subj" in df.columns and "pred" in df.columns


ORACLED = sorted(entrymod.oracle_sql().keys())
ALL = sorted(entrymod.queries().keys())


def test_oracle_keys_subset_of_queries():
    assert set(ORACLED) <= set(ALL)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, sf_dir).toPandas()
    oracle_pdf = ddb.execute(entrymod.oracle_sql()[name]).df()
    _compare(name, spark_pdf, oracle_pdf)


@pytest.mark.parametrize("name", sorted(set(ALL) - set(ORACLED)))
def test_unoracled_queries_run(spark, sf_dir, name):
    q = entrymod.queries()[name]
    df = q(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_driver_contract_from_foreign_cwd(tmp_path, sf_dir):
    """The grading driver imports __spark_entry__ into a plain
    SparkSession started outside the repo.  The package must reach the
    Python workers from the very first query (doc_ngram_dups's Arrow
    shingling), the media table must build with Arrow off (the plain
    builder's default), and a per-sentence kg surface must run too."""
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as e\n"
        "q = e.queries()\n"
        "for name in ('doc_ngram_dups', 'media_features', "
        "'kg_constituents'):\n"
        f"    print(name, q[name](spark, {sf_dir!r}).count())\n"
        "spark.stop()\n")
    # the workers must not find the repo through the environment either
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != repo]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    proc = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = dict(ln.split() for ln in proc.stdout.splitlines()
                  if ln.split()[0] in ("doc_ngram_dups", "media_features",
                                       "kg_constituents"))
    assert set(counts) == {"doc_ngram_dups", "media_features",
                           "kg_constituents"}
    assert int(counts["media_features"]) == 48
    assert int(counts["kg_constituents"]) > 0


def test_package_zip_holds_every_module(tmp_path):
    """The shipped zip is every ``ie_spark/**/*.py``, named relative to the
    repo root, and nothing else."""
    import glob
    import zipfile

    from ie_spark.session import package_zip
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = package_zip(str(tmp_path / "pkg.zip"))
    want = {os.path.relpath(p, repo) for p in glob.glob(
        os.path.join(repo, "ie_spark", "**", "*.py"), recursive=True)}
    names = zipfile.ZipFile(path).namelist()
    assert len(names) == len(want) and set(names) == want
