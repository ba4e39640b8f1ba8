"""Shared partitioning helpers.

The one scan fan-out policy, so its threshold and width cannot drift
between call sites.  Guarded by
``tests/test_plans.py::test_fan_out_noops_on_wide_input``.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame


def input_bytes(df: DataFrame) -> int:
    """Total size of the files ``df`` reads; 0 when it reads none or they
    are not on the local file system.  ``inputFiles`` returns URIs, so
    the path is percent-decoded before ``getsize``."""
    try:
        return sum(os.path.getsize(url2pathname(urlparse(f).path))
                   for f in df.inputFiles())
    except OSError:
        return 0


def adaptive_fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition (round-robin when no ``keys``) ONLY when the input
    arrives with fewer partitions than half the session's parallelism
    (guide §2.5 'input skew: one huge unsplittable file': a
    single-row-group parquet file is one scan partition, serializing every
    downstream operator on one core even under all-broadcast plans).  At
    cluster scale the input partitioning already exceeds the target and
    this returns ``df`` unchanged — no exchange appears in the plan.

    Width scales with input bytes: ~2 MiB per task, floor
    max(8, cores/4), cap cores.  A tiny input is dispatch-bound, so a
    narrow fan avoids paying one task per core for microseconds of work;
    a few hundred MB arriving as a handful of splits still fans to every
    core.  Keys must be deterministic, high-cardinality columns (never
    rand(); guide §2.5 retry semantics); prefer the downstream join/window
    key so the exchange is reused.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, cores // 2):
        width = min(cores, max(8, cores // 4, input_bytes(df) // (2 << 20)))
        return df.repartition(width, *keys)
    return df
