"""Graph materialization: fact-table merges, derived-table overwrites and
the checkpoint/lineage rows ``pipeline.run.run_pipeline`` resumes from.

The reference's sink is S3 JSON + SQS at-least-once with content-hash dedup
(``marbles/aws/__init__.py:115-254``); the Spark-native equivalent is
MERGE-based idempotent appends (north rule).  On a cluster with an Iceberg
catalog, ``merge_upsert`` issues a real ``MERGE INTO``; in this sandbox
(no Iceberg runtime jar) it falls back to an anti-join + append with the
same semantics — run twice, get identical tables (tests assert this).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ie_spark.session import local_frame


def _iceberg_available(spark: SparkSession) -> bool:
    return "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions" in (
        spark.conf.get("spark.sql.extensions", "") or "")


def merge_upsert(spark: SparkSession, df: DataFrame, target: str,
                 keys: list[str]) -> None:
    """Idempotent upsert of ``df`` into ``target`` on ``keys``.

    target: an Iceberg table name (catalog present) or a parquet directory
    path.  Parquet fallback = read-existing → anti-join new rows → append,
    which matches MERGE INTO ... WHEN NOT MATCHED THEN INSERT semantics for
    immutable fact rows (mentions and triples are append-only facts;
    tables derived from them are rebuilt, not merged).
    """
    if not target.startswith(("/", "file:")) and _iceberg_available(spark):
        df.createOrReplaceTempView("_merge_src")
        on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        spark.sql(
            f"MERGE INTO {target} t USING _merge_src s ON {on} "
            f"WHEN NOT MATCHED THEN INSERT *")
        return
    # parquet fallback with identical observable semantics.  MERGE keys a
    # batch by `keys`, so dedup within the batch too (duplicate-key rows in
    # one batch would all insert otherwise).  No manual broadcast hint: the
    # existing-keys side grows with the TARGET table (billions of rows at
    # 10^12 turns) — let AQE/autoBroadcastJoinThreshold size-gate the join
    # strategy instead of force-broadcasting an unbounded set.
    if os.path.isdir(target) and any(
            f.endswith(".parquet") or f == "_SUCCESS"
            for f in os.listdir(target)):
        existing = spark.read.parquet(target).select(*keys).distinct()
        new_rows = (df.dropDuplicates(keys)
                    .join(existing, on=keys, how="left_anti")
                    .select(*df.columns))
        new_rows.write.mode("append").parquet(target)
    else:
        df.dropDuplicates(keys).write.mode("overwrite").parquet(target)


def replace_table(df: DataFrame, path: str) -> int:
    """Overwrite the parquet table at ``path`` with ``df``; return the rows
    written, counted by an observation on the write job itself."""
    rows = Observation()
    (df.observe(rows, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(path))
    return int(rows.get["n"])


def write_checkpoints(spark: SparkSession, checkpoint_path: str,
                      rows: list[tuple]) -> None:
    """Batched checkpoint append: one write for any number of bucket rows
    (per-bucket appends would be n_buckets tiny sequential jobs)."""
    df = (local_frame(spark, rows,
                      "job_id string, bucket int, status string, "
                      "n_turns long, n_triples long, wall_ms long, "
                      "lineage string")
          .withColumn("finished_at", F.current_timestamp()))
    df.coalesce(1).write.mode("append").parquet(checkpoint_path)


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   n_buckets: int = 64,
                   sort_cols: "list[str] | None" = None,
                   mode: str = "overwrite") -> None:
    """Materialize a table bucketed (and optionally sorted) by its join
    key — the co-located-join primitive: two tables bucketed the same
    way join WITHOUT either side shuffling (no Exchange in the plan,
    asserted in tests), and per-key aggregations skip their exchange
    too.  At 10^12-edge scale, bucketing the edge table by src once at
    write time amortizes every downstream per-key join/agg against it.

    ``n_buckets`` should be sized so a bucket fits an executor's
    memory at the target scale and kept IDENTICAL across the tables
    meant to co-join (Spark only elides the shuffle when bucket counts
    match).  Requires a table catalog (saveAsTable) — path-only
    parquet writes cannot carry bucket metadata.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
