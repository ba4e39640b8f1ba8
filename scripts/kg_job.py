"""spark-submit entry point: KG extraction throughput at a given parallelism.

Usage (north rule: launched via spark-submit --py-files at two cluster
sizes; sandbox proxy = local[N] vs local[4N]):

  spark-submit --master local[8]  --py-files ie_spark.zip scripts/kg_job.py \
      --convs 20000 --out /tmp/kg8.json

Prints one JSON line {"cores": N, "turns": T, "sec": S, "turns_per_sec": R}.

Methodology: the input corpus is generated distributed (deterministic per
conversation), cached and counted before the clock; Python workers are
warmed with a small extraction pass so the measured region is steady-state
extraction throughput, not process spin-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("kg-extract-bench")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
             # the default 1g driver heap makes the cached corpus spill
             # and GC-thrash past ~2M turns (measured: 198k → 91k
             # turns/s at 4.8M turns); only applies when this process
             # launches the JVM — spark-submit's own setting wins
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from ie_spark.data.synthetic import transcripts_spark
    from ie_spark.pipeline.extract import extract_triples
    from ie_spark.session import ship_package
    ship_package(spark)

    tdf = transcripts_spark(spark, args.convs, seed=args.seed,
                            partitions=cores * 3).cache()
    n_turns = tdf.count()  # materialize input before the clock

    # warm Python workers on every core (not part of the measurement)
    warm = transcripts_spark(spark, cores * 6, seed=1, partitions=cores * 3)
    extract_triples(warm).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    extract_triples(tdf).write.format("noop").mode("overwrite").save()
    sec = time.time() - t0

    res = {"cores": cores, "turns": n_turns, "sec": round(sec, 3),
           "turns_per_sec": round(n_turns / sec, 1)}
    line = json.dumps(res)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
