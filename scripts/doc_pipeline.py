"""CLI: the full training-data cleaning ladder over a documents table.

    python scripts/doc_pipeline.py --in /root/testdata/sf0.01 \
        --out /tmp/clean [--eval-rate 0.05]

Writes <out>/train and <out>/eval parquet plus one JSON stats line.
With --pack-capacity N, also writes <out>/train_pack — the per-shard
sequence-packing segments of the train split (operators/packing.py),
so a shard writer can emit fixed-N-token training sequences directly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="inp", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/doc_clean")
    ap.add_argument("--eval-rate", type=float, default=0.05)
    ap.add_argument("--pack-capacity", type=int, default=0,
                    help="also write train_pack segments at this "
                         "sequence capacity (0 = skip)")
    ap.add_argument("--pack-shards", type=int, default=8)
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("doc-clean")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from ie_spark.pipeline.docs import clean_documents
    from ie_spark.session import ship_package
    ship_package(spark)

    t0 = time.time()
    docs = spark.read.parquet(os.path.join(args.inp, "documents.parquet"))
    n_in = docs.count()
    out = clean_documents(docs, eval_rate=args.eval_rate)
    out["train"].write.mode("overwrite").parquet(
        os.path.join(args.out, "train"))
    out["eval"].write.mode("overwrite").parquet(
        os.path.join(args.out, "eval"))
    train = spark.read.parquet(os.path.join(args.out, "train"))
    n_train = train.count()
    n_eval = spark.read.parquet(os.path.join(args.out, "eval")).count()
    # counted from the dropped frame itself, NOT the residual — so the
    # n_train + n_eval + n_dropped == n_in invariant can actually fail
    # if a stage loses rows
    by_reason = {r["drop_reason"]: r["n"] for r in
                 out["dropped"].groupBy("drop_reason")
                 .agg(F.count("*").alias("n")).collect()}
    stats = {"n_in": n_in, "n_train": n_train, "n_eval": n_eval,
             "n_dropped": sum(by_reason.values()),
             "dropped_by_reason": by_reason,
             "accounted": n_train + n_eval + sum(by_reason.values())
             == n_in,
             "wall_s": round(time.time() - t0, 2)}
    if args.pack_capacity > 0:
        from ie_spark.operators.packing import pack_emit
        from ie_spark.operators.textstats import token_count
        seg = pack_emit(train, capacity=args.pack_capacity,
                        n_shards=args.pack_shards)
        seg.write.mode("overwrite").parquet(
            os.path.join(args.out, "train_pack"))
        packed = spark.read.parquet(os.path.join(args.out, "train_pack"))
        # one scan for all three stats, not three jobs
        n_seg, n_seq, n_tok = packed.agg(
            F.count("*"), F.count_distinct("shard", "seq_id"),
            F.sum("n_seg_tokens")).collect()[0]
        train_tok = train.agg(
            F.sum(token_count("text"))).collect()[0][0]
        stats["pack"] = {
            "capacity": args.pack_capacity,
            "n_segments": n_seg,
            "n_sequences": n_seq,
            "n_tokens": n_tok,
            # SELF-CHECKING conservation (like `accounted`): segments
            # must cover the train split's tokens exactly
            "tokens_conserved": n_tok == train_tok,
        }
        stats["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
