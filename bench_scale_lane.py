"""Larger-scale evidence lane (guide §1: optimizations must hold beyond
the bench SF).  NOT the driver contract — bench.py is frozen; this lane
exists so the round's optimizations are demonstrably not tuned to the
600k-row single-row-group sf0.1 files.

Builds a K×-scaled copy of the sf0.1 star schema under /tmp (testdata is
read-only and never modified):
  - lineitem / orders / customer: K key-shifted copies (FKs preserved);
  - events: K copies with shifted event/user ids;
  - documents: K×5000 DISTINCT seeded word-bag docs (near-dup structure
    is NOT replicated K× — exact copies would make the dedup queries
    quadratically harder than any real corpus growth);
  - embeddings: K×2000 seeded unit-ish vectors (dim 64, vec_id 0 kept).
Tables are written repartitioned, so scans arrive multi-partition —
exercising the `adaptive_fan_out` no-op branch — and with zstd parquet.

Usage:
    python bench_scale_lane.py [K]          # default K=5
prints one JSON line with per-query wall seconds over the scaled dir.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ie_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
K = int(sys.argv[1]) if len(sys.argv) > 1 else 5
OUT = f"/tmp/sf_scaled_x{K}"
SHIFT = 10 ** 9

QUERIES = [
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "events_sessionize", "doc_exact_dedup", "doc_minhash_dedup",
    "doc_ngram_dups", "doc_quality", "emb_cosine_topk", "media_features",
]


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build(spark) -> None:
    os.makedirs(OUT, exist_ok=True)

    def copies(df, shift_cols):
        """K key-shifted copies; ``shift_cols`` is the list of id columns
        that each get +i*SHIFT in copy i (FKs shift together)."""
        parts = []
        for i in range(K):
            c = df
            for col in shift_cols:
                c = c.withColumn(col, F.col(col) + F.lit(i * SHIFT))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def write(df, name, parts=32):
        df.repartition(parts).write.mode("overwrite") \
            .parquet(f"{OUT}/{name}.parquet")

    r = spark.read
    write(copies(r.parquet(f"{SRC}/lineitem.parquet"),
                 ["l_orderkey"]), "lineitem")
    write(copies(r.parquet(f"{SRC}/orders.parquet"),
                 ["o_orderkey", "o_custkey"]), "orders")
    write(copies(r.parquet(f"{SRC}/customer.parquet"),
                 ["c_custkey"]), "customer")
    for small in ("nation", "region", "supplier", "part"):
        write(r.parquet(f"{SRC}/{small}.parquet"), small, parts=1)
    ev = r.parquet(f"{SRC}/events.parquet")
    write(copies(ev, [c for c in ("event_id", "user_id")
                      if dict(ev.dtypes).get(c, "").startswith(
                          ("int", "bigint"))]), "events")

    # distinct seeded word-bag documents (deterministic, no planted dups)
    # synthetic 5000-token vocabulary: a tiny word list makes random
    # short docs near-duplicates BY CHANCE, giving the dedup queries an
    # artificial quadratic candidate structure no real corpus-growth has
    # (observed: minhash 3.3 s at 5× → 10.2 s at 10× with a 49-word
    # vocab); ids-as-words keep shingle collisions realistic
    n_docs = K * 5000
    docs = (spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), (F.pmod(F.xxhash64("id"), 20) + 8)
                       .cast("int")),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id") * 131 + i), 5000)
                .cast("string")))).alias("text"),
        F.concat(F.lit("src"),
                 (F.pmod(F.xxhash64("id"), 3) + 1).cast("string"))
        .alias("source")))
    write(docs, "documents", parts=16)

    emb = (spark.range(K * 2000).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)),
                    lambda i: ((F.pmod(F.xxhash64(F.col("id") * 977 + i),
                                       2000) - 1000) / 1000.0)
                    .cast("float")).alias("embedding")))
    write(emb, "embeddings", parts=8)


def main() -> None:
    import __spark_entry__ as entry
    spark = get_spark("ie-spark-scale-lane",
                      master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{OUT}/embeddings.parquet"):
        t0 = time.time()
        build(spark)
        print(f"# built {OUT} in {time.time() - t0:.1f}s", file=sys.stderr)
    qmap = entry.queries()
    results = {}
    for name in QUERIES:
        spark.sparkContext.setJobDescription(f"scale-lane {name}")
        t0 = time.time()
        _sink(qmap[name](spark, OUT))
        results[name] = round(time.time() - t0, 3)
    print(json.dumps({"k": K, "dir": OUT, "queries": results,
                      "value": round(sum(results.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
