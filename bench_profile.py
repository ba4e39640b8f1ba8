"""Profiling tool: per-leaf times plus per-stage metrics read from the Spark
event log of its own session (bench.py stays the driver contract).

    python bench_profile.py [--scale K] [--plans DIR] [leaf ...]

Runs on local[$SPARK_GRAFT_CPUS] over $SPARK_GRAFT_SF_DIR, with bench.py's
defaults.  The default leaves are bench.py's 12 timed ones.  A leaf is:
  - a ``queries()`` name, or ``kg_extract`` / ``emb_near_dups_blocked``
    built as bench.py builds them, reporting ``build_s`` (DataFrame
    construction; for ``kg_extract`` also making and caching its corpus),
    ``run1_s`` (first noop-sink run: analysis, optimization, codegen and
    execution) and ``run2_s`` (second run).  ``--plans DIR`` writes its
    ``explain("formatted")`` to ``DIR/<leaf>.txt``;
  - a perfbench workload (``build``, ``analytics``): ``setup()``, one
    operation and ``check()`` through perfbench's ``Tracer``, so its jobs
    carry the span names (``graph.merge_upsert.linked``, ...).
``--scale K`` first writes a K-times copy of the input under
$TMPDIR/sf_scaled_x<K>/<sf name> and runs the query leaves over it.

Each completed stage is one row, grouped by leaf, then by job description
(the leaf, or the perfbench span): tasks, operators, wall ms, executor run
ms, JVM CPU ms, run - CPU, GC ms, fetch-wait ms, shuffle read and write
bytes, memory and disk spill bytes, and peak execution memory (summed over
tasks).  Progress lines go to stdout; the last line is one JSON object with
``nproc``, ``calib_s`` and the leaves.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "perfbench"))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from bench import (CPUS, HEADLINE, KG_CONVS_BENCH, SF_DIR,  # noqa: E402
                   _CALIB_ST, _calibrate, _sink)
from host import nproc  # noqa: E402
from ie_spark.data.synthetic import transcripts_spark  # noqa: E402
from ie_spark.operators.dedup import embedding_near_dups  # noqa: E402
from ie_spark.pipeline.extract import extract_triples  # noqa: E402
from ie_spark.session import get_spark  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

SHIFT = 10 ** 9
# table -> id columns shifted by i * SHIFT in copy i (foreign keys shift
# with their keys); None: one unshifted copy
SCALED = {"lineitem": ["l_orderkey"], "orders": ["o_orderkey", "o_custkey"],
          "customer": ["c_custkey"], "events": ["event_id", "user_id"],
          "nation": None, "region": None, "supplier": None, "part": None}


def scale_copy(spark, src: str, k: int) -> str:
    """The K-times copy of ``src``, written once and then reused.  Documents
    are K*5000 distinct seeded word bags over a 5000-word vocabulary: copies
    of the source documents would make the dedup queries quadratically
    harder than any real corpus growth."""
    out = os.path.join(tempfile.gettempdir(), f"sf_scaled_x{k}",
                       os.path.basename(src.rstrip("/")))
    if os.path.exists(os.path.join(out, "embeddings.parquet")):
        return out

    def write(df, name, parts=32):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet"))

    for name, ids in SCALED.items():
        df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        if ids is None:
            write(df, name, parts=1)
            continue
        write(functools.reduce(DataFrame.unionByName, [
            df.select(*[(F.col(c) + F.lit(i * SHIFT)).alias(c) if c in ids
                        else c for c in df.columns]) for i in range(k)]),
              name)
    words = F.transform(
        F.sequence(F.lit(1), (F.pmod(F.xxhash64("id"), 20) + 8).cast("int")),
        lambda i: F.concat(F.lit("w"), F.pmod(
            F.xxhash64(F.col("id") * 131 + i), 5000).cast("string")))
    write(spark.range(k * 5000).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"),
        F.concat(F.lit("src"), (F.pmod(F.xxhash64("id"), 3) + 1)
                 .cast("string")).alias("source")), "documents", parts=16)
    write(spark.range(k * 2000).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (
            (F.pmod(F.xxhash64(F.col("id") * 977 + i), 2000) - 1000)
            / 1000.0).cast("float")).alias("embedding")),
        "embeddings", parts=8)
    return out


def run_query(spark, name: str, sf: str, plans: str | None) -> dict:
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    if name == "kg_extract":
        tdf = transcripts_spark(spark, KG_CONVS_BENCH, seed=42).cache()
        tdf.count()
        df = extract_triples(tdf)
    elif name == "emb_near_dups_blocked":
        df = embedding_near_dups(spark.read.parquet(
            os.path.join(sf, "embeddings.parquet")),
            threshold=0.8, block_bits=8)
    else:
        df = entry.queries()[name](spark, sf)
    t1 = time.time()
    if plans:
        os.makedirs(plans, exist_ok=True)
        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
    t2 = time.time()
    _sink(df)
    t3 = time.time()
    _sink(df)
    t4 = time.time()
    if name == "kg_extract":
        tdf.unpersist()
    return {"build_s": round(t1 - t0, 3), "run1_s": round(t3 - t2, 3),
            "run2_s": round(t4 - t3, 3)}


def run_workload(spark, name: str) -> dict:
    """perfbench's ``setup()``, one operation and ``check()`` (seed 1)."""
    tracer = Tracer(True)
    tracer.attach(spark)
    work = tempfile.mkdtemp(prefix=f"profile_{name}_")
    try:
        wl = WORKLOADS[name](spark, work, 1, SIZES["full"][name], tracer)
        setup_s = wl.setup()
        op_s = wl.run(10)["times"][0]
        correct = wl.check()[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"setup_s": round(setup_s, 3), "op_s": round(op_s, 3),
            "correct": bool(correct)}


def stage_rows(log_dir: str) -> list[tuple[float, str, dict]]:
    """(submission time in epoch s, job description, row) of every
    completed stage of the event log under ``log_dir``."""
    kinds = ("SparkListenerStageSubmitted", "SparkListenerStageCompleted")
    events = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if not f.startswith((".", "appstatus")):
                with open(os.path.join(root, f)) as fh:
                    events += [e for e in map(json.loads, fh)
                               if e["Event"] in kinds]
    # every attempt of a stage belongs to the same job, so the same
    # description
    desc = {e["Stage Info"]["Stage ID"]: (e.get("Properties") or {}).get(
        "spark.job.description") for e in events if e["Event"] == kinds[0]}
    rows = []
    for info in (e["Stage Info"] for e in events if e["Event"] == kinds[1]):
        m = {a["Name"][len("internal.metrics."):]: int(a.get("Value") or 0)
             for a in info.get("Accumulables", [])
             if a["Name"].startswith("internal.metrics.")}
        run = m.get("executorRunTime", 0)
        cpu = round(m.get("executorCpuTime", 0) / 1e6)
        rows.append((info["Submission Time"] / 1000.0,
                     desc.get(info["Stage ID"]), {
            "stage": info["Stage ID"], "tasks": info["Number of Tasks"],
            # the operators (PythonRDD, MapInPandas, Exchange, ...) it ran
            "ops": sorted({json.loads(r.get("Scope") or "{}").get("name")
                           or r["Name"] for r in info["RDD Info"]}),
            "wall_ms": info["Completion Time"] - info["Submission Time"],
            "run_ms": run, "cpu_ms": cpu, "off_cpu_ms": run - cpu,
            "gc_ms": m.get("jvmGCTime", 0),
            "fetch_wait_ms": m.get("shuffle.read.fetchWaitTime", 0),
            "shuffle_read_b": m.get("shuffle.read.localBytesRead", 0)
            + m.get("shuffle.read.remoteBytesRead", 0),
            "shuffle_write_b": m.get("shuffle.write.bytesWritten", 0),
            "spill_mem_b": m.get("memoryBytesSpilled", 0),
            "spill_disk_b": m.get("diskBytesSpilled", 0),
            "peak_mem_b": m.get("peakExecutionMemory", 0)}))
    return rows


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--scale", type=int, help="K: run on a K-times copy")
    p.add_argument("--plans", help="write each query plan to DIR/<leaf>.txt")
    p.add_argument("leaves", nargs="*", default=["kg_extract", *HEADLINE])
    args = p.parse_args(argv)
    known = {"kg_extract", "emb_near_dups_blocked", *entry.queries(),
             *WORKLOADS}
    if set(args.leaves) - known:
        p.error(f"unknown leaves: {sorted(set(args.leaves) - known)}")

    calib_s = _calibrate(_CALIB_ST)
    events = tempfile.mkdtemp(prefix="profile_events_")
    spark = get_spark("ie-spark-profile", master=f"local[{CPUS}]",
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.dir": events,
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = scale_copy(spark, SF_DIR, args.scale) if args.scale else SF_DIR
    leaves, windows = {}, []
    for name in args.leaves:
        t0 = time.time()
        leaves[name] = (run_workload(spark, name) if name in WORKLOADS
                        else run_query(spark, name, sf, args.plans))
        windows.append((name, t0, time.time()))
        print(name, json.dumps(leaves[name]), flush=True)
        leaves[name]["stages"] = {}
    spark.stop()
    for submitted, desc, row in stage_rows(events):
        for name, t0, t1 in windows:
            if t0 <= submitted < t1:
                leaves[name]["stages"].setdefault(desc or "-", []).append(row)
    shutil.rmtree(events, ignore_errors=True)
    print(json.dumps({"nproc": nproc(), "calib_s": calib_s, "cpus": CPUS,
                      "sf_dir": sf, "leaves": leaves}))


if __name__ == "__main__":
    main()
