"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Runs one workload (``build`` or ``analytics``, see README.md)
on ``local[nproc]`` in this process, checks its outputs and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the Spark event log is turned on
for this session, spans are recorded around the program's public functions
and the metrics are the per-layer ones.  The line before it is a JSON record
with every figure of the run, including ``nproc`` and ``calib_s`` before and
after; the per-layer record is also written to
``.perfbench_work/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# an item is a turn handed to run_pipeline (build) or an edge of the
# analysed table (analytics)
END_TO_END = {"setup_s": "s", "wall_s": "s", "items_per_s": "items/s",
              "out_bytes_per_item": "B/item"}
MERGE_TABLES = ["mentions", "triples", "linked", "coref", "edges"]
ANALYTICS_PASSES = ["degree", "two_hop", "triangles", "pagerank",
                    "components", "link_pred", "bfs"]
SPAN_UNITS = {"self_s": "s", "tasks": "count", "cpu_ms": "ms",
              "python_ms": "ms", "shuffle_bytes": "B", "jobs": "count",
              "rows_inserted": "count"}
_TASKS = ("self_s", "tasks", "cpu_ms", "shuffle_bytes")
# per-layer metrics read from spans: (span name, fields)
LAYER_SPANS = (
    [("extract.extract_all", ("self_s", "tasks", "cpu_ms", "python_ms")),
     ("linking.link_mentions", _TASKS), ("coref.resolve_pronouns", _TASKS),
     ("canonicalize.connected_components", ("self_s", "jobs")),
     ("canonicalize.canonical_nodes", _TASKS)]
    + [(f"graph.merge_upsert.{t}", ("self_s", "shuffle_bytes", "rows_inserted"))
       for t in MERGE_TABLES]
    + [("run.find_hot_convs", ("self_s",)), ("run.run_pipeline", ("self_s",))]
    + [(f"analytics.{p}", ("self_s", "tasks", "shuffle_bytes"))
       for p in ANALYTICS_PASSES])
# per-layer metrics computed by the benchmark itself
LAYER_OTHER = {"session.get_spark_s": "s", "session.warm_session_s": "s",
               "extraction.extract_batch_turns_per_s": "turns/s",
               "extraction.error_turns": "count", "graph.insert_ratio": "ratio",
               "graph.kg_files": "count", "trace.wall_s": "s",
               "peak_rss_mb": "MB"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric -> unit.  A layer a workload does not run
    reads 0 there."""
    names = dict(LAYER_OTHER)
    for span, fields in LAYER_SPANS:
        names.update({f"{span}.{f}": SPAN_UNITS[f] for f in fields})
    return names


def _per_layer(spans: dict, other: dict) -> dict[str, float]:
    out = dict(other)
    for span, fields in LAYER_SPANS:
        for f in fields:
            # every row a merge writes is a row it inserted
            key = "rows_written" if f == "rows_inserted" else f
            out[f"{span}.{f}"] = spans.get(span, {}).get(key, 0)
    return out


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; tiny is for the smoke test")
    return p.parse_args(argv)


def _environment(work: str) -> dict:
    """Keep every file the run writes inside ``work``; returns Spark conf."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])})
    return {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait until every child has exited."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    host.wait_for_children()


def _trace_record(tracer, wl, events: str, measured: dict, e2e: dict) -> dict:
    """Per-layer metrics and every span of a traced run."""
    from tracing import per_span, read_event_log
    spans = per_span(tracer, read_event_log(events))
    rate, errors = wl.extract_sample()
    inserted = sum(spans.get(f"graph.merge_upsert.{t}", {}).get(
        "rows_written", 0) for t in MERGE_TABLES)
    offered = sum(tracer.offered.values())
    layers = _per_layer(spans, {
        **measured,
        "extraction.extract_batch_turns_per_s": rate,
        "extraction.error_turns": errors,
        "graph.insert_ratio": inserted / offered if offered else 0,
        "graph.kg_files": wl.kg_files,
        "trace.wall_s": e2e["wall_s"]})
    root = tracer.spans[0]
    return {"per_layer": layers, "spans": spans,
            "root_s": root["end"] - root["start"]}


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    events = os.path.join(work, "events")
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": events})
    calib_before = host.calib_s()

    t_start = time.perf_counter()
    sampler = host.RssSampler().start()
    sys.path.insert(0, ROOT)
    import ie_spark.session as session
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS

    # get_spark calls warm_session by its module name: time the two apart
    warm_s = []
    warm = session.warm_session

    def timed_warm(spark):
        t = time.perf_counter()
        warm(spark)
        warm_s.append(time.perf_counter() - t)
    session.warm_session = timed_warm
    t = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}",
                              master=f"local[{host.nproc()}]",
                              extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    session.warm_session = warm
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(bool(args.trace))
    tracer.attach(spark)
    session_s = time.perf_counter() - t_start

    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed,
                                      SIZES[args.scale][args.workload], tracer)
        setup_s = session_s + wl.setup()
        ran = wl.run(args.seconds)
        peak_rss_mb = sampler.stop()
        correct, attempted, failed = wl.check()
    finally:
        _stop(spark)
    wall = sum(ran["times"])
    e2e = {"setup_s": setup_s, "wall_s": wall,
           "items_per_s": ran["items"] / wall,
           "out_bytes_per_item": ran["out_bytes"] / ran["out_items"]}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "scale": args.scale,
              "trace": args.trace, "nproc": host.nproc(),
              "calib_s": calib_before, "correct": correct,
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "end_to_end": e2e,
              "peak_rss_mb": peak_rss_mb,
              "op_times_s": ran["times"]}
    if args.trace:
        record.update(_trace_record(
            tracer, wl, events,
            {"session.get_spark_s": get_spark_s - sum(warm_s),
             "session.warm_session_s": sum(warm_s),
             "peak_rss_mb": peak_rss_mb}, e2e))
        with open(os.path.join(
                WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json"),
                "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        units, values = per_layer_names(), record["per_layer"]
    else:
        units, values = END_TO_END, e2e
    shutil.rmtree(work, ignore_errors=True)
    record["calib_end_s"] = host.calib_s()
    print(json.dumps(record, sort_keys=True, default=float))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed),
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
