"""In-memory spans around the program's public functions, joined with
Spark's event log after the run.

A span is opened by the benchmark around each call into a layer; nothing
inside ``ie_spark`` is changed.  While a span is open the Spark job
description is its name, so the jobs it runs are tagged with it.  Spark is
lazy: a call that returns a DataFrame usually runs no job, and its work
executes in the caller's next action.  So when a wrapped call returns a
DataFrame, a *tail* of that span stays open, and its name stays the job
description, until the next span opens or the enclosing one closes; the
caller's action on the frame (``extract_all(...).write``, the write of an
analytics pass) is charged to it.  A frame handed straight to another
wrapped call (``link_mentions`` -> ``merge_upsert``) runs inside that
call's write and is charged to the consumer: numbers taken from outside the
program cannot split one Spark job.

A span's self time is the part of the timed section during which it (or its
tail) is the innermost open span.  Every instant has one owner, so self
times add up to the root span.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Records spans; a disabled tracer only runs the wrapped code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._tail: dict | None = None
        self._sc = None
        self._patched: list[tuple] = []
        self.offered: dict[str, int] = defaultdict(int)

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _open(self, name: str, tail: bool) -> dict:
        rec = {"name": name, "start": time.time(), "end": None,
               "depth": len(self._stack), "tail": tail}
        self.spans.append(rec)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        return rec

    def _close_tail(self) -> None:
        if self._tail is not None:
            self._tail["end"] = time.time()
            self._tail = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; set ``lazy[0]`` inside it when the call returned a
        DataFrame whose work is still to run."""
        if not self.enabled:
            yield [False]
            return
        self._close_tail()
        rec = self._open(name, tail=False)
        self._stack.append(rec)
        lazy = [False]
        try:
            yield lazy
        finally:
            self._close_tail()
            rec["end"] = time.time()
            self._stack.pop()
            if lazy[0]:
                self._tail = self._open(name, tail=True)
            elif self._sc is not None:
                self._sc.setJobDescription(
                    self._stack[-1]["name"] if self._stack else None)

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it in a span."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrame
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as lazy:
                out = fn(*args, **kwargs)
                lazy[0] = isinstance(out, DataFrame)
            return out
        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def patch_merge(self, module) -> None:
        """Trace ``merge_upsert`` per target table and count the rows it is
        offered with an observation, which rides on the merge's own write
        job and adds none."""
        if not self.enabled:
            return
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        fn = module.merge_upsert

        def traced(spark, df, target, keys):
            name = "graph.merge_upsert." + os.path.basename(target.rstrip("/"))
            obs = Observation()
            with self.span(name):
                fn(spark, df.observe(obs, F.count(F.lit(1)).alias("n")),
                   target, keys)
            self.offered[name] += int(obs.get["n"])
        self._patched.append((module, "merge_upsert", fn))
        module.merge_upsert = traced

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of a finished application: description, submission time (epoch
    s) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = {
                            "label": props.get("spark.job.description"),
                            "start": ev["Submission Time"] / 1000.0,
                            "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                            "shuffle_bytes": 0, "rows_written": 0}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        m = ev.get("Task Metrics")
        if job is None or not m:
            continue
        job["tasks"] += 1
        job["run_ms"] += m.get("Executor Run Time", 0)
        job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        job["rows_written"] += (m.get("Output Metrics") or {}).get(
            "Records Written", 0)
    return list(jobs.values())


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of the first span (the root) owned by each span name."""
    lo, hi = spans[0]["start"], spans[0]["end"]
    cuts = sorted({lo, hi} | {t for s in spans for t in (s["start"], s["end"])
                              if lo < t < hi})
    owned: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        inner = max((s for s in spans if s["start"] <= mid < s["end"]),
                    key=lambda s: (s["depth"], s["start"]))
        owned[inner["name"]] += b - a
    return dict(owned)


def per_span(tracer: Tracer, jobs: list[dict]) -> dict[str, dict]:
    """Span name -> calls, self_s and the task metrics of the jobs tagged
    with it, over the first root span (the timed section)."""
    root = tracer.spans[0]
    inside = [s for s in tracer.spans
              if s["start"] >= root["start"] and s["end"] <= root["end"]]
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in inside:
        out[s["name"]]["calls"] += not s["tail"]
    for name, sec in self_times(inside).items():
        out[name]["self_s"] += sec
    for j in jobs:
        if j["label"] in out and root["start"] <= j["start"] < root["end"]:
            agg = out[j["label"]]
            agg["jobs"] += 1
            for k in ("tasks", "run_ms", "cpu_ms", "shuffle_bytes",
                      "rows_written"):
                agg[k] += j[k]
    for agg in out.values():
        agg["python_ms"] = max(agg["run_ms"] - agg["cpu_ms"], 0.0)
    return {k: dict(v) for k, v in out.items()}
