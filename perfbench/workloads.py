"""The workloads: inputs made from the seed at set-up, a timed section that
calls only the program's public functions, and correctness gates.

Each workload hands the program parquet tables only.  ``setup`` prepares the
inputs and returns its seconds; ``run`` performs a fixed number of
operations, derived from ``--seconds``, so a run's amount of work does not
depend on how fast the box happens to be; ``check`` gates the outputs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import ie_spark.pipeline.analytics as analytics_mod
import ie_spark.pipeline.canonicalize as canonicalize_mod
import ie_spark.pipeline.coref as coref_mod
import ie_spark.pipeline.run as run_mod
from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.extraction.pandas_api import extract_batch

GOLD_COLS = ["conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj",
             "polarity", "modal", "role", "prep"]
EXTRACT_SAMPLE_TURNS = 2000
# nominal time of one operation on a 4-core box; a run performs
# round(seconds / OP_S) operations, at least one
OP_S = 10.0
# the node of rank k has degree ~ k^-SKEW in the analytics graph
SKEW = 0.6

# full: the benchmark; tiny: the smoke test
SIZES = {
    "full": {
        "build": {"convs": 1200, "turns": 8000, "redelivered_turns": 300},
        "analytics": {"nodes": 3000, "edges": 15000},
    },
    "tiny": {
        "build": {"convs": 30, "turns": 100, "redelivered_turns": 10},
        "analytics": {"nodes": 300, "edges": 900},
    },
}


def _n_ops(seconds: float) -> int:
    return max(1, round(seconds / OP_S))


def _write(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _transcripts(n_convs: int, seed: int):
    tr, gold, _ = corpus_to_pandas(n_convs=n_convs, seed=seed)
    tr["ts"] = tr["ts"].dt.tz_localize("UTC")
    return tr, gold


def _gold_set(gold: pd.DataFrame) -> set:
    return set(gold[GOLD_COLS].itertuples(index=False, name=None))


def _table_rows(path: str, cols: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _error_turns(kg: str) -> int:
    kind = pq.read_table(os.path.join(kg, "mentions"), columns=["kind"])
    return sum(k == "_error" for k in kind.column("kind").to_pylist())


def _parquet_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _extract_sample(tr: pd.DataFrame) -> tuple[float, int]:
    """Single-process ``extract_batch`` over a fixed sample of turns."""
    sample = tr.head(EXTRACT_SAMPLE_TURNS)
    t = time.perf_counter()
    mentions, _ = extract_batch(sample)
    sec = time.perf_counter() - t
    return len(sample) / sec, int((mentions["kind"] == "_error").sum())


def trace_pipeline(tracer) -> None:
    tracer.patch(run_mod, "extract_all", "extract.extract_all")
    tracer.patch(run_mod, "find_hot_convs", "run.find_hot_convs")
    tracer.patch(run_mod, "link_mentions", "linking.link_mentions")
    tracer.patch(run_mod, "connected_components",
                 "canonicalize.connected_components")
    tracer.patch(run_mod, "canonical_nodes", "canonicalize.canonical_nodes")
    tracer.patch(coref_mod, "resolve_pronouns", "coref.resolve_pronouns")
    tracer.patch_merge(run_mod)


class Build:
    """One cold ``run_pipeline`` per operation, each into an empty dir.  The
    input is the first ``turns`` turns of the seeded corpus, so its size
    does not vary with the seed.  It is delivered at least once: a seeded
    slice of its turns arrives a second time, which the merge sink must not
    insert again."""

    def __init__(self, spark, work: str, seed: int, cfg: dict, tracer):
        self.spark, self.work, self.seed, self.cfg = spark, work, seed, cfg
        self.tracer = tracer

    def setup(self) -> float:
        t = time.perf_counter()
        self.path = os.path.join(self.work, "transcripts.parquet")
        tr, gold = _transcripts(self.cfg["convs"], self.seed)
        if len(tr) < self.cfg["turns"]:
            raise ValueError(f"corpus has {len(tr)} turns, "
                             f"{self.cfg['turns']} needed")
        self.tr = tr.head(self.cfg["turns"])
        last = self.tr.iloc[-1]
        gold = gold[(gold["conv_id"] < last["conv_id"])
                    | ((gold["conv_id"] == last["conv_id"])
                       & (gold["turn_idx"] <= last["turn_idx"]))]
        again = self.tr.sample(self.cfg["redelivered_turns"],
                               random_state=self.seed)
        self.handed = pd.concat([self.tr, again]).sample(
            frac=1.0, random_state=self.seed)
        _write(self.handed, self.path)
        self.gold = _gold_set(gold)
        return time.perf_counter() - t

    def run(self, seconds: float) -> dict:
        trace_pipeline(self.tracer)
        times, self.outs = [], []
        with self.tracer.span("bench.build"):
            for i in range(_n_ops(seconds)):
                out = os.path.join(self.work, f"kg{i}")
                t = time.perf_counter()
                with self.tracer.span("run.run_pipeline"):
                    run_mod.run_pipeline(
                        self.spark, self.spark.read.parquet(self.path), out)
                times.append(time.perf_counter() - t)
                self.outs.append(out)
        self.tracer.unpatch()
        size, self.kg_files = _parquet_stats(self.outs[-1])
        return {"times": times, "items": len(self.handed) * len(times),
                "out_bytes": size, "out_items": len(self.handed)}

    def check(self) -> tuple[bool, int, int]:
        """Triples equal the goldens as a set (P = R = 1) and hold each
        once, so no redelivered turn inserted a row."""
        ok, failed = True, 0
        for out in self.outs:
            rows = _table_rows(os.path.join(out, "triples"), GOLD_COLS)
            ok &= len(rows) == len(self.gold) and set(rows) == self.gold
            failed += _error_turns(out)
        return ok, len(self.handed) * len(self.outs), failed

    def extract_sample(self):
        return _extract_sample(self.tr)


def power_law_edges(n_nodes: int, n_edges: int, seed: int) -> pd.DataFrame:
    """Directed configuration-model graph: the node of rank k has in- and
    out-degree ~ k^-SKEW, the seed wires the stubs and shuffles node ids,
    and self-loops are dropped.  The degree sequence is the same for every
    seed, so seeds vary the wiring but not the hubs.  Seeded short chains
    beside it give the component count something to find."""
    rng = np.random.default_rng(seed)
    w = np.arange(1, n_nodes + 1) ** -SKEW
    stubs = np.repeat(rng.permutation(n_nodes),
                      np.maximum(1, np.rint(n_edges * w / w.sum())).astype(int))
    src, dst = stubs, rng.permutation(stubs)
    keep = src != dst
    name = np.char.add("n", np.char.zfill(np.arange(n_nodes).astype(str), 6))
    chains = [(f"c{i}_{j}", f"c{i}_{j + 1}")
              for i, n in enumerate(rng.integers(1, 5, n_nodes // 100))
              for j in range(n)]
    return pd.DataFrame({"src": list(name[src[keep]]) + [a for a, _ in chains],
                         "dst": list(name[dst[keep]]) + [b for _, b in chains],
                         "pred": "rel"})


def _components(edges: pd.DataFrame) -> int:
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(edges["src"], edges["dst"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return len({find(x) for x in list(parent)})


class Analytics:
    """All passes of ``run_graph_analytics`` over a power-law edge table."""

    kg_files = 0  # builds no KG

    PASSES = {"degree_profile": "degree", "two_hop_paths": "two_hop",
              "triangle_counts": "triangles", "pagerank_mass": "pagerank",
              "link_prediction": "link_pred", "bfs_distances": "bfs"}

    def __init__(self, spark, work: str, seed: int, cfg: dict, tracer):
        self.spark, self.work, self.seed, self.cfg = spark, work, seed, cfg
        self.tracer = tracer
        self.path = os.path.join(work, "edges.parquet")

    def setup(self) -> float:
        t = time.perf_counter()
        e = power_law_edges(self.cfg["nodes"], self.cfg["edges"], self.seed)
        _write(e, self.path)
        self.n_edges = len(e)
        self.degree = (pd.concat([e["src"], e["dst"]])
                       .value_counts().to_dict())
        self.n_components = _components(e)
        return time.perf_counter() - t

    def run(self, seconds: float) -> dict:
        for fn, name in self.PASSES.items():
            self.tracer.patch(analytics_mod, fn, "analytics." + name)
        self.tracer.patch(canonicalize_mod, "connected_components_star",
                          "analytics.components")
        times, self.outs = [], []
        with self.tracer.span("bench.analytics"):
            for i in range(_n_ops(seconds)):
                out = os.path.join(self.work, f"analytics{i}")
                t = time.perf_counter()
                with self.tracer.span("analytics.run_graph_analytics"):
                    analytics_mod.run_graph_analytics(
                        self.spark, self.spark.read.parquet(self.path), out)
                times.append(time.perf_counter() - t)
                self.outs.append(out)
        self.tracer.unpatch()
        size, _ = _parquet_stats(self.outs[-1])
        return {"times": times, "items": self.n_edges * len(times),
                "out_bytes": size, "out_items": self.n_edges}

    def check(self) -> tuple[bool, int, int]:
        ok = True
        for out in self.outs:
            deg = dict(_table_rows(os.path.join(out, "degree"),
                                   ["node", "total_degree"]))
            comp = _table_rows(os.path.join(out, "components"),
                               ["node", "component"])
            ok &= deg == self.degree
            ok &= len(comp) == len(self.degree)
            ok &= len({c for _, c in comp}) == self.n_components
        return ok, len(self.outs) * (len(self.PASSES) + 1), 0

    def extract_sample(self):
        return 0.0, 0


WORKLOADS = {"build": Build, "analytics": Analytics}
