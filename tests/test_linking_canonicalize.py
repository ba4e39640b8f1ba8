"""Entity linking (blocked broadcast similarity join) + connected-components
canonicalization + idempotent graph materialization."""

import os
import shutil

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.pipeline import run
from ie_spark.pipeline.canonicalize import (
    build_identity_edges,
    canonical_mention_map,
    canonical_nodes,
    connected_components_star,
)
from ie_spark.pipeline.extract import (
    conv_keys,
    extract_all,
    extract_mentions,
    extract_triples,
    find_hot_convs,
    transcripts_from_pandas,
)
from ie_spark.pipeline.graph import merge_upsert, write_checkpoints
from ie_spark.pipeline.linking import (build_candidate_dict, kb_frame,
                                       link_mentions)


@pytest.fixture(scope="module")
def small(spark):
    tr, gt, gm = corpus_to_pandas(n_convs=30, seed=11, mega_frac=0.05)
    df = transcripts_from_pandas(spark, tr)
    return df, extract_mentions(df), extract_triples(df)


def test_linking_exact_alias_wins(spark, small):
    _, mentions, _ = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    pdf = linked.toPandas()
    # every propername/entity mention in the synthetic vocab must link
    assert pdf["entity_id"].notna().mean() > 0.99
    # exact aliases score 1.0
    assert (pdf.loc[pdf.entity_id.notna(), "score"] == 1.0).mean() > 0.95
    # 'Alice' must link to the Alice entity, not the 'Alicia' distractor
    alice = pdf[pdf.stem == "Alice"]
    if len(alice):
        names = cand.filter(F.col("entity_id").isin(
            list(alice.entity_id.unique()))).select("name").toPandas()
        assert set(names["name"]) == {"Alice"}


def test_linking_one_row_per_mention(spark, small):
    _, mentions, _ = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    n_mentions = (mentions.filter(F.col("kind").isin("entity", "propername"))
                  .count())
    assert linked.count() == n_mentions
    assert linked.groupBy("mention_id").count().filter("count > 1").count() == 0


def test_connected_components_small_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"),
         ("p3", "a")],
        "src string, dst string")
    labels = connected_components_star(edges).toPandas()
    comp = dict(zip(labels.node, labels.component))
    assert comp["a"] == comp["b"] == comp["c"] == comp["p"] == comp["p3"]
    assert comp["x"] == comp["y"]
    assert comp["x"] != comp["a"]
    # canonical representative is the min node key (deterministic)
    assert comp["x"] == "x"
    assert comp["a"] == "a"


def _min_label_ref(pairs):
    """node -> min node of its component, by BFS over the undirected
    graph (self-loops dropped, as the operator does)."""
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        label[start] = start
        frontier = [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in label:
                        label[v] = start
                        nxt.append(v)
            frontier = nxt
    return label


def test_star_cc_equivalent_to_label_propagation(spark):
    """Property check: alternating large/small-star CC produces the same
    min-label components that label propagation converges to, on random
    graphs and on a long chain (the worst case for propagation)."""
    import random as _random

    for seed in (0, 1, 2, 3):
        r = _random.Random(seed)
        n = r.randint(5, 28)
        nodes = [f"n{i:02d}" for i in range(n)]
        m = r.randint(3, 40)
        pairs = {(r.choice(nodes), r.choice(nodes)) for _ in range(m)}
        pairs = [(a, b) for a, b in pairs if a != b] or [("n00", "n01")]
        edges = spark.createDataFrame(pairs, "src string, dst string")
        got = {(x.node, x.component)
               for x in connected_components_star(edges).collect()}
        want = set(_min_label_ref(pairs).items())
        assert got == want, \
            f"seed={seed}: {sorted(got - want)[:5]} vs {sorted(want - got)[:5]}"

    # explicit long chain (diameter = n-1)
    chain = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    comp = {x.node: x.component
            for x in connected_components_star(edges).collect()}
    assert set(comp.values()) == {"c00"} and len(comp) == 13


def test_ambiguous_aliases_never_percolate(spark):
    # scale guard: an alias stem naming two referents ('player' for both
    # Robbie and Serena) must NOT merge them — stem-level _AKA edges
    # percolated a 2000-conv corpus into one 72-stem component before
    # the unambiguous-alias filter
    linked = spark.createDataFrame([], "stem string, entity_id string")
    triples = spark.createDataFrame(
        [("c1", 0, 0, "Robbie", "_AKA", "player"),
         ("c2", 0, 0, "Serena", "_AKA", "player"),
         ("c3", 0, 0, "Elsevier", "_AKA", "group")],
        "conv_id string, turn_idx int, sent_idx int, subj string, "
        "pred string, obj string")
    edges = build_identity_edges(linked, triples)
    rows = {(r.src, r.dst) for r in edges.collect()}
    # the ambiguous 'player' alias creates NO identity edge
    assert not any("player" in s or "player" in d for s, d in rows)
    # the unambiguous 'group' alias survives
    assert ("M:Elsevier", "M:group") in rows


def test_canonicalization_end_to_end(spark, small):
    _, mentions, triples = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    edges = build_identity_edges(linked, triples)
    labels = connected_components_star(edges)
    nodes = canonical_nodes(labels, linked, kb_frame(spark))
    assert nodes.count() == labels.select("component").distinct().count()
    mmap = canonical_mention_map(labels)
    # every mention stem that links resolves to exactly one node_id
    assert mmap.groupBy("stem").count().filter("count > 1").count() == 0


def test_merge_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(spark, df, path, keys=["k"])
    merge_upsert(spark, df, path, keys=["k"])  # second run: no new rows
    out = spark.read.parquet(path)
    assert out.count() == 2
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    merge_upsert(spark, df2, path, keys=["k"])
    assert spark.read.parquet(path).count() == 3
    # appends keep the target's column order when the key is not first:
    # every file, so the order read back does not hang on file names
    import pyarrow.parquet as pq
    path = str(tmp_path / "facts_vk")
    merge_upsert(spark, df.select("v", "k"), path, keys=["k"])
    merge_upsert(spark, df2.select("v", "k"), path, keys=["k"])
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= 2
    for f in files:
        assert pq.read_schema(os.path.join(path, f)).names == ["v", "k"], f
    out = spark.read.parquet(path)
    assert out.columns == ["v", "k"]
    assert sorted(map(tuple, out.collect())) == [("a", 1), ("b", 2), ("c", 3)]


def _bucket_files(out):
    """{bucket: parquet file names} of a run's ``_extracted`` table."""
    staged = os.path.join(out, "_extracted")
    return {int(d.split("=")[1]):
            sorted(f for f in os.listdir(os.path.join(staged, d))
                   if f.endswith(".parquet"))
            for d in os.listdir(staged) if d.startswith("_bucket=")}


def _keep_open(spark, out, buckets):
    """Rewrite ``_checkpoints`` so only ``buckets`` keep their ok row,
    as if the run had committed no other bucket."""
    cp_path = os.path.join(out, "_checkpoints")
    rows = [tuple(r)[:7] for r in spark.read.parquet(cp_path).collect()
            if r.bucket in buckets]
    shutil.rmtree(cp_path)
    write_checkpoints(spark, cp_path, rows)


@pytest.fixture(scope="module")
def crashed(spark, tmp_path_factory):
    """(transcripts, n_turns, dir) of a run_pipeline call that raised
    right after its ``_extracted`` write had been checkpointed.  Tests
    resume from a copy of ``dir``."""
    tr, _, _ = corpus_to_pandas(n_convs=20, seed=3)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path_factory.mktemp("crashed") / "kg")

    def crash(*args, **kwargs):
        raise RuntimeError("crash after extraction")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(run, "link_mentions", crash)
        with pytest.raises(RuntimeError, match="crash after extraction"):
            run.run_pipeline(spark, df, out)
    return df, len(tr), out


def _resume_copy(crashed, tmp_path):
    out = str(tmp_path / "kg")
    shutil.copytree(crashed[2], out)
    return out


def test_resumable_bucketed_job(spark, tmp_path, monkeypatch, crashed,
                                kg_tables, staged_at_link):
    """A run that crashed after extraction resumes from its per-bucket
    checkpoints: the second call extracts nothing and ends with the
    tables of a clean run."""
    df, n_turns, _ = crashed
    out = _resume_copy(crashed, tmp_path)
    before = _bucket_files(out)
    staged = staged_at_link(out)
    parts = spark.sparkContext.defaultParallelism * 2

    def no_extraction(*args, **kwargs):
        raise AssertionError("a resumed bucket was re-extracted")
    with monkeypatch.context() as m:
        m.setattr(run, "extract_all", no_extraction)
        s = run.run_pipeline(spark, df, out)
    assert s["resumed"] == list(range(parts))
    assert s["n_turns"] == n_turns
    assert staged["files"] == before
    clean = str(tmp_path / "clean")
    run.run_pipeline(spark, df, clean)
    assert kg_tables(out) == kg_tables(clean)
    # checkpoint rows carry metrics + lineage
    cp = spark.read.parquet(os.path.join(out, "_checkpoints")).toPandas()
    assert set(cp.status) == {"ok"}
    assert (cp.n_turns > 0).any() and (cp.n_triples > 0).any()
    assert cp.lineage.str.startswith("run_pipeline:v1").all()
    assert sorted(cp.bucket) == [-1] + list(range(parts))


def test_skew_salting_repartition(spark):
    tr, _, _ = corpus_to_pandas(n_convs=40, seed=5, mega_frac=0.1, mega_mult=40)
    df = transcripts_from_pandas(spark, tr)
    hot = find_hot_convs(df, threshold=100)
    assert hot, "skew knob should produce at least one mega-conversation"
    salted = df.repartition(8, *conv_keys(8, hot))
    # row preservation under salting
    assert salted.count() == df.count()
    # hot conversation rows spread across >1 partition
    pid = salted.filter(F.col("conv_id") == hot[0]).select(
        F.spark_partition_id().alias("p")).distinct().count()
    assert pid > 1


def test_extraction_job_is_single_pass(spark, tmp_path, monkeypatch,
                                      staged_at_link):
    """run_pipeline does not loop buckets on the driver: it runs the same
    number of Spark jobs at 8 and at 128 buckets."""
    tr, _, _ = corpus_to_pandas(n_convs=30, seed=7)
    df = transcripts_from_pandas(spark, tr)
    sc = spark.sparkContext

    def jobs(cores):
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: cores))
        group = f"single_pass_probe_{cores}"
        sc.setJobGroup(group, "count jobs")
        try:
            run.run_pipeline(spark, df, str(tmp_path / f"job{cores}"))
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))
    staged = staged_at_link(str(tmp_path / "job64"))
    n8, n128 = jobs(4), jobs(64)
    assert 0 < n8 == n128, f"{n8} jobs at 8 buckets, {n128} at 128"
    # _extracted is laid out as real _bucket partitions
    assert staged["files"]


def test_extraction_job_partial_resume(spark, tmp_path, monkeypatch,
                                       crashed, staged_at_link):
    """Buckets with an open checkpoint row are skipped; only the rest are
    extracted and rewritten (per-partition resume)."""
    df, n_turns, _ = crashed
    out = _resume_copy(crashed, tmp_path)
    before = _bucket_files(out)
    kept = sorted(before)[:2]
    _keep_open(spark, out, kept)
    staged = staged_at_link(out)
    seen = []

    def spy(transcripts):
        seen.append(transcripts)
        return extract_all(transcripts)
    with monkeypatch.context() as m:
        m.setattr(run, "extract_all", spy)
        s = run.run_pipeline(spark, df, out)
    assert s["resumed"] == kept
    assert s["n_turns"] == n_turns
    parts = spark.sparkContext.defaultParallelism * 2
    bucket = F.pmod(F.hash("conv_id"), F.lit(parts))
    extracted = {r[0] for r in seen[0].select(bucket).distinct().collect()}
    assert extracted == set(before) - set(kept)
    after = staged["files"]
    assert set(after) == set(before)
    for b in before:
        assert (after[b] == before[b]) == (b in kept), b


def test_pronoun_coref_nearest_antecedent(spark):
    """Nearest-propername pronoun resolution (reference DRT accessible
    referents): earlier sentence wins, lookback bounded, no-antecedent
    pronouns keep a NULL row."""
    import pandas as pd
    from ie_spark.pipeline.coref import resolve_pronouns
    from ie_spark.pipeline.extract import transcripts_from_pandas, extract_mentions
    rows = [
        ("c1", 0, "user", "Alice reviewed the patch.", "", None),
        ("c1", 1, "assistant", "She approved the request.", "", None),
        ("c1", 2, "user", "Bob merged the patch. He deployed the service.", "", None),
        # kind-aware (verdict #10): 'it' binds the nearest ENTITY mention
        # (service), never the nearest propername (Bob)
        ("c1", 3, "user", "It failed.", "", None),
        ("c1", 4, "user", "This stopped.", "", None),
        ("c2", 0, "user", "They launched the report.", "", None),  # no antecedent
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2025-01-01")
    m = extract_mentions(transcripts_from_pandas(spark, pdf))
    out = {(r["conv_id"], r["turn_idx"], r["sent_idx"], r["pronoun"]):
           r["antecedent"] for r in resolve_pronouns(m).collect()}
    assert out[("c1", 1, 0, "she")] == "Alice"
    # 'He' in sentence 1 of turn 2 binds Bob (same turn, earlier sentence)
    assert out[("c1", 2, 1, "he")] == "Bob"
    assert out[("c1", 3, 0, "it")] == "service"
    assert out[("c1", 4, 0, "this")] == "service"
    assert out[("c2", 0, 0, "they")] is None


def test_coref_fanout_bounded_by_window(spark):
    """Mega-conversation fan-out guard (round-2 verdict #5): with the
    turn-bucket equi-key, a 10k-turn conversation with one name and one
    pronoun per turn produces O(pronouns × window) candidate pairs — a
    conv_id-only key would produce ~pronouns × names / 2 ≈ 50M."""
    from ie_spark.pipeline.coref import _candidate_pairs
    n, lookback = 10_000, 10
    rows = []
    for t in range(n):
        rows.append(("mega", t, 0, f"m_n{t}", "propername", "Alice"))
        rows.append(("mega", t, 1, f"m_p{t}", "pronoun", "she"))
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sent_idx int, "
              "mention_id string, kind string, stem string")
    cands = _candidate_pairs(m, lookback).count()
    # each pronoun sees ≤ lookback+1 turns × 1 name (+ ≤2 null rows)
    bound = n * (lookback + 3)
    assert cands <= bound, f"{cands} candidate pairs > O(window) bound {bound}"
    # and every pronoun still resolves to the nearest name
    from ie_spark.pipeline.coref import resolve_pronouns
    got = resolve_pronouns(m, lookback_turns=lookback).count()
    assert got == n


def test_extraction_job_heals_torn_bucket_writes(spark, tmp_path, crashed,
                                                 staged_at_link):
    """Crash recovery: files left by a failed attempt in a bucket whose
    checkpoint row never committed are REPLACED on re-run, not appended
    to."""
    df, _, _ = crashed
    out = _resume_copy(crashed, tmp_path)
    staged = os.path.join(out, "_extracted")
    n_clean = spark.read.parquet(staged).count()
    # simulate a torn write: duplicate one bucket's files in place
    torn, *rest = sorted(_bucket_files(out))
    bpath = os.path.join(staged, f"_bucket={torn}")
    for f in list(os.listdir(bpath)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(bpath, f),
                        os.path.join(bpath, "torn-" + f))
    assert spark.read.parquet(staged).count() > n_clean  # corrupted
    # the torn bucket's row never committed → it alone reprocesses
    _keep_open(spark, out, rest)
    snap = staged_at_link(out)
    s = run.run_pipeline(spark, df, out)
    assert s["resumed"] == rest
    assert snap["rows"] == n_clean


def test_extraction_job_clears_stale_files_for_empty_buckets(
        spark, tmp_path, crashed, staged_at_link):
    """A re-processed bucket whose input became empty must still have its
    torn files dropped, and a fully-empty first run must not crash on
    read-back schema inference."""
    df, _, _ = crashed
    out = _resume_copy(crashed, tmp_path)
    victim, *rest = sorted(_bucket_files(out))
    # the victim bucket's row never committed and it has NO rows now:
    # its stale directory must disappear
    _keep_open(spark, out, rest)
    parts = spark.sparkContext.defaultParallelism * 2
    df_missing = df.filter(F.pmod(F.hash("conv_id"), F.lit(parts)) != victim)
    staged = staged_at_link(out)
    s = run.run_pipeline(spark, df_missing, out)
    assert s["resumed"] == []  # another input: a fresh extraction
    left = [b for b in staged["files"] if b == victim]
    assert not left, f"stale bucket dir survived: {left}"
    # fully-empty first run: no crash, all-zero checkpoints
    out2 = str(tmp_path / "jobempty")
    s = run.run_pipeline(spark, df.limit(0), out2)
    assert s["resumed"] == [] and s["n_turns"] == 0
    cp = spark.read.parquet(os.path.join(out2, "_checkpoints")).toPandas()
    assert sorted(cp.bucket) == [-1] + list(range(parts))
    assert (cp.n_turns == 0).all()


def test_resume_starts_fresh_on_other_input_or_layout(spark, tmp_path,
                                                       crashed):
    """Open bucket rows are resumed only by the input and salt layout they
    were written from: another input, or the same input salted another
    way, is extracted in full into the same directory."""
    df, n_turns, _ = crashed
    tr, gt, _ = corpus_to_pandas(n_convs=20, seed=4)
    other = transcripts_from_pandas(spark, tr)
    # another input's extraction crashes after deleting the open buckets'
    # files: the next call must not resume them either
    out = _resume_copy(crashed, tmp_path / "torn")

    def crash(*args, **kwargs):
        raise RuntimeError("crash in extraction")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(run, "extract_all", crash)
        with pytest.raises(RuntimeError, match="crash in extraction"):
            run.run_pipeline(spark, other, out)
    s = run.run_pipeline(spark, df, out)
    assert s["resumed"] == [] and s["n_turns"] == n_turns
    # another input is extracted in full
    out = _resume_copy(crashed, tmp_path)
    s = run.run_pipeline(spark, other, out)
    assert s["resumed"] == [] and s["n_turns"] == len(tr)
    triples = spark.read.parquet(os.path.join(out, "triples"))
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got = {tuple(r) for r in triples.select(*cols).collect()}
    assert {tuple(r) for r in gt[cols].itertuples(index=False)} <= got
    # same input, but salting moves turns between buckets
    out = _resume_copy(crashed, tmp_path / "salted")
    s = run.run_pipeline(spark, df, out, salt_threshold=2)
    assert s["resumed"] == [] and s["n_turns"] == n_turns


def test_verbnet_classing(spark):
    """C10 parity: the frozen public VerbNet member→class table classes
    edge predicates via a broadcast join (reference kb/verbnet.py:12-40
    name_index); unknown verbs stay NULL."""
    from ie_spark.kb.verbnet import verb_class_df, with_verb_classes
    edges = spark.createDataFrame(
        [("a", "give", "b"), ("a", "say", "b"), ("a", "frobnicate", "b")],
        "src string, pred string, dst string")
    out = {r["pred"]: r["verb_class"]
           for r in with_verb_classes(edges, verb_class_df(spark)).collect()}
    assert out["give"] == "give-13.1"
    assert out["say"] == "indicate-78"  # lexicographically smallest class
    assert out["frobnicate"] is None
    plan = with_verb_classes(edges, verb_class_df(spark))\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_degree_profile(spark):
    """Degree analytics over a hand-built edge list: counts, distinct
    neighbors, full-outer coverage of source-only and sink-only nodes."""
    from ie_spark.pipeline.analytics import degree_profile
    edges = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("a", "q", "c"),
         ("b", "p", "c"), ("d", "p", "a")],
        "src string, pred string, dst string")
    rows = {r["node"]: r.asDict() for r in degree_profile(edges).collect()}
    assert rows["a"]["out_degree"] == 3
    assert rows["a"]["out_neighbors"] == 2  # b (twice) + c
    assert rows["a"]["in_degree"] == 1
    assert rows["c"]["out_degree"] == 0     # sink-only node still present
    assert rows["c"]["in_neighbors"] == 2
    assert rows["d"]["in_degree"] == 0      # source-only node still present
    assert all(r["total_degree"] == r["out_degree"] + r["in_degree"]
               for r in rows.values())


def test_two_hop_paths_hub_cap(spark):
    """Two-hop reachability: distinct-intermediate counts, round-trip
    exclusion, and the max_fanout hub cap actually excluding a hub
    intermediate (the oracle corpus never binds the cap — this does)."""
    from ie_spark.pipeline.analytics import two_hop_paths
    edges = spark.createDataFrame(
        # x -> {m1, m2} -> y (two intermediates), plus a hub h with
        # 3 in-neighbors and 1 out-neighbor, and a round trip r <-> s
        [("x", "p", "m1"), ("x", "p", "m2"),
         ("m1", "p", "y"), ("m2", "p", "y"),
         ("x", "p", "h"), ("u", "p", "h"), ("v", "p", "h"),
         ("h", "p", "z"),
         ("r", "p", "s"), ("s", "p", "r")],
        "src string, pred string, dst string")
    out = {(r["src"], r["dst"]): r["n_mid"]
           for r in two_hop_paths(edges, max_fanout=10).collect()}
    assert out[("x", "y")] == 2           # both intermediates counted once
    assert ("r", "r") not in out          # round trip excluded
    assert out[("x", "z")] == 1           # through h, under the cap
    # cap binds: h has 3 distinct in-neighbors > max_fanout=2
    capped = {(r["src"], r["dst"]): r["n_mid"]
              for r in two_hop_paths(edges, max_fanout=2).collect()}
    assert ("x", "z") not in capped       # h excluded as intermediate
    assert capped[("x", "y")] == 2        # m1/m2 unaffected by the cap


def test_two_hop_cap_cross_engine(spark):
    """The hub cap must mean the same thing in BOTH engines: the driver
    oracle's cap branch never binds on the corpus (no node reaches
    max_fanout=1000), so force it to bind here on planted edges and
    compare Spark against the SAME SQL tail the oracle uses."""
    import duckdb
    from __spark_entry__ import _two_hop_sql_tail
    from ie_spark.pipeline.analytics import two_hop_paths
    rows = [("x", "m1"), ("x", "m2"), ("m1", "y"), ("m2", "y"),
            ("x", "h"), ("u", "h"), ("v", "h"), ("h", "z"),
            ("r", "s"), ("s", "r")]
    edges = spark.createDataFrame([(s, "p", d) for s, d in rows],
                                  "src string, pred string, dst string")
    for cap in (2, 10):
        got = sorted((r["src"], r["dst"], r["n_mid"])
                     for r in two_hop_paths(edges, max_fanout=cap).collect())
        vals = ", ".join(f"('{s}', '{d}')" for s, d in rows)
        sql = (f"WITH e(src, dst) AS (SELECT * FROM (VALUES {vals})), "
               f"{_two_hop_sql_tail(cap)}")
        want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
        assert got == want, (cap, got, want)
    # cap=2 must actually exclude the hub path, cap=10 must keep it
    caps = {cap: dict(((r["src"], r["dst"]), r["n_mid"]) for r in
                      two_hop_paths(edges, max_fanout=cap).collect())
            for cap in (2, 10)}
    assert ("x", "z") not in caps[2] and caps[10][("x", "z")] == 1
