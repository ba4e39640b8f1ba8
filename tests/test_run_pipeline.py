"""End-to-end orchestrator: one call produces the full KG, idempotently."""

import os

import pandas as pd
import pytest

from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.pipeline import graph, linking, run
from ie_spark.pipeline.extract import transcripts_from_pandas
from ie_spark.pipeline.run import run_pipeline


def test_run_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    tr, gt, _ = corpus_to_pandas(n_convs=15, seed=33)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "kg")

    s1 = run_pipeline(spark, df, out)
    assert s1["n_turns"] == len(tr)
    assert s1["n_triples"] > 0
    assert s1["n_nodes"] > 0 and s1["n_edges"] > 0

    # golden subset: every fixture triple is in the materialized table
    triples = spark.read.parquet(os.path.join(out, "triples"))
    got = {tuple(r) for r in
           triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}
    want = {tuple(r) for r in
            gt[["conv_id", "turn_idx", "subj", "pred", "obj"]]
            .itertuples(index=False)}
    assert want <= got

    # idempotency: second run leaves every table identical
    before = {t: spark.read.parquet(os.path.join(out, t)).count()
              for t in ("mentions", "triples", "linked", "edges", "nodes")}
    s2 = run_pipeline(spark, df, out)
    after = {t: spark.read.parquet(os.path.join(out, t)).count()
             for t in ("mentions", "triples", "linked", "edges", "nodes")}
    assert before == after
    assert s2["n_triples"] == s1["n_triples"]


def _files_per_bucket(staged):
    """{bucket: parquet file count} of a ``staged_at_link`` snapshot of a
    run's ``_extracted`` table."""
    return {b: len(fs) for b, fs in staged["files"].items()}


def test_run_pipeline_salts_mega_conversations(spark, tmp_path,
                                              staged_at_link):
    """North rule: mega-conversations found by the count pre-pass are
    salted across partitions inside run_pipeline."""
    tr, gt, _ = corpus_to_pandas(n_convs=20, seed=13, mega_frac=0.3,
                                 mega_mult=30)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "kg_salted")
    staged = staged_at_link(out)
    s = run_pipeline(spark, df, out, salt_threshold=100)
    assert s["n_turns"] == len(tr)
    # the bucket follows the salted partitioning too
    assert set(_files_per_bucket(staged).values()) == {1}
    # same P/R contract holds under salted repartition
    triples = spark.read.parquet(os.path.join(out, "triples"))
    got = {tuple(r) for r in
           triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}
    want = {tuple(r) for r in
            gt[["conv_id", "turn_idx", "subj", "pred", "obj"]]
            .itertuples(index=False)}
    assert want <= got


def _turns(spark, rows):
    pdf = pd.DataFrame([(c, t, "user", text, "", None) for c, t, text in rows],
                       columns=["conv_id", "turn_idx", "role", "text",
                                "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2025-01-01")
    return transcripts_from_pandas(spark, pdf)


# The delta makes the alias 'teacher' ambiguous, which relabels Grace's
# node (edges), and delivers a late earlier turn that changes a pronoun's
# nearest antecedent (coref).
BASE = [("c1", 0, "Grace, a teacher, fixed the boy."),
        ("c1", 1, "The teacher launched the contract."),
        ("c3", 0, "Alice reviewed the patch."),
        ("c3", 2, "She approved the request.")]
DELTA = [("c2", 0, "Henry, a teacher, fixed the dashboard."),
         ("c3", 1, "Bob merged the patch.")]


def test_incremental_ingest_equals_cold_rebuild(spark, tmp_path, kg_tables):
    """Base then delta into one directory gives the tables of one cold run
    over the union."""
    inc, cold = str(tmp_path / "inc"), str(tmp_path / "cold")
    run_pipeline(spark, _turns(spark, BASE), inc)
    s = run_pipeline(spark, _turns(spark, DELTA), inc)
    assert s["resumed"] == []  # a finished run never skips the next input
    run_pipeline(spark, _turns(spark, BASE + DELTA), cold)
    got, want = kg_tables(inc), kg_tables(cold)
    assert got == want
    coref = spark.read.parquet(os.path.join(inc, "coref"))
    assert {r.antecedent for r in coref.collect()} == {"Bob"}


def test_kb_change_between_runs_equals_cold_rebuild(
        spark, tmp_path, monkeypatch, kg_tables):
    """A base run against a KB without Alice, then a delta against the full
    KB, gives the tables of one cold run over the union with the full KB:
    the base's links to the near-miss 'Alicia' do not survive."""
    inc, cold = str(tmp_path / "inc"), str(tmp_path / "cold")
    full = linking.build_candidate_rows()
    with monkeypatch.context() as m:
        m.setattr(linking, "build_candidate_rows",
                  lambda: [r for r in full if r[1] != "Alice"])
        run_pipeline(spark, _turns(spark, BASE), inc)
    linked = spark.read.parquet(os.path.join(inc, "linked"))
    assert {r.entity_name for r in linked.filter("stem = 'Alice'")
            .collect()} == {"Alicia"}
    run_pipeline(spark, _turns(spark, DELTA), inc)
    run_pipeline(spark, _turns(spark, BASE + DELTA), cold)
    assert kg_tables(inc) == kg_tables(cold)


def test_completed_run_keeps_one_copy(spark, tmp_path):
    """A completed run, cold or incremental, leaves its six tables and
    ``_checkpoints`` and no ``_extracted``, and its node and edge counts
    are the row counts of the tables it wrote."""
    out = str(tmp_path / "kg")
    for rows in (BASE, DELTA):
        s = run_pipeline(spark, _turns(spark, rows), out)
        assert sorted(os.listdir(out)) == [
            "_checkpoints", "coref", "edges", "linked", "mentions", "nodes",
            "triples"]
        for t in ("nodes", "edges"):
            n = spark.read.parquet(os.path.join(out, t)).count()
            assert s[f"n_{t}"] == n, t


def test_run_pipeline_job_budget(spark, tmp_path):
    """One cold run over 15 conversations runs at most 49 Spark jobs: the
    sink counts the rows of the tables it writes on their write jobs and
    reads every table back with the schema it wrote, so no job scans a
    table just to count it or to infer its schema (a sink that read its
    tables back that way ran 58)."""
    tr, _, _ = corpus_to_pandas(n_convs=15, seed=33)
    df = transcripts_from_pandas(spark, tr)
    sc = spark.sparkContext
    sc.setJobGroup("job_budget_probe", "count jobs")
    try:
        run_pipeline(spark, df, str(tmp_path / "kg"))
    finally:
        sc.setJobGroup("", "")
    n = len(sc.statusTracker().getJobIdsForGroup("job_budget_probe"))
    assert 0 < n <= 49, n


def test_resume_after_finished_run_counts_only_its_input(
        spark, tmp_path, monkeypatch, kg_tables):
    """A delta run that crashed after extraction, on top of a finished base
    run, resumes its own buckets and counts only its own turns."""
    inc, cold = str(tmp_path / "inc"), str(tmp_path / "cold")
    run_pipeline(spark, _turns(spark, BASE), inc)

    def crash(*args, **kwargs):
        raise RuntimeError("crash after extraction")
    with monkeypatch.context() as m:
        m.setattr(run, "link_mentions", crash)
        with pytest.raises(RuntimeError, match="crash after extraction"):
            run_pipeline(spark, _turns(spark, DELTA), inc)
    s = run_pipeline(spark, _turns(spark, DELTA), inc)
    parts = spark.sparkContext.defaultParallelism * 2
    assert s["resumed"] == list(range(parts))
    assert s["n_turns"] == len(DELTA)
    run_pipeline(spark, _turns(spark, BASE + DELTA), cold)
    assert kg_tables(inc) == kg_tables(cold)


def test_extracted_one_file_per_bucket(spark, tmp_path, staged_at_link):
    """The resume bucket is the conv_id repartition's partition, so each
    extraction task writes one bucket: no more files than buckets."""
    tr, _, _ = corpus_to_pandas(n_convs=15, seed=33)
    out = str(tmp_path / "kg")
    staged = staged_at_link(out)
    run_pipeline(spark, transcripts_from_pandas(spark, tr), out)
    files = _files_per_bucket(staged)
    assert files and set(files.values()) == {1}, files


def test_run_pipeline_relative_out_dir(spark, tmp_path, monkeypatch,
                                      staged_at_link):
    """A relative out_dir resolves against the Python working directory,
    and no table target is mistaken for an Iceberg table name."""
    probes = []
    monkeypatch.setattr(graph, "_iceberg_available",
                        lambda s: probes.append(s) or False)
    monkeypatch.chdir(tmp_path)
    tr, _, _ = corpus_to_pandas(n_convs=5, seed=33)
    staged = staged_at_link("kg")
    run_pipeline(spark, transcripts_from_pandas(spark, tr), "kg")
    assert any(staged["files"].values())
    for t in ("mentions", "triples", "linked", "coref",
              "nodes", "edges", "_checkpoints"):
        assert any(f.endswith(".parquet") for _, _, fs in
                   os.walk(tmp_path / "kg" / t) for f in fs), t
    assert not (tmp_path / "kg" / "_extracted").exists()
    assert probes == []
