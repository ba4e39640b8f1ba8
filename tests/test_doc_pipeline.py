"""End-to-end document-cleaning ladder (pipeline.docs.clean_documents):
dedup → quality/repetition filter → split → decontaminate → PII scrub."""

from pyspark.sql import functions as F

from ie_spark.pipeline.docs import clean_documents


def _docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the hills where it lives happily with friends")
    rows = [
        (1, base),
        (2, base),                                # exact dup of 1
        (3, base.replace("lazy", "sleepy")),      # near dup of 1
        (4, "spam spam spam spam spam spam spam spam spam spam"),  # repetitive
        (5, "!!! ??? ... !!! ??? ... !!! ???"),   # junk quality
        (6, "mail bob@example.com about the quarterly revenue report "
            "that the finance team prepared for the board this week"),
        (7, "completely unrelated prose about gardening tomatoes in "
            "summer with plenty of water and patient daily care there"),
        (8, "another normal document describing the deployment process "
            "for the new service including monitoring and rollback"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_documents_ladder(spark):
    # min_quality 0.3 puts doc 5 (q=0.248) under the quality gate while
    # doc 4 (q=0.46) falls to the repetition gate — both reasons covered
    out = clean_documents(_docs(spark), min_quality=0.3,
                          max_dup_2gram=0.5, eval_rate=0.3,
                          near_dup_threshold=0.7,  # one-word edit ≈ J 0.74
                          decontaminate=False)
    train = out["train"].collect()
    ev = out["eval"].collect()
    kept = {r.doc_id for r in train} | {r.doc_id for r in ev}
    # dups collapse to the lowest id; junk and repetition are dropped
    assert 1 in kept and 2 not in kept and 3 not in kept
    assert 4 not in kept and 5 not in kept
    assert {6, 7, 8} <= kept
    # split partitions the survivors
    assert {r.doc_id for r in train}.isdisjoint({r.doc_id for r in ev})
    # PII scrubbed on the way out
    all_rows = {r.doc_id: r for r in train + ev}
    assert "bob@" not in all_rows[6].text
    assert "<EMAIL>" in all_rows[6].text and all_rows[6].n_emails == 1
    # dropped side accounts for the rest, with per-stage attribution
    dropped = {r.doc_id: r.drop_reason for r in out["dropped"].collect()}
    assert dropped == {2: "exact_dup", 3: "near_dup",
                       4: "repetition", 5: "quality"}


def test_clean_documents_decontaminates(spark):
    # doc 20 shares an 8-gram with doc 10; force 10 into eval via rate
    # 1.0 → 20 must be dropped from train when decontaminate=True
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(10, shared + " alpha beta gamma unique ending words here"),
         (20, shared + " totally different continuation of the text")],
        "doc_id long, text string")
    out = clean_documents(docs, min_quality=0.0, max_dup_2gram=1.0,
                          eval_rate=1.0, decontaminate=True)
    assert out["eval"].count() == 2      # everything lands in eval
    assert out["train"].count() == 0
    out2 = clean_documents(docs, min_quality=0.0, max_dup_2gram=1.0,
                           eval_rate=0.0, decontaminate=True)
    assert out2["train"].count() == 2    # nothing in eval → nothing dirty


def test_decontaminated_docs_are_accounted(spark):
    # review: a train doc removed by decontamination must appear in
    # 'dropped' with reason 'contaminated', never silently vanish —
    # train/eval/dropped partition the input at ANY eval rate
    shared = "one two three four five six seven eight"
    rows = [(i, shared + f" unique tail {i} with several extra words "
             f"number{i} end{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_documents(docs, min_quality=0.0, max_dup_2gram=1.0,
                          near_dup_threshold=0.99,
                          eval_rate=0.3, decontaminate=True)
    tr = {r.doc_id for r in out["train"].collect()}
    ev = {r.doc_id for r in out["eval"].collect()}
    dr = {r.doc_id: r.drop_reason for r in out["dropped"].collect()}
    # every doc shares the 8-gram; with a non-empty eval set the whole
    # train side is contaminated
    assert ev and not tr
    assert set(dr.values()) <= {"contaminated", "near_dup"}
    assert tr | ev | set(dr) == set(range(40))
    assert tr.isdisjoint(ev) and tr.isdisjoint(dr) and ev.isdisjoint(dr)


def test_cli_pack_stage(spark, tmp_path):
    """The --pack-capacity CLI path end-to-end (subprocess, real argv):
    stats line reports a SELF-CHECKING token-conservation flag, and the
    train_pack segments tile the train split's tokens exactly."""
    import json
    import os
    import subprocess
    import sys

    src = str(tmp_path / "in")
    os.makedirs(src)
    docs = _docs(spark)
    docs.write.parquet(os.path.join(src, "documents.parquet"))

    out = str(tmp_path / "cleaned")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    # absolute script path from a foreign cwd: the Python workers must
    # get ie_spark from the shipped package, not from the cwd
    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "doc_pipeline.py")
    proc = subprocess.run(
        [sys.executable, script, "--in", src,
         "--out", out, "--pack-capacity", "16", "--pack-shards", "2"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["accounted"] is True
    assert stats["pack"]["capacity"] == 16
    assert stats["pack"]["tokens_conserved"] is True
    assert stats["pack"]["n_segments"] >= stats["pack"]["n_sequences"] > 0

    from pyspark.sql import functions as F2
    packed = spark.read.parquet(os.path.join(out, "train_pack"))
    train = spark.read.parquet(os.path.join(out, "train"))
    from ie_spark.operators.textstats import token_count
    assert (packed.agg(F2.sum("n_seg_tokens")).collect()[0][0]
            == train.agg(F2.sum(token_count("text"))).collect()[0][0])
