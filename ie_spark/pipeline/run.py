"""End-to-end pipeline orchestrator: transcripts → triples + mentions →
linked mentions → canonical nodes/edges, resumable from per-partition
checkpoints.

This is the single entry point a user of the reference would switch to:

    from ie_spark.pipeline.run import run_pipeline
    stats = run_pipeline(spark, transcripts_df, "/warehouse/kg")

Produces parquet dirs under ``os.path.abspath(out)``:
    _extracted   one extraction pass, partitioned by ``_bucket``; only
                 while a run is open (deleted after its completion row)
    mentions  triples            fact tables, merged on their keys
    linked  coref  nodes  edges  derived tables, recomputed and replaced
    _checkpoints                 one ``ok`` row per bucket, one per run
                                 (bucket −1), see the resume rule

Resume rule: the bucket is the partition the conv_id repartition puts a
turn in, so each extraction task writes one ``_extracted/_bucket=b``
directory.  A bucket row's lineage names its layout: the bucket count, the
hot (salted) conversations and a fingerprint of the input's (conv_id,
turn_idx, text) rows.  A call skips bucket b only if ``_checkpoints``
holds an ``ok`` row for b of job ``JOB_ID`` with the same lineage,
written after that job's last bucket −1 row.  That row is the completion
row, or the ``discarded`` row a fresh extraction writes before it deletes
the files of open rows of another layout, so open rows share one layout.
A run that crashed after extraction thus resumes without re-extracting
when it is handed the same input again, while another input, another salt
layout or a finished run starts a fresh extraction (an incremental delta
is never skipped).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ie_spark.pipeline.canonicalize import (
    build_identity_edges,
    canonical_edges,
    canonical_nodes,
    connected_components_star as connected_components,
)
from ie_spark.pipeline.extract import (
    COMBINED_SCHEMA,
    MENTION_SCHEMA,
    TRIPLE_KEYS,
    TRIPLE_SCHEMA,
    conv_keys,
    extract_all,
    find_hot_convs,
    split_combined,
)
from ie_spark.pipeline.graph import (merge_upsert, replace_table,
                                     write_checkpoints)
from ie_spark.pipeline.linking import (build_candidate_dict, kb_frame,
                                       link_mentions)

MENTION_KEYS = ["mention_id"]
# the job_id of every _checkpoints row run_pipeline writes and resumes
JOB_ID = "pipeline"


def _open_rows(spark: SparkSession, cp_path: str) -> list:
    """The ``ok`` bucket rows ``JOB_ID`` wrote after its last bucket −1
    row (a completion or a discard), oldest first."""
    if not (os.path.isdir(cp_path) and os.listdir(cp_path)):
        return []
    rows = sorted(spark.read.parquet(cp_path)
                  .filter(F.col("job_id") == JOB_ID)
                  .select("bucket", "status", "n_turns", "lineage",
                          "finished_at")
                  .collect(), key=lambda r: r.finished_at)
    closed = max((r.finished_at for r in rows if r.bucket < 0), default=None)
    return [r for r in rows if r.bucket >= 0 and r.status == "ok"
            and (closed is None or r.finished_at > closed)]


def _lineage(parts: int, hot: list[str], fingerprint) -> str:
    """A bucket row's lineage: the layout its bucket was written under."""
    digest = hashlib.sha1(repr((str(fingerprint), sorted(hot))).encode())
    return f"run_pipeline:v1:{parts} buckets:{digest.hexdigest()[:16]}"


def run_pipeline(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                 salt_threshold: int | None = 100_000) -> dict:
    """Full KG construction run.  Idempotent: re-running on the same input
    yields identical tables (fact tables merge on natural keys, derived
    tables are rebuilt from them), and base-then-delta equals one run over
    the union with the KB of the last run.

    Partitioning (north rule): the input is explicitly hash-repartitioned
    by conv_id; conversations exceeding ``salt_threshold`` turns (found by
    a cheap count pre-pass) are salted per-turn so a 10^8-turn
    mega-conversation cannot pin one partition.  Pass
    ``salt_threshold=None`` to skip the pre-pass when the input is known
    to be well-distributed; the repartition still runs, because its
    partitions are the resume buckets (see the module docstring).
    ``stats["resumed"]`` lists the skipped buckets.

    Spell normalization (C14, off in every oracled path) is a pre-pass
    the caller applies: ``run_pipeline(spark, with_spell_normalized(t),
    out)`` (ie_spark.textproc.spell)."""
    t0 = time.time()
    out_dir = os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    table = partial(os.path.join, out_dir)
    staged, cp_path = table("_extracted"), table("_checkpoints")

    parts = spark.sparkContext.defaultParallelism * 2
    hot = ([] if salt_threshold is None
           else find_hot_convs(transcripts, salt_threshold))
    keys = conv_keys(parts, hot)
    bucket = F.pmod(F.hash(*keys), F.lit(parts))
    # order-free sum of per-turn hashes; decimal so the sum cannot overflow
    fingerprint = F.sum(F.xxhash64("conv_id", "turn_idx", "text")
                        .cast("decimal(38,0)"))
    # only a crashed run leaves open rows; only then is the input hashed
    # up front, to check it is the input those rows were written from
    open_rows = _open_rows(spark, cp_path)
    done = {}
    if open_rows:
        lineage = _lineage(parts, hot, transcripts.agg(fingerprint).first()[0])
        done = {r.bucket: r.n_turns for r in open_rows if r.lineage == lineage}
    todo = [b for b in range(parts) if b not in done]
    n_turns = sum(done.values())

    # 1. single-pass extraction of the open buckets (one scan, one Arrow
    #    UDF pass, no shuffle beyond the repartition), materialized once
    #    then split from storage.  Dropping what is about to be rewritten
    #    first heals torn writes and stale empty buckets.
    if todo:
        t1 = time.time()
        if open_rows and not done:
            # close the open rows before their files go, so a crash in
            # this extraction cannot make a later call resume them
            write_checkpoints(spark, cp_path, [
                (JOB_ID, -1, "discarded", 0, 0, 0, lineage)])
        for d in ([os.path.join(staged, f"_bucket={b}") for b in todo]
                  if done else [staged]):
            shutil.rmtree(d, ignore_errors=True)
        turns, facts = Observation(), Observation()
        transcripts = transcripts.observe(
            turns, fingerprint.alias("fp"),
            *[F.count_if(bucket == b).alias(f"b{b}") for b in todo])
        if done:
            transcripts = transcripts.filter(~bucket.isin(*done))
        extracted = extract_all(transcripts.repartition(parts, *keys))
        is_triple = F.col("rec") == "t"
        (extracted.observe(facts, *[
            F.count_if(is_triple & (bucket == b)).alias(f"b{b}")
            for b in todo])
         .withColumn("_bucket", bucket)
         .write.mode("append").partitionBy("_bucket").parquet(staged))
        wall_ms = int((time.time() - t1) * 1000)
        n, t = turns.get, facts.get
        lineage = _lineage(parts, hot, n.pop("fp"))
        write_checkpoints(spark, cp_path, [
            (JOB_ID, b, "ok", n[f"b{b}"], t[f"b{b}"], wall_ms, lineage)
            for b in todo])
        n_turns += sum(n.values())
    combined = spark.read.schema(COMBINED_SCHEMA).parquet(staged)
    mentions, triples = split_combined(combined)

    merge_upsert(spark, mentions, table("mentions"), keys=MENTION_KEYS)
    merge_upsert(spark, triples, table("triples"), keys=TRIPLE_KEYS)
    # read back with the written schemas: no footer-inference job
    mentions = spark.read.schema(MENTION_SCHEMA).parquet(table("mentions"))
    triples = spark.read.schema(TRIPLE_SCHEMA).parquet(table("triples"))

    # 2. entity linking (broadcast blocked similarity join), one row per
    #    mention_id.  Derived tables are rebuilt from the full fact tables
    #    and replaced: a KB change can change a link, a late earlier turn
    #    an antecedent, a new alias a node label.
    linked = link_mentions(mentions, build_candidate_dict(spark))
    replace_table(linked, table("linked"))
    linked = spark.read.schema(linked.schema).parquet(table("linked"))

    # 2b. cross-sentence pronoun resolution (nearest-antecedent)
    from ie_spark.pipeline.coref import resolve_pronouns
    replace_table(resolve_pronouns(mentions).dropDuplicates(
        ["conv_id", "turn_idx", "sent_idx", "pronoun"]), table("coref"))

    # 3. canonicalization (connected components over mention–entity + _AKA)
    labels = connected_components(build_identity_edges(linked, triples))
    n_nodes = replace_table(canonical_nodes(labels, linked, kb_frame(spark)),
                            table("nodes"))

    # 4. edge materialization with canonical endpoints
    edges = canonical_edges(triples, labels).dropDuplicates(
        ["src", "pred", "dst", "conv_id", "turn_idx", "sent_idx", "polarity"])
    n_edges = replace_table(edges, table("edges"))

    stats = {
        "n_turns": n_turns,
        "n_mentions": mentions.count(),
        "n_triples": triples.count(),
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "resumed": sorted(done),
        "wall_s": round(time.time() - t0, 2),
    }
    # the completion row first, so no open row outlives its files
    write_checkpoints(spark, cp_path,
                      [(JOB_ID, -1, "ok", stats["n_turns"], stats["n_triples"],
                        int(stats["wall_s"] * 1000),
                        f"run_pipeline:v1:{out_dir}")])
    shutil.rmtree(staged, ignore_errors=True)
    return stats
