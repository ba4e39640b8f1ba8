"""End-to-end pipeline orchestrator: transcripts → triples + mentions →
linked mentions → canonical nodes/edges, all materialized with idempotent
merge and per-bucket checkpoints.

This is the single entry point a user of the reference would switch to:

    from ie_spark.pipeline.run import run_pipeline
    stats = run_pipeline(spark, transcripts_df, "/warehouse/kg")

Produces (parquet dirs or Iceberg tables, see graph.merge_upsert):
    <out>/mentions   <out>/triples   <out>/linked   <out>/nodes
    <out>/edges      <out>/_checkpoints
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ie_spark.pipeline.canonicalize import (
    build_identity_edges,
    canonical_edges,
    canonical_nodes,
    connected_components_star as connected_components,
)
from ie_spark.pipeline.extract import (
    TRIPLE_KEYS,
    extract_all,
    find_hot_convs,
    repartition_by_conv,
    split_combined,
)
from ie_spark.pipeline.graph import merge_upsert, write_checkpoints
from ie_spark.pipeline.linking import (build_candidate_dict, kb_metadata,
                                       link_mentions)

MENTION_KEYS = ["mention_id"]


def run_pipeline(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                 candidates: DataFrame | None = None,
                 job_id: str = "pipeline",
                 salt_threshold: int | None = 100_000) -> dict:
    """Full KG construction run.  Idempotent: re-running on the same input
    yields identical tables (merge on natural keys).

    Partitioning (north rule): the input is explicitly hash-repartitioned
    by conv_id; conversations exceeding ``salt_threshold`` turns (found by
    a cheap count pre-pass) are salted per-turn so a 10^8-turn
    mega-conversation cannot pin one partition.  Pass
    ``salt_threshold=None`` to skip the pre-pass when the input is known
    to be well-distributed (extraction itself is per-turn and would run
    shuffle-free without it).

    Spell normalization (C14, off in every oracled path) is a pre-pass
    the caller applies: ``run_pipeline(spark, with_spell_normalized(t),
    out)`` (ie_spark.textproc.spell)."""
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)

    if salt_threshold is not None:
        parts = spark.sparkContext.defaultParallelism * 2
        hot = find_hot_convs(transcripts, salt_threshold)
        transcripts = repartition_by_conv(
            transcripts, parts, salt_buckets=parts if hot else 0,
            hot_convs=hot or None)

    # 1. single-pass extraction (one scan, one Arrow UDF pass, no shuffle
    #    beyond the explicit repartition above), materialized once then
    #    split from storage; the turn count rides on that write
    staged = os.path.join(out_dir, "_extracted")
    turns = Observation()
    transcripts = transcripts.observe(turns, F.count(F.lit(1)).alias("n"))
    extract_all(transcripts).write.mode("overwrite").parquet(staged)
    combined = spark.read.parquet(staged)
    mentions, triples = split_combined(combined)

    merge_upsert(spark, mentions, os.path.join(out_dir, "mentions"),
                 keys=MENTION_KEYS)
    merge_upsert(spark, triples, os.path.join(out_dir, "triples"),
                 keys=TRIPLE_KEYS)
    mentions = spark.read.parquet(os.path.join(out_dir, "mentions"))
    triples = spark.read.parquet(os.path.join(out_dir, "triples"))

    # 2. entity linking (broadcast blocked similarity join)
    candidates = candidates or build_candidate_dict(spark)
    linked = link_mentions(mentions, candidates)
    merge_upsert(spark, linked, os.path.join(out_dir, "linked"),
                 keys=MENTION_KEYS)
    linked = spark.read.parquet(os.path.join(out_dir, "linked"))

    # 2b. cross-sentence pronoun resolution (nearest-antecedent)
    from ie_spark.pipeline.coref import resolve_pronouns
    coref = resolve_pronouns(mentions)
    merge_upsert(spark, coref, os.path.join(out_dir, "coref"),
                 keys=["conv_id", "turn_idx", "sent_idx", "pronoun"])

    # 3. canonicalization (connected components over mention–entity + _AKA)
    labels = connected_components(build_identity_edges(linked, triples))
    nodes = canonical_nodes(labels, linked, kb=kb_metadata(spark))
    nodes.write.mode("overwrite").parquet(os.path.join(out_dir, "nodes"))

    # 4. edge materialization with canonical endpoints
    edges = canonical_edges(triples, labels)
    merge_upsert(spark, edges, os.path.join(out_dir, "edges"),
                 keys=["src", "pred", "dst", "conv_id", "turn_idx",
                       "sent_idx", "polarity"])

    stats = {
        "job_id": job_id,
        "n_turns": int(turns.get["n"]),
        "n_mentions": mentions.count(),
        "n_triples": triples.count(),
        "n_nodes": spark.read.parquet(os.path.join(out_dir, "nodes")).count(),
        "n_edges": spark.read.parquet(os.path.join(out_dir, "edges")).count(),
        "wall_s": round(time.time() - t0, 2),
    }
    write_checkpoints(spark, os.path.join(out_dir, "_checkpoints"),
                      [(job_id, -1, "ok", stats["n_turns"], stats["n_triples"],
                        int(stats["wall_s"] * 1000),
                        f"run_pipeline:v1:{out_dir}")])
    return stats
