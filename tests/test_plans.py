"""Physical-plan quality gates: the plans we designed for are the plans
Catalyst actually produces (pushdown, pruning, broadcast, shuffle-freedom).
These guard against perf regressions that row-level tests can't see."""

import __spark_entry__ as entrymod
from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.pipeline.extract import extract_triples, transcripts_from_pandas


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_extraction_is_shuffle_free(spark):
    tr, _, _ = corpus_to_pandas(n_convs=5, seed=1)
    df = extract_triples(transcripts_from_pandas(spark, tr))
    plan = _plan(df)
    assert "Exchange" not in plan, f"extraction must not shuffle:\n{plan}"
    assert "MapInPandas" in plan


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = entrymod.queries()["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"\
        in plan
    # column pruning: untouched wide columns are not read
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = entrymod.queries()["q5_nation_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_linking_join_is_broadcast(spark):
    from ie_spark.pipeline.extract import extract_mentions
    from ie_spark.pipeline.linking import build_candidate_dict, link_mentions
    tr, _, _ = corpus_to_pandas(n_convs=5, seed=1)
    mentions = extract_mentions(transcripts_from_pandas(spark, tr))
    linked = link_mentions(mentions, build_candidate_dict(spark))
    assert "BroadcastHashJoin" in _plan(linked)


def test_doc_stats_single_scan_no_shuffle(spark, sf_dir):
    df = entrymod.queries()["doc_quality"](spark, sf_dir)
    plan = _plan(df)
    # per-row stats are pure projections: scan → project → sort only
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" not in plan


def test_extract_all_is_one_udf_pass_no_shuffle(spark):
    """Single-pass combined extraction: exactly ONE MapInPandas, zero
    exchanges (the discriminated split happens after materialization)."""
    from ie_spark.pipeline.extract import extract_all
    tr, _, _ = corpus_to_pandas(n_convs=5, seed=1)
    plan = _plan(extract_all(transcripts_from_pandas(spark, tr)))
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_knn_join_shuffles_only_local_topk(spark, sf_dir):
    """knn_join's per-query top-k must be two-phase in the physical plan:
    a PARTIAL WindowGroupLimit (map-side top-k) before the q_id exchange,
    so the shuffle carries ≤ k rows per (query, input partition) — never
    the full corpus×queries row set into one reducer per query
    (round-2 verdict #4)."""
    df = entrymod.queries()["emb_knn_join"](spark, sf_dir)
    plan = _plan(df)
    exch = plan.index("Exchange hashpartitioning(q_id")
    partial = plan.index("WindowGroupLimit")
    # the plan prints top-down: the exchange node appears above its child,
    # so the Partial limit must appear BELOW (after) the exchange text AND
    # carry the 'Partial' mode marker
    assert "Partial" in plan[exch:], \
        f"no map-side WindowGroupLimit below the q_id exchange:\n{plan}"
    assert plan.count("WindowGroupLimit") >= 2 and partial < len(plan)
    first_window_region = plan[exch:]
    assert "WindowGroupLimit" in first_window_region


def test_edge_map_join_is_broadcast(spark):
    """kg_edges joins the triple stream to the stem→node map — the map is
    KB-canonicalization-scoped and must broadcast (round-2 verdict #8);
    a regression to sort-merge on skewed stems would shuffle the full
    triple stream twice."""
    # the declared query memoizes + checkpoints per session (r06), which
    # truncates its plan to the checkpoint scan — gate the BUILDER, where
    # the joins actually live
    df = entrymod._kg_edges_build(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_coref_join_not_nested_loop(spark):
    """The antecedent join has an equi component (conv_id) — it must plan
    as a hash/sort-merge join with the range conditions as residuals,
    never a nested loop."""
    from ie_spark.pipeline.coref import resolve_pronouns
    from ie_spark.pipeline.extract import extract_mentions
    tr, _, _ = corpus_to_pandas(n_convs=5, seed=1)
    plan = _plan(resolve_pronouns(
        extract_mentions(transcripts_from_pandas(spark, tr))))
    assert "NestedLoop" not in plan


def test_conv_stats_expr_partial_aggregation(spark, sf_dir):
    """The expression conv-stats (the 100 TB shape vs the applyInPandas
    demo) must plan partial (map-side) aggregation — three aggregates per
    partition, never a per-group materialization.  (sf_dir is unused by
    the query — it builds its own synthetic transcripts — but keeps the
    fixture convention.)"""
    df = entrymod.queries()["kg_conv_stats_expr"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "FlatMapGroupsInPandas" not in plan


def test_line_dedup_partial_agg_no_windowed_collect(spark, sf_dir):
    """line_dedup's hot-set count must plan map-side partial aggregation
    on the line hash (partial_count(distinct ...) pre-shuffle), and the
    rebuild must never use a windowed collect_set — the window variant
    would hold one entry per occurrence of a mega-hot line in executor
    memory."""
    df = entrymod.queries()["doc_line_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_markup_strip_is_shuffle_free(spark, sf_dir):
    """The markup pass is a pure expression chain — no Exchange, no
    Python UDF; the regex work stays inside whole-stage codegen."""
    df = entrymod.queries()["doc_markup_strip"](spark, sf_dir)
    plan = _plan(df)
    # the orderBy adds the final sort exchange; nothing else shuffles
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_df_partial_aggregation(spark, sf_dir):
    """Document-frequency counts must plan map-side partial aggregation
    and dedupe words within a document BEFORE the explode
    (array_distinct in the project, not a countDistinct shuffle)."""
    df = entrymod.queries()["doc_vocab_df"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "array_distinct" in plan


def test_two_hop_hub_cap_is_broadcast_anti(spark):
    """The two-hop hub-cap exclusion must come out as a BROADCAST
    anti-join on a tiny hub set.  The hint is deliberately absent (a hub
    set is unbounded in |E|, so a mandatory broadcast could OOM the
    driver at scale — line_dedup convention); the planner/AQE must still
    pick broadcast here from size stats.  Assert BroadcastHashJoin and
    LeftAnti on the SAME join node — independent whole-plan substring
    checks could each match a different join."""
    from ie_spark.pipeline.analytics import two_hop_paths
    # the hub must be NON-empty at runtime ("h" has 3 in-neighbors >
    # cap=2): with an empty build side AQE eliminates the anti-join
    # outright and there is no join node left to assert on
    edges = spark.createDataFrame(
        [("a", "p", "h"), ("b", "p", "h"), ("c", "p", "h"),
         ("h", "p", "z"), ("a", "p", "b")],
        "src string, pred string, dst string")
    df = two_hop_paths(edges, max_fanout=2)
    df.collect()  # let AQE finalize the physical plan
    plan = _plan(df)
    # AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
    # (where the unhinted anti IS a SortMergeJoin) — scan only the
    # finalized section above it
    final = plan.split("== Initial Plan ==")[0]
    anti = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti, plan
    assert all("BroadcastHashJoin" in ln for ln in anti), plan


def test_pack_plan_single_shuffle_and_pruning(spark, sf_dir):
    """Sequence packing must cost exactly ONE exchange (the hash
    partition on the shard key feeding the running-sum window) and read
    only (doc_id, text) from the documents scan — the token counting and
    shard routing fuse into the scan projection."""
    df = entrymod.queries()["doc_pack_plan"](spark, sf_dir)
    plan = _plan(df)
    # one hash exchange for the window + the final orderBy's range
    # exchange; nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") <= 2
    sch = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in sch and "text" in sch and "source" not in sch


def test_domain_mix_partial_aggregation(spark, sf_dir):
    """Mixture weights: map-side partial aggregation below the stratum
    exchange; the normalizing window runs over the tiny per-stratum
    table (single partition is deliberate and asserted — if a per-doc
    window sneaks in, the partition count explodes)."""
    df = entrymod.queries()["doc_domain_mix"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan
    assert "SinglePartition" in plan


def test_link_prediction_hub_cap_is_broadcast_anti(spark):
    """Like two_hop: the wedge-center hub exclusion must plan as a
    broadcast anti-join on the tiny hub set without a mandatory hint.
    checkpoint=False keeps the lineage inspectable (the production
    default truncates it); the graph must produce NON-empty output or
    AQE collapses the whole plan to EmptyRelation and there is nothing
    to assert on: hub h (degree 3 > cap 2) + center m sharing the
    non-adjacent pair (a, b)."""
    from ie_spark.pipeline.analytics import link_prediction
    edges = spark.createDataFrame(
        [("a", "p", "h"), ("b", "p", "h"), ("c", "p", "h"),
         ("a", "p", "m"), ("b", "p", "m")],
        "src string, pred string, dst string")
    df = link_prediction(edges, max_fanout=2, min_common=1,
                         checkpoint=False)
    assert len(df.collect()) > 0  # collect() finalizes THIS plan's AQE
    final = _plan(df).split("== Initial Plan ==")[0]
    anti = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti
    # anti-joins present: hub-center exclusion AND adjacency exclusion;
    # every one must be a broadcast hash anti here (tiny build sides)
    assert any("BroadcastHashJoin" in ln for ln in anti)
    assert not any("NestedLoop" in ln for ln in anti)


def test_bucketed_edge_join_skips_exchange(spark, tmp_path):
    """Two tables bucketed identically on the join key must sort-merge
    join with ZERO Exchange nodes — the co-located join that makes a
    pre-bucketed 10^12-edge table cheap to consume.  Broadcast is
    disabled for the assertion (a broadcast would also avoid the
    shuffle, but for the wrong, size-limited reason)."""
    from pyspark.sql import functions as F

    from ie_spark.pipeline.graph import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb "
              f"LOCATION '{tmp_path}/warehouse'")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [(f"n{i % 7}", f"n{(i * 3) % 11}", i) for i in range(200)],
            "src string, dst string, w long")
        write_bucketed(edges, "bdb.e1", ["src"], n_buckets=4,
                       sort_cols=["src"])
        write_bucketed(edges.select("src", F.col("w").alias("w2")),
                       "bdb.e2", ["src"], n_buckets=4, sort_cols=["src"])
        j = spark.table("bdb.e1").join(spark.table("bdb.e2"), "src")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and a per-key aggregation over one bucketed table: no exchange
        agg = (spark.table("bdb.e1").groupBy("src")
               .agg(F.sum("w").alias("tw")))
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
        assert agg.count() == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_partition_pruning_static_and_dynamic(spark, tmp_path, sf_dir):
    """Date-partitioned layout (the 100 TB table layout): a literal day
    filter must prune at the PARTITION level (PartitionFilters on the
    scan, not a post-scan filter), and a join against a filtered dim
    must trigger DYNAMIC partition pruning (runtime subquery filter on
    the fact scan)."""
    import os

    from pyspark.sql import functions as F

    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .withColumn("day", F.to_date("ts")))
    path = str(tmp_path / "ev_by_day")
    ev.write.partitionBy("day").parquet(path)
    pt = spark.read.parquet(path)

    static = pt.filter(F.col("day") == "2024-01-05")
    plan = _plan(static)
    # assert on the BRACKET CONTENT: a substring check over a fixed
    # window also matches the adjacent PushedFilters text when
    # PartitionFilters is empty (review finding, reproduced on an
    # unpartitioned table)
    at = plan.index("PartitionFilters: [") + len("PartitionFilters: [")
    content = plan[at:plan.index("]", at)]
    assert content.strip() and "day" in content, repr(content)

    # the dim must be a FILE relation with a filter: an in-memory RDD
    # has unknown (huge) size stats, so the planner would broadcast the
    # FACT side and DPP (reuse-broadcast-only by default) never fires
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("2024-01-05", "maint"), ("2024-01-06", "other")],
        "d string, tag string").select(
        F.col("d").cast("date").alias("day"),
        "tag").write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "maint")
    joined = pt.join(dim, "day")
    jplan = _plan(joined)
    assert "dynamicpruningexpression" in jplan.lower(), jplan[:1500]


def test_fan_out_noops_on_wide_input(spark, tmp_path):
    """adaptive_fan_out exists for single-row-group scans; on an input
    that is already at the session parallelism it must add NO exchange
    (the cluster-scale branch — guide §2.5)."""
    from pyspark.sql import functions as F
    from ie_spark.operators.partitioning import adaptive_fan_out, input_bytes
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, par).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    out = adaptive_fan_out(wide, "k")
    assert out is wide  # no repartition node added

    narrow = spark.range(0, 1000, 1, 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    out2 = adaptive_fan_out(narrow, "k")
    assert out2 is not narrow
    assert out2.rdd.getNumPartitions() == \
        min(par, max(8, par // 4, input_bytes(narrow) // (2 << 20)))


def test_fan_out_width_rule(spark, tmp_path, monkeypatch):
    """The fanned width is min(cores, max(8, cores // 4, bytes // 2 MiB)).
    The test session is local[4], where the cap decides every width, so
    the core count the policy reads is overridden to make each term
    decide once."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F
    from ie_spark.operators.partitioning import adaptive_fan_out, input_bytes
    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    spark.range(0, 1000, 1, 1).write.parquet(small)
    # ~24 MB of incompressible doubles in one file
    spark.range(0, 3_000_000, 1, 1).select(F.rand(7).alias("x")) \
        .write.parquet(big)
    small_df, big_df = spark.read.parquet(small), spark.read.parquet(big)
    per_2mib = input_bytes(big_df) // (2 << 20)
    assert 8 < per_2mib < 16, per_2mib
    assert big_df.rdd.getNumPartitions() < 16

    def width(df, cores):
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: cores))
        return adaptive_fan_out(df).rdd.getNumPartitions()

    assert width(small_df, 4) == 4          # cap: cores
    assert width(small_df, 16) == 8         # floor: 8
    assert width(small_df, 64) == 16        # floor: cores // 4
    assert width(big_df, 32) == per_2mib    # bytes // 2 MiB
    assert width(big_df, 128) == 32         # cores // 4 beats the bytes


def test_input_bytes_decodes_file_uris(spark, tmp_path):
    """``inputFiles`` returns percent-encoded URIs; a directory name with a
    space must still count every file, not fall back to 0."""
    from ie_spark.operators.partitioning import input_bytes
    path = tmp_path / "with space.parquet"
    spark.range(0, 1000, 1, 3).write.parquet(str(path))
    files = list(path.glob("*.parquet"))
    assert len(files) == 3
    assert input_bytes(spark.read.parquet(str(path))) == \
        sum(f.stat().st_size for f in files)
