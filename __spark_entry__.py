"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship KG triple extraction on the deterministic
synthetic transcript corpus (BASELINE.json input_hint shape).

`queries()` — one entry per implemented operator family:
  - kg_*           : the knowledge-graph construction pipeline (extraction,
                     linking, canonicalization, graph tables).  These run on
                     the synthetic transcript corpus (deterministic, seeded)
                     because the testdata star schema has no transcripts.
                     kg_triples / kg_mentions / kg_lexicon / kg_orphans are
                     driver-oracled against the TEMPLATE-DERIVED golden
                     fixtures rendered as DuckDB VALUES (independent of the
                     extractor — the same fixtures the pytest P/R gate
                     uses); kg_linked_mentions against an independent SQL
                     re-implementation of the blocked LCP linker.
                     kg_nodes/kg_edges (linking + connected components) and
                     kg_constituents stay rows-only, pytest-gated
                     (tests/test_linking_canonicalize.py, golden
                     constituent tests in tests/test_extractor.py).
  - tpch-ish q*    : relational operator coverage over the testdata tables
                     (scan/filter/join/agg/window/top-k) with DuckDB oracles.
  - doc_*          : training-data text operators (dedup, stats, lang-id,
                     fingerprints, n-gram jaccard) with DuckDB oracles.
  - emb_*          : similarity search (brute-force cosine top-k, near-dup
                     pairs, knn join) with DuckDB oracles; ANN variant is
                     rows-only (approximate by construction).

Float policy: every float aggregate is rounded on BOTH sides (and money
sums are computed in DECIMAL then cast) so value-hashes match bit-for-bit.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from ie_spark.operators.partitioning import adaptive_fan_out  # noqa: E402
from ie_spark.session import local_frame, ship_package  # noqa: E402

_TABLE_CACHE: dict = {}


def _memo(spark: SparkSession, key: tuple, build: Callable[[], DataFrame]):
    """Session-scoped memo for table handles and materialized frames,
    keyed on the live session object so a restarted session rebuilds.
    DataFrames are immutable, so reusing one across queries is safe."""
    # bounded: only evict (race-safely) other sessions' entries once the
    # memo outgrows a small budget, so alternating live sessions don't
    # thrash each other and a concurrent eviction can never KeyError a
    # query mid-run
    if len(_TABLE_CACHE) > 64:
        for k in list(_TABLE_CACHE):
            if k[0] is not spark:
                _TABLE_CACHE.pop(k, None)
    key = (spark, *key)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _TABLE_CACHE[key] = build()
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-scoped table handle: re-listing files and re-reading
    parquet footers costs 0.3–1.2 s per spark.read.parquet even warm —
    a real deployment catalogs table schemas once."""
    return _memo(spark, (sf_dir, name), lambda: spark.read.parquet(
        os.path.join(sf_dir, f"{name}.parquet")))


def _shingles(spark: SparkSession, sf_dir: str):
    """Session-scoped materialized shingle/minhash/band frame over the
    documents table — ONE Arrow pass shared by doc_minhash_dedup (sh_h +
    bh) and doc_ngram_dups (sh_h only).  Shingling is the dominant shared
    cost of the dedup ladder; a session running both queries (the bench,
    the driver's gate) pays it once."""
    from ie_spark.operators.dedup import shingle_frame
    return _memo(spark, (sf_dir, "__shingles__"), lambda: shingle_frame(
        _t(spark, sf_dir, "documents"), n=3, num_hashes=64, bands=16))


# Output-ordering policy (r06 optimization): declared queries return an
# unordered result SET.  The correctness contract canonicalizes both engines
# identically (columns sorted by name, rows sorted by all columns, then
# hashed — scripts/check_correctness.py, the driver-gate replica), so a
# trailing presentation orderBy never affects rows/schema/hash — but it DOES
# cost a rangepartitioning exchange whose bound-sampling pass re-executes the
# sort's entire child subtree once more (scan+project reruns for map-only
# queries), plus a full sort stage.  At 100 TB a global sort of query output
# purely for display order is a scale-killer (guide §2.4: "an orderBy used
# only to make output deterministic").  Semantic sorts (top-k orderBy+limit)
# are kept.


def _dec_sum(col, alias, scale=2):
    # round in DECIMAL space, cast after: rounding the double loses the
    # exact tie (sum=…x.xx5 → Spark/DuckDB disagree; hit at sf0.1 in
    # events_user_rollup's avg)
    return F.round(
        F.sum(F.col(col).cast("decimal(18,6)")), scale
    ).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# KG pipeline (synthetic transcripts; rows-only driver check + pytest gate)
# ---------------------------------------------------------------------------

_KG_CONVS = 120


def _kg_transcripts(spark: SparkSession) -> DataFrame:
    """Session-scoped transcript handle: the deterministic 120-conv corpus
    is generated on the driver and arrow-shipped once per session instead
    of once per kg query — 18 kg queries re-used it ~30× per correctness
    session."""
    def build():
        from ie_spark.data.synthetic import corpus_to_pandas
        from ie_spark.pipeline.extract import transcripts_from_pandas
        tr, _, _ = corpus_to_pandas(n_convs=_KG_CONVS, seed=42)
        return transcripts_from_pandas(spark, tr)
    return _memo(spark, ("__kg_transcripts__",), build)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-turn (subj, pred, obj) triple extraction via Arrow
    pandas UDFs over the transcript table (north rule headline)."""
    from ie_spark.pipeline.extract import extract_triples
    ship_package(spark)
    return extract_triples(_kg_transcripts(spark))


def _q_kg_triples(spark, sf_dir):
    """North-rule headline, driver-oracled: the oracle is the TEMPLATE-
    DERIVED golden fixture set (never produced by the extractor — a genuine
    independent reference, SURVEY.md §5) rendered as a DuckDB VALUES table.
    Projection: the template-defined columns; the referent columns
    (subj_ref/event_ref/obj_ref) are pytest-gated instead
    (test_boy_girl_referent_numbering) and stay in the operator API."""
    from ie_spark.pipeline.extract import TRIPLE_KEYS, extract_triples
    return extract_triples(_kg_transcripts(spark)).select(*TRIPLE_KEYS)


def _q_kg_mentions(spark, sf_dir):
    """Driver-oracled against template-golden mentions (entity/propername/
    pronoun kinds — the golden inventory; date/number/attribute/wh kinds
    are pytest-gated, full table in the operator API)."""
    from ie_spark.pipeline.extract import extract_mentions
    return (extract_mentions(_kg_transcripts(spark))
            .filter(F.col("kind").isin("entity", "propername", "pronoun"))
            .select("conv_id", "turn_idx", "sent_idx", "stem", "kind"))


def _q_kg_linked(spark, sf_dir):
    """Driver-oracled at stem granularity: linking is deterministic per
    (stem, kind), so the distinct stem-level projection carries the full
    decision surface; the oracle re-implements blocked LCP-scoring + top-1
    in DuckDB SQL over the template-golden mentions (independent path).
    Full per-occurrence table (mention_id, refs, KB metadata) stays in the
    operator API (link_mentions) and is pytest-gated."""
    from ie_spark.pipeline.extract import extract_mentions
    from ie_spark.pipeline.linking import build_candidate_dict, link_mentions
    m = extract_mentions(_kg_transcripts(spark))
    linked = link_mentions(m, build_candidate_dict(spark))
    return (linked.select("stem", "kind", "entity_id",
                          F.round("score", 6).alias("score"))
            .distinct())


def _kg_extracted_once(spark):
    """Single-pass extraction for the multi-table kg queries: ONE scan +
    ONE MapInPandas (extract_all), materialized (localCheckpoint) so the
    mentions/triples branches don't each re-run the UDF.  Session-scoped:
    kg_nodes/kg_edges/kg_edge_classes and the seven graph-analytics
    queries all start from this pass, and without the memo each of them
    re-ran the extraction UDF per query in a correctness session."""
    from ie_spark.pipeline.extract import extract_all, split_combined
    return split_combined(_memo(
        spark, ("__kg_combined__",),
        lambda: extract_all(_kg_transcripts(spark)).localCheckpoint()))


def _kg_labels(spark):
    """(linked mentions, triples, component labels) over the single
    extraction pass — the shared prefix of kg_nodes and kg_edges."""
    from ie_spark.pipeline.canonicalize import (build_identity_edges,
                                                connected_components_star)
    from ie_spark.pipeline.linking import build_candidate_dict, link_mentions
    mentions, triples = _kg_extracted_once(spark)
    linked = link_mentions(mentions, build_candidate_dict(spark))
    return linked, triples, connected_components_star(
        build_identity_edges(linked, triples))


def _q_kg_nodes(spark, sf_dir):
    from ie_spark.pipeline.canonicalize import canonical_nodes
    from ie_spark.pipeline.linking import kb_frame
    linked, _, labels = _kg_labels(spark)
    return canonical_nodes(labels, linked, kb_frame(spark))


def _q_kg_edges(spark, sf_dir):
    # session-scoped memo (see _kg_extracted_once): kg_edge_classes and
    # the seven graph-analytics queries all consume this edge list; the
    # lazy checkpoint materializes the linking + connected-components
    # prefix once per session instead of once per query
    return _memo(spark, ("__kg_edges__",), lambda: _kg_edges_build(
        spark, sf_dir).localCheckpoint(eager=False))


def _kg_edges_build(spark, sf_dir):
    from ie_spark.pipeline.canonicalize import canonical_edges
    _, triples, labels = _kg_labels(spark)
    return canonical_edges(triples, labels).select(
        "src", "pred", "dst", "conv_id", "turn_idx")


# ---------------------------------------------------------------------------
# Relational coverage over the testdata star schema (DuckDB oracles)
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_dec_sum("l_quantity", "sum_qty"),
                 _dec_sum("l_extendedprice", "sum_base_price"),
                 F.round(F.sum((F.col("l_extendedprice").cast("decimal(18,6)")
                                * (1 - F.col("l_discount").cast("decimal(18,6)")))
                               ).cast("double"), 2).alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def _q3_top_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (1 - F.col("l_discount").cast("decimal(18,6)")))
    li = adaptive_fan_out(li, "l_orderkey")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
                  o.o_custkey == F.col("c_custkey"))
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    "o_orderpriority", "revenue"))


def _q5_nation_revenue(spark, sf_dir):
    """Multi-way join through the star schema; broadcast the dims."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (1 - F.col("l_discount").cast("decimal(18,6)")))
    li = adaptive_fan_out(li, "l_orderkey")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


def _q6_revenue_forecast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1997-01-01")
                      & (F.col("l_shipdate") < "1998-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                               * F.col("l_discount").cast("decimal(18,6)")), 2).cast("double").alias("revenue"),
                 F.count("*").alias("n_rows")))


def _q_top_customers_per_nation(spark, sf_dir):
    """Window-function coverage: rank customers by acctbal within nation."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("n_name", "c_custkey", "c_name",
                    F.round(F.col("c_acctbal"), 2).alias("acctbal"),
                    "rank"))


def _q_order_priority_count(spark, sf_dir):
    """Semi-join (EXISTS) coverage."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > "1998-06-01").select("l_orderkey")
    return (o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


def _q_parts_by_brand(spark, sf_dir):
    """Aggregation with distinct + having coverage."""
    p = _t(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
            .agg(F.countDistinct("p_type").alias("n_types"),
                 F.round(F.avg(F.col("p_retailprice").cast("decimal(18,6)")), 4).cast("double").alias("avg_price"),
                 F.max("p_size").alias("max_size"))
            .filter(F.col("n_types") >= 1))


def _q_supplier_balance(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").alias("total_bal"),
                 F.count("*").alias("n_suppliers")))


def _q_revenue_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (region → nation) — grouping-set coverage."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    c = _t(spark, sf_dir, "customer")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .rollup("r_name", "n_name")
            .agg(F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").alias("total_bal"),
                 F.count("*").alias("n_customers"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
                    F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
                    "total_bal", "n_customers"))


def _q_customers_without_orders(spark, sf_dir):
    """Anti-join coverage (the reference's content-hash skip, A2).

    The anti-join runs against *filtered* orders (no URGENT order) rather
    than all orders: in this corpus every customer has at least one order,
    so the unfiltered variant returned 0 rows at every SF — both engines
    agreeing on "empty" proves the plan compiles, not that the operator is
    right.  The filter also exercises pushdown-under-anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
               .select(F.col("o_custkey").alias("c_custkey")).distinct())
    return (c.join(urgent, "c_custkey", "left_anti")
            .select("c_custkey", "c_name"))


def _q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:mm:ss").alias("hour"),
                       "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("total_value")))


def _q_events_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session; count sessions and
    events per user (lag window + running sum)."""
    ev = adaptive_fan_out(_t(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: timestampdiff is calendar arithmetic — timezone-
    # independent; MICROSECOND unit keeps sub-second gaps exact (SECOND
    # truncates, which disagrees with fractional epoch() at the boundary)
    ev = ev.withColumn("_prev_ts", F.lag("ts").over(w))
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    return (ev.withColumn("new_sess",
                          F.when(gap.isNull() | (gap > 1800 * 1000000), 1)
                          .otherwise(0))
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events")))


def _q_events_session_window(spark, sf_dir):
    """Native session-window sessionization (F.session_window — the
    idiomatic, state-store-backed operator Structured Streaming shares):
    same 30-min-gap semantics as the lag-window variant, counted per user.
    Boundary note: a session window is [start, last+gap), so an event at
    exactly last+gap starts a NEW session — the oracle uses >= gap."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("_n"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("_n").alias("n_events")))


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_events_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (Spark `percentile`
    == DuckDB `quantile_cont`, both linear interpolation).  Exact
    percentile is sort-based per group; at 100 TB swap for
    `approx_percentile` (t-digest, mergeable map-side)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
                 F.round(F.max("value"), 4).alias("vmax")))


def _q_events_type_pivot(spark, sf_dir):
    """Pivot coverage: per-user event-type counts as columns (explicit
    value list keeps the schema deterministic — required for pivot to
    avoid a distinct-scan job and for a stable driver schema)."""
    ev = _t(spark, sf_dir, "events")
    out = (ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
           .na.fill(0, _EVENT_TYPES))
    return out.select("user_id",
                      *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES])


def _q_events_unpivot(spark, sf_dir):
    """Unpivot (stack) coverage as a machine-checked identity: pivot
    per-user type counts to columns, stack them back to rows, drop the
    never-occurred combinations — which must equal the direct
    (user_id, event_type) aggregation the oracle computes.  stack() is
    a generator expression (one pass, no shuffle beyond the pivot's
    own aggregation)."""
    ev = _t(spark, sf_dir, "events")
    pv = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    expr = ", ".join(f"'{t}', `{t}`" for t in _EVENT_TYPES)
    return (pv.select(
        "user_id",
        F.expr(f"stack({len(_EVENT_TYPES)}, {expr}) AS (event_type, n)"))
        .filter(F.col("n").isNotNull()))


def _q_events_cube(spark, sf_dir):
    """CUBE coverage (ROLLUP's sibling — all 2^k grouping sets): per
    (event_type, day) value totals with every subtotal plane.  Decimal-
    space rounding before the double cast, the repo's standard
    cross-engine money-sum recipe (see q1/rollup)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string"))
    return (ev.cube("event_type", "day")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                 .cast("double").alias("total_value"))
            .select(F.coalesce("event_type", F.lit("ALL"))
                    .alias("event_type"),
                    F.coalesce("day", F.lit("ALL")).alias("day"),
                    "n", "total_value"))


def _q_events_moving_window(spark, sf_dir):
    """Time-RANGE window frames (not ROWS): per event, the count and
    peak value of the same user's events in the trailing 30 minutes.
    RANGE frames include timestamp PEERS, so the result is
    deterministic under tie reordering — and only order-insensitive
    aggregates (count/max) are used, keeping the oracle exact."""
    ev = _t(spark, sf_dir, "events")
    frame = ("OVER (PARTITION BY user_id ORDER BY ts "
             "RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING "
             "AND CURRENT ROW)")
    return (ev.select(
        "event_id", "user_id",
        F.expr(f"count(*) {frame}").alias("n_30m"),
        F.expr(f"round(max(value) {frame}, 4)").alias("peak_30m")))


def _q_events_funnel(spark, sf_dir):
    """Sequential funnel: purchases preceded by a click within 30 min
    (ordered-event analytics via an unbounded-preceding running max of
    click timestamps — one window pass, no self-join)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    ev = ev.withColumn("_lc", last_click)
    conv = ((F.col("event_type") == "purchase")
            & F.col("_lc").isNotNull()
            & (F.expr("timestampdiff(MICROSECOND, _lc, ts)")
               <= 1800 * 1000000))
    return (ev.groupBy("user_id")
            .agg(F.sum(conv.cast("long")).alias("n_conversions"),
                 F.sum((F.col("event_type") == "purchase").cast("long"))
                 .alias("n_purchases")))


def _q_events_set_ops(spark, sf_dir):
    """Explicit set-operator coverage: INTERSECT (purchase-days that also
    saw a click) then EXCEPT (minus days with an error).

    Granularity is (user_id, day), not bare user_id: in this corpus every
    user eventually emits every event type, so the user-level variant
    returned 0 rows at every SF — a vacuous oracle.  Day granularity keeps
    both set operators doing real discrimination (each leg non-empty,
    output strictly between empty and the full intersect)."""
    ev = _t(spark, sf_dir, "events")
    days_of = lambda t: (ev.filter(F.col("event_type") == t)
                         .select("user_id",
                                 F.date_format(F.to_date("ts"),
                                               "yyyy-MM-dd").alias("day"))
                         .distinct())
    return (days_of("purchase").intersect(days_of("click"))
            .subtract(days_of("error")))


def _q_events_asof(spark, sf_dir):
    """Point-in-time (as-of) join — for every event, the user's most
    recent STRICTLY-earlier purchase (operators/temporal.py asof_join:
    union → one keyed window, no range explosion; Spark has no native
    ASOF JOIN).  Oracled against DuckDB's native ASOF LEFT JOIN, which
    makes the whole operator independently machine-checked."""
    from ie_spark.operators.temporal import asof_join
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("purchase_value")))
    out = asof_join(ev.select("event_id", "user_id", "ts", "event_type"),
                    purchases, key_cols=["user_id"], ts_col="ts",
                    value_cols=["purchase_value"], strict=True)
    return (out.select("event_id", "user_id", "ts", "event_type",
                       F.col("r_ts").alias("last_purchase_ts"),
                       F.col("r_purchase_value").alias(
                           "last_purchase_value")))


def _q_events_intervals(spark, sf_dir):
    """Interval-overlap (range) join — sessions × planted maintenance
    windows (operators/temporal.py interval_join: time-bucket equi-join
    with a first-shared-bucket dedup, no nested-loop range join).
    Sessions come from the native session_window aggregation (closed
    [first_ts, last_ts + gap] interval); windows are the deterministic
    rows in ie_spark.data.window_samples, rendered into both engines
    from the same constants.  Output: per-window overlapping session
    and user counts."""
    from ie_spark.data.window_samples import MAINT_WINDOWS
    from ie_spark.operators.temporal import interval_join
    ev = _t(spark, sf_dir, "events")
    sess = (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("_n"))
            .select("user_id",
                    F.col("session_window.start").alias("s_start"),
                    F.col("session_window.end").alias("s_end")))
    wins = local_frame(
        spark, MAINT_WINDOWS, "win_id string, w_start string, w_end string"
    ).select("win_id",
             F.col("w_start").cast("timestamp_ntz").alias("w_start"),
             F.col("w_end").cast("timestamp_ntz").alias("w_end"))
    out = interval_join(sess, wins, "s_start", "s_end",
                        "w_start", "w_end")
    return (out.groupBy("win_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.countDistinct("user_id").alias("n_users")))


def _q_kg_conv_stats(spark, sf_dir):
    """Batch grouped-map Arrow UDF coverage (applyInPandas — the batch
    sibling of the streaming state tracker): per-conversation turn count
    and timestamp-gap stats computed in pandas, checked against a plain
    SQL aggregation oracle.

    Scale note: applyInPandas materializes one full group per pandas
    frame — a 10^8-turn mega-conversation would OOM a worker.  For these
    particular stats the expression aggregation (the oracle's min/max/
    count shape) is the 100 TB path; this operator demonstrates the
    grouped-map surface for logic that genuinely needs pandas."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                                   StructField, StructType)
    tr = _kg_transcripts(spark)
    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("span_s", DoubleType()),
        StructField("mean_gap_s", DoubleType()),
    ])

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        ts = pdf["ts"]
        span = (ts.iloc[-1] - ts.iloc[0]).total_seconds()
        n = len(pdf)
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [n],
            "span_s": [round(float(span), 4)],
            "mean_gap_s": [round(float(span / (n - 1)), 4) if n > 1 else 0.0],
        })

    return (tr.select("conv_id", "turn_idx", "ts")
            .groupBy("conv_id").applyInPandas(stats, schema=schema))


def _q_kg_conv_stats_expr(spark, sf_dir):
    """The 100 TB path for the same conversation stats: ONE map-side-
    combined expression aggregation (count/min/max), no per-group
    materialization — a mega-conversation costs three partial aggregates
    per partition instead of one worker-resident pandas frame.  Same
    oracle SQL as the grouped-map demo; the two queries agree whenever
    event time is monotone in turn_idx (the transcript ordering contract
    — the pandas demo spans first→last BY TURN, this one min→max ts).
    The double cast keeps sub-second precision (unix_timestamp would
    truncate to whole seconds on real ingestion data)."""
    tr = _kg_transcripts(spark)
    span = (F.max(F.col("ts").cast("double"))
            - F.min(F.col("ts").cast("double")))
    n = F.count("*")
    return (tr.groupBy("conv_id")
            .agg(n.cast("int").alias("n_turns"),
                 F.round(span, 4).alias("span_s"),
                 F.round(F.when(n > 1, span / (n - 1))
                         .otherwise(F.lit(0.0)), 4).alias("mean_gap_s")))


def _q_doc_bpe_tokens(spark, sf_dir):
    """Sub-word-ish token counting (BPE proxy for budget estimation)."""
    from ie_spark.operators.textstats import bpe_ish_token_count
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count().alias("n_bpe"))


def _q_events_user_rollup(spark, sf_dir):
    """JSON column access + conditional aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
            .groupBy("user_id")
            .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("n_purchases"),
                 F.max("k").alias("max_k"),
                 F.round(F.avg(F.col("value").cast("decimal(18,6)")), 4).cast("double").alias("avg_value")))


# ---------------------------------------------------------------------------
# Documents: training-data text operators (DuckDB oracles)
# ---------------------------------------------------------------------------


def _q_doc_exact_dedup(spark, sf_dir):
    from ie_spark.operators.dedup import exact_dedup_ids
    return exact_dedup_ids(_t(spark, sf_dir, "documents"))


def _q_doc_token_count(spark, sf_dir):
    from ie_spark.operators.textstats import token_count
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count().alias("n_tokens"))


def _q_doc_fingerprint(spark, sf_dir):
    from ie_spark.operators.textstats import fingerprint_md5
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5().alias("fp"))


def _q_doc_lang_id(spark, sf_dir):
    from ie_spark.operators.textstats import lang_id
    d = _t(spark, sf_dir, "documents")
    return (d.select("doc_id", lang_id().alias("lang_guess"))
            .groupBy("lang_guess").agg(F.count("*").alias("n")))


def _q_doc_lang_id_multi(spark, sf_dir):
    """Multilingual language-ID (frozen per-language marker tables, 6
    languages + other/unk) over the documents corpus UNIONed with the
    planted known-language rows from ie_spark.data.lang_samples: the
    corpus itself is English-ish tech text, so without planted rows the
    de/es/fr/it/pt branches would never fire and the oracle would be
    vacuous for them.  Both engines classify the same union row-by-row."""
    from ie_spark.data.lang_samples import LANG_SAMPLES
    from ie_spark.operators.textstats import lang_id_multi
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = local_frame(spark, [(s, t) for s, _, t in LANG_SAMPLES],
                          "doc_id string, text string")
    return (d.unionByName(planted)
            .select("doc_id", lang_id_multi().alias("lang_guess")))


def _q_doc_markup_strip(spark, sf_dir):
    """HTML/markup extraction pass over documents ∪ planted HTML-ish
    rows from ie_spark.data.markup_samples (the corpus is plain word
    bags, so the script/style/tag/URL/entity branches need planted
    rows to be non-vacuous).  Both engines run the same RE2-compatible
    pattern chain."""
    from ie_spark.data.markup_samples import MARKUP_SAMPLES
    from ie_spark.operators.textstats import markup_strip
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = local_frame(spark, MARKUP_SAMPLES, "doc_id string, text string")
    return markup_strip(d.unionByName(planted))


def _q_doc_url_domains(spark, sf_dir):
    """Per-domain URL profile (domain quality filtering / blocklists —
    the C4/RefinedWeb curation step) over documents ∪ planted URL rows
    from ie_spark.data.url_samples (the corpus has no URLs at any SF,
    so the extraction, normalization, and dedup-by-doc branches need
    planted rows to be non-vacuous).  Both engines run the same
    RE2-compatible host pattern."""
    from ie_spark.data.url_samples import URL_SAMPLES
    from ie_spark.operators.textstats import url_domain_stats
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = local_frame(spark, URL_SAMPLES, "doc_id string, text string")
    return url_domain_stats(d.unionByName(planted))


def _q_doc_vocab_df(spark, sf_dir):
    """Corpus vocabulary document-frequency table (min_df=2) — the
    profiling pass behind stopword discovery and hot-term caps."""
    from ie_spark.operators.textstats import vocab_document_frequency
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return vocab_document_frequency(d)


def _q_doc_pack_plan(spark, sf_dir):
    """Sequence-packing plan (operators/packing.py): each document's
    placement in per-shard fixed-capacity training windows — md5 shard
    routing + one running-sum window per shard, all-integer so the
    DuckDB oracle reproduces the layout bit-for-bit."""
    from ie_spark.operators.packing import pack_plan
    d = _t(spark, sf_dir, "documents")
    return pack_plan(d, capacity=2048, n_shards=8)


def _q_doc_pack_emit(spark, sf_dir):
    """Writer-side packing segments (operators/packing.py pack_emit):
    the plan exploded into per-(sequence, document) token spans —
    explode(sequence(first, last)) on the Spark side is
    unnest(generate_series(first, last)) in the oracle, all-integer."""
    from ie_spark.operators.packing import pack_emit
    d = _t(spark, sf_dir, "documents")
    return pack_emit(d, capacity=2048, n_shards=8)


def _q_doc_domain_mix(spark, sf_dir):
    """Temperature (α=0.5) mixture weights per source stratum
    (operators/sampling.py domain_mix_weights): floor(sqrt(n)·10^6)
    then BIGINT ppm normalization — IEEE sqrt is correctly rounded, so
    both engines agree exactly."""
    from ie_spark.operators.sampling import domain_mix_weights
    d = _t(spark, sf_dir, "documents")
    return domain_mix_weights(d, strata_col="source")


def _q_doc_line_dedup(spark, sf_dir):
    """Corpus-level repeated-line (boilerplate) removal over documents
    ∪ planted multi-line rows from ie_spark.data.line_samples: the
    corpus is single-line word bags, so without planted headers/footers
    only whole-document exact duplicates would exercise the hot-line
    branch.  Both engines drop any trimmed line occurring in ≥2
    distinct documents and rebuild survivors in original order."""
    from ie_spark.data.line_samples import LINE_SAMPLES
    from ie_spark.operators.dedup import line_dedup
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = local_frame(spark, LINE_SAMPLES, "doc_id string, text string")
    return line_dedup(d.unionByName(planted))


def _q_doc_quality(spark, sf_dir):
    from ie_spark.operators.textstats import (
        mean_word_len, punct_ratio, stopword_ratio, token_count)
    d = adaptive_fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id",
        token_count().alias("n_tokens"),
        F.round(stopword_ratio(), 6).alias("stopword_ratio"),
        F.round(punct_ratio(), 6).alias("punct_ratio"),
        F.round(mean_word_len(), 6).alias("mean_word_len"),
    )


def _q_doc_winnow(spark, sf_dir):
    from ie_spark.operators.textstats import winnow_fingerprint
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", winnow_fingerprint().alias("winnow"))


def _q_doc_ngram_dups(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs with the hot-shingle join-key cap.

    max_df scales with corpus size (10% of docs, floor 100) so the cap is a
    quadratic-block guard, not a fixed constant that a bigger scale factor
    would silently trip: the documents corpus' hottest shingle sits at
    ~0.5% document frequency at every sf, so capped and uncapped results
    are identical here and the exact-Jaccard oracle stays valid.  When the
    cap DOES trip (true boilerplate), scores for hot-only pairs reflect
    sub-hot shingles — the documented recall trade of frequency-capped
    blocking (see operators.dedup.ngram_jaccard_pairs)."""
    from ie_spark.operators.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    max_df = max(100, docs.count() // 10)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_df=max_df,
                               hashed=_shingles(spark, sf_dir))


def _q_doc_minhash_dedup(spark, sf_dir):
    """MinHash+LSH dedup survivors, driver-oracled (round-2 verdict #3)
    against an independent brute-force exact-Jaccard + recursive-CTE
    union-find in DuckDB: at 64 hashes / 16 bands the banding miss
    probability at J>=0.8 is negligible, so the LSH survivors must equal
    the exact survivors — a mismatch is a real recall bug."""
    from ie_spark.operators.dedup import minhash_lsh_dedup
    return minhash_lsh_dedup(_t(spark, sf_dir, "documents"), threshold=0.8,
                             base=_shingles(spark, sf_dir))


def _q_doc_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs with the md5 word hash (round-2 verdict #6):
    same 4x16-bit pigeonhole blocking + hamming verify as the xxhash64
    default, but the per-word hash (first 60 bits of md5) is computable in
    DuckDB too, so the whole pipeline is driver-oracled in pure SQL.  The
    xxhash64 default stays the benched scale path; both variants share
    every line of blocking/verify code."""
    from ie_spark.operators.dedup import simhash_near_dups
    return simhash_near_dups(_t(spark, sf_dir, "documents"),
                             max_hamming=3, hash_fn="md5")


# ---------------------------------------------------------------------------
# Embeddings: similarity search (DuckDB oracles via explicit dot products)
# ---------------------------------------------------------------------------

_QUERY_VEC_ID = 0  # query = embedding of vec_id 0 (deterministic)


def _query_vec(spark, sf_dir):
    row = (_t(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") == _QUERY_VEC_ID)
           .select("embedding").head())
    return [float(x) for x in row[0]]


def _q_emb_cosine_topk(spark, sf_dir):
    from ie_spark.operators.similarity import cosine_topk
    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") != _QUERY_VEC_ID)
    out = cosine_topk(emb, q, k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


def _q_emb_near_dups(spark, sf_dir):
    """Hyperplane-LSH-BLOCKED near-dup pairs — the scale path itself is the
    driver-oracled query (round-2 verdict #2): the DuckDB oracle reproduces
    the 8-bit sign sketch with literal plane arrays + list_dot_product and
    applies the same sketch-equality blocking.  The corpus has no natural
    near-dups (max pairwise cosine ≈ 0.51), so 20 deterministic planted
    copies (vec_id+10000, 2× scaling — same sketch by sign-invariance)
    make the result non-trivial; exact mode stays the verifier in
    tests/test_operators.py."""
    from ie_spark.operators.dedup import embedding_near_dups
    emb = _t(spark, sf_dir, "embeddings")
    planted = (emb.filter(F.col("vec_id") < 20)
               .select((F.col("vec_id") + 10000).alias("vec_id"),
                       F.expr("transform(embedding, "
                              "x -> cast(x * 2.0d as float))")
                       .alias("embedding")))
    aug = emb.select("vec_id", "embedding").unionByName(planted)
    out = embedding_near_dups(aug, threshold=0.99, block_bits=8)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _q_emb_knn_join(spark, sf_dir):
    from ie_spark.operators.similarity import knn_join
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    out = knn_join(corpus, queries, k=3)
    return out.select("q_id", "vec_id",
                      F.round("score", 4).alias("score"), "rank")


def _q_emb_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k — now fully driver-oracled: the
    bucketing is deterministic given the frozen hyperplanes, so the DuckDB
    oracle reproduces the sketch + hamming≤2 multiprobe + exact top-k over
    the candidate set (recall vs brute force additionally asserted in
    test_operators.py)."""
    from ie_spark.operators.similarity import ann_topk
    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") != _QUERY_VEC_ID)
    out = ann_topk(emb, q, k=10, bits=8, probe_hamming=2)
    # 4-dp like the other embedding oracles: double accumulation order
    # differs by 1 ulp between engines at the 6th decimal
    return out.select("vec_id", F.round("score", 4).alias("score"))


def _q_kg_constituents(spark, sf_dir):
    """Constituent inventory (NP/VP/S_INF/ADJP/ADVP/PP + adjunct flag),
    driver-oracled against the TEMPLATE-DEFINED golden phrase lists
    (surface-level projection; token offsets stay in the operator API)."""
    from ie_spark.pipeline.extract import extract_constituents_df
    return extract_constituents_df(_kg_transcripts(spark)).select(
        "conv_id", "turn_idx", "sent_idx", "vntype", "surface", "adjunct")


def _q_kg_vn_constituents(spark, sf_dir):
    """Reference C11 VerbNet-sentence view (``get_verbnet_sentence()``,
    semantics/ccg.py), driver-oracled: the oracle applies the view's own
    documented transforms (drop attributive adjuncts contained in a
    larger phrase, PP → preposition token) to the TEMPLATE-DEFINED golden
    constituent lists — same independent fixture path as
    kg_constituents; the OOD gate for the view is the ported
    gold_constituent_test suite (tests/test_reference_goldens.py)."""
    from ie_spark.pipeline.extract import extract_vn_view_df
    return extract_vn_view_df(_kg_transcripts(spark)).select(
        "conv_id", "turn_idx", "sent_idx", "vntype", "surface")


def _q_kg_orphans(spark, sf_dir):
    """Orphan marking (reference _ORPHANED, semantics/ccg.py:1186-1197):
    mentions whose referent is not attached to any event in its sentence —
    a distributed anti-join of mentions against triple endpoint refs."""
    from ie_spark.pipeline.extract import extract_mentions, extract_triples
    tr = _kg_transcripts(spark)
    m = extract_mentions(tr).filter(
        F.col("kind").isin("entity", "propername", "pronoun"))
    t = extract_triples(tr)
    used = (t.select("conv_id", "turn_idx", "sent_idx",
                     F.col("subj_ref").alias("ref"))
            .union(t.select("conv_id", "turn_idx", "sent_idx",
                            F.col("obj_ref").alias("ref")))
            .filter(F.col("ref") != "").distinct())
    # driver projection drops `ref` (not template-defined); verified
    # equivalent to the stem-level anti-join the golden oracle expresses
    return (m.join(used, ["conv_id", "turn_idx", "sent_idx", "ref"],
                   "left_anti")
            .select("conv_id", "turn_idx", "sent_idx", "stem", "kind")
            .withColumn("orphaned", F.lit(True)))


def _q_kg_edge_classes(spark, sf_dir):
    """kg_edges + VerbNet verb classing (reference C10, kb/verbnet.py:
    12-40 name_index): the frozen public member→class table joins
    broadcast onto the edge stream; unknown predicates stay NULL.
    Oracled: the same frozen table rendered as VALUES in DuckDB."""
    from ie_spark.kb.verbnet import verb_class_df, with_verb_classes
    edges = _q_kg_edges(spark, sf_dir)
    return with_verb_classes(edges, verb_class_df(spark)).select(
        "src", "pred", "dst", "conv_id", "turn_idx", "verb_class")


def _q_kg_degree(spark, sf_dir):
    """Node-degree profile of the materialized graph — the first query a
    consumer of the node/edge tables runs (reference materializes for
    downstream reads, grpc/infox.py; no analytics pass of its own).  Two
    hash aggregations over edge endpoints + a full-outer merge; O(|E|),
    one shuffle per side on node id.  Oracled: same aggregation written
    independently in DuckDB over the golden-derived edge list."""
    from ie_spark.pipeline.analytics import degree_profile
    return degree_profile(_q_kg_edges(spark, sf_dir))


def _q_kg_two_hop(spark, sf_dir):
    """Two-hop reachability (src → mid → dst) with distinct-intermediate
    counts — self-join of the distinct-pair edge list with an anti-join
    hub cap on the intermediate (unhinted: AQE broadcasts the tiny hub
    set; pipeline/analytics.py).  Oracled: the same self-join + cap
    written independently in DuckDB."""
    from ie_spark.pipeline.analytics import two_hop_paths
    return two_hop_paths(_q_kg_edges(spark, sf_dir), max_fanout=1000)


def _q_kg_triangles(spark, sf_dir):
    """Per-node triangle participation over the undirected KG — the
    standard clustering/community primitive, via degree-ordered
    compact-forward wedge enumeration (hub-safe at 10^12 edges;
    pipeline/analytics.py).  Oracled: the same orientation + wedge-close
    written independently in DuckDB over the golden-derived edge list."""
    from ie_spark.pipeline.analytics import triangle_counts
    return triangle_counts(_q_kg_edges(spark, sf_dir))


def _q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration multiplicity-weighted PageRank in exact BIGINT
    mass units (pipeline/analytics.py) — iterative graph algorithms are
    where engine divergence usually hides (float summation order), so
    the arithmetic is integer end-to-end and the DuckDB oracle (the same
    five iterations unrolled as CTEs) must match bit-for-bit."""
    from ie_spark.pipeline.analytics import pagerank_mass
    return pagerank_mass(_q_kg_edges(spark, sf_dir), iterations=5)


def _q_kg_components(spark, sf_dir):
    """Connected components of the undirected KG predicate graph via
    alternating large/small-star contraction (Kiveris et al. SoCC'14;
    O(log n) rounds, stress-proven exact on 1M-node diameter-99 chains —
    see BASELINE.md).  Oracled: a recursive transitive-closure CTE in
    DuckDB computing the same min-reachable-node label."""
    from ie_spark.pipeline.canonicalize import connected_components_star
    return connected_components_star(
        _q_kg_edges(spark, sf_dir).select("src", "dst"))


def _q_kg_link_pred(spark, sf_dir):
    """Common-neighbor link prediction over the undirected KG: the
    non-adjacent pairs sharing ≥2 neighbors, scored by count and
    integer-scaled Jaccard (pipeline/analytics.py — hub-capped wedge
    enumeration, all-BIGINT so the DuckDB oracle matches bit-for-bit).
    Oracled: the same wedge/anti-join/score written independently in
    DuckDB over the golden-derived edge list."""
    from ie_spark.pipeline.analytics import link_prediction
    return link_prediction(_q_kg_edges(spark, sf_dir), max_fanout=1000,
                           min_common=2)


def _q_kg_bfs(spark, sf_dir):
    """Bounded BFS hop distances from the minimum node id over the
    undirected KG (pipeline/analytics.py — per-hop frontier joins with
    lineage truncation; the oracle is a depth-capped recursive CTE).
    The k-hop-neighborhood query of a graph-serving consumer."""
    from ie_spark.pipeline.analytics import bfs_distances
    return bfs_distances(_q_kg_edges(spark, sf_dir), max_depth=4)


def _q_kg_lexicon(spark, sf_dir):
    """Lexicon extraction (reference extract_lexicon_from_pt,
    semantics/ccg.py:2051-2107): stem → usage stats across the corpus —
    a genuinely distributed group-by over extraction output.  Driver oracle:
    the same aggregation written in DuckDB SQL over the template-golden
    mentions (golden kinds; example_surface stays in the operator API —
    surfaces aren't template-defined)."""
    from ie_spark.pipeline.extract import extract_mentions
    m = extract_mentions(_kg_transcripts(spark))
    return (m.filter(F.col("kind").isin("entity", "propername", "pronoun"))
            .groupBy("stem", "kind")
            .agg(F.count("*").alias("n_uses"),
                 F.countDistinct("conv_id").alias("n_convs")))


def _q_kg_coref(spark, sf_dir):
    """Cross-sentence pronoun resolution (reference DRT accessible-referent
    binding, drt/drs.py): nearest propername in an earlier sentence, bounded
    lookback.  Oracle: same logic written independently in DuckDB SQL over
    the template-golden mentions."""
    from ie_spark.pipeline.extract import extract_mentions
    from ie_spark.pipeline.coref import resolve_pronouns
    out = resolve_pronouns(extract_mentions(_kg_transcripts(spark)))
    return out.distinct()


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing, oracled: the driver-checked projection replaces
    the raw ``feature array<float>`` with its sha256-of-bytes digest (the
    driver canonicalizes results with a pandas sort, where list-valued
    cells are unhashable); the oracle is the locally-computed expected rows
    as VALUES — verifying the distributed Arrow path end-to-end."""
    from ie_spark.operators.multimodal import (
        extract_media_features, make_synthetic_media)
    out = extract_media_features(make_synthetic_media(spark, n=48))
    return out.select("media_id", "kind", "n_bytes", "content_sha",
                      "feature_sha")


def _q_media_resize_plan(spark, sf_dir):
    """Aspect-preserving resize plan (multimodal.resize_plan): target
    dims + scale as pure expressions over the typed image metadata —
    the one multimodal step that is fully SQL-expressible, so the
    DuckDB oracle recomputes the same floor/never-upscale math from the
    same deterministic rows."""
    from ie_spark.operators.multimodal import (
        make_synthetic_media, resize_plan)
    return resize_plan(make_synthetic_media(spark, n=48), max_dim=256)


def _q_doc_split(spark, sf_dir):
    """Deterministic hash holdout (sampling.split_assign): stable
    Bernoulli split via md5-prefix threshold, pure expressions."""
    from ie_spark.operators.sampling import split_assign
    docs = _t(spark, sf_dir, "documents")
    return split_assign(docs, eval_rate=0.05).select("doc_id", "split")


def _q_doc_stratified_sample(spark, sf_dir):
    """Per-source deterministic mixing rates (sampling.stratified_sample):
    one CASE expression, no shuffle."""
    from ie_spark.operators.sampling import stratified_sample
    docs = _t(spark, sf_dir, "documents")
    rates = {"src1": 1.0, "src2": 0.5, "src3": 0.25}
    return (stratified_sample(docs, rates, default_rate=0.1)
            .select("doc_id", "source"))


def _q_doc_contamination(spark, sf_dir):
    """Eval-set 8-gram decontamination (sampling.contamination_flags):
    eval = doc_id % 7 == 0; broadcast eval shingles, count overlaps."""
    from pyspark.sql import functions as F
    from ie_spark.operators.sampling import contamination_flags
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    tr = docs.filter(F.col("doc_id") % 7 != 0)
    return contamination_flags(tr, ev, n=8, min_shared=1)


def _q_doc_repetition(spark, sf_dir):
    """Within-doc repetition metrics (textstats.repetition_stats):
    Gopher-style duplicate word/2-gram fractions, pure expressions."""
    from ie_spark.operators.textstats import repetition_stats
    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs)


_PII_FIXTURE = [
    (1000000001, "contact alice@example.com or bob.smith+x@mail.co.uk"),
    (1000000002, "server at 10.0.0.1 and 192.168.100.200 rebooted"),
    (1000000003, "call +1 (555) 123-4567 or 020 7946 0958 now"),
    (1000000004, "ip 127.0.0.1 mail x@y.io phone 5551234567 end"),
]


def _q_doc_pii_scrub(spark, sf_dir):
    """PII redaction (textstats.pii_scrub): chained lookaround-free
    regexp_replace + per-kind counts, re-executable on RE2 engines.
    The corpus carries no PII, so deterministic fixture rows are
    unioned in to oracle the positive path too."""
    from ie_spark.operators.textstats import pii_scrub
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .unionByName(local_frame(
                spark, _PII_FIXTURE, "doc_id long, text string")))
    return pii_scrub(docs)


def _q_doc_clean_train(spark, sf_dir):
    """The ENTIRE cleaning ladder (pipeline.docs.clean_documents) as one
    oracled query: exact dedup → minhash near-dup → quality/repetition
    filters → deterministic split → decontamination → PII scrub, train
    output.  The oracle recomputes every stage independently in SQL
    (exact-Jaccard closure for the near-dup stage, same equivalence the
    doc_minhash_dedup oracle relies on)."""
    from ie_spark.pipeline.docs import clean_documents
    docs = _t(spark, sf_dir, "documents")
    return clean_documents(docs)["train"]


# ---------------------------------------------------------------------------
# Contract exports
# ---------------------------------------------------------------------------


def _shipped(q: Callable[[SparkSession, str], DataFrame]):
    """``q`` with the package shipped to the session's executors first,
    so Python UDFs resolve ie_spark whatever the driver's cwd."""
    @functools.wraps(q)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return q(spark, sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(q) for name, q in {
        # KG pipeline (north rule; pytest P/R gate is the strong check)
        "kg_triples": _q_kg_triples,
        "kg_mentions": _q_kg_mentions,
        "kg_linked_mentions": _q_kg_linked,
        "kg_nodes": _q_kg_nodes,
        "kg_edges": _q_kg_edges,
        "kg_edge_classes": _q_kg_edge_classes,
        "kg_degree": _q_kg_degree,
        "kg_two_hop": _q_kg_two_hop,
        "kg_triangles": _q_kg_triangles,
        "kg_pagerank": _q_kg_pagerank,
        "kg_components": _q_kg_components,
        "kg_link_pred": _q_kg_link_pred,
        "kg_bfs": _q_kg_bfs,
        "kg_lexicon": _q_kg_lexicon,
        "kg_constituents": _q_kg_constituents,
        "kg_vn_constituents": _q_kg_vn_constituents,
        "kg_orphans": _q_kg_orphans,
        "kg_coref": _q_kg_coref,
        # relational coverage (oracled)
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_top_orders": _q3_top_orders,
        "q5_nation_revenue": _q5_nation_revenue,
        "q6_revenue_forecast": _q6_revenue_forecast,
        "top_customers_per_nation": _q_top_customers_per_nation,
        "order_priority_count": _q_order_priority_count,
        "parts_by_brand": _q_parts_by_brand,
        "supplier_balance": _q_supplier_balance,
        "revenue_rollup": _q_revenue_rollup,
        "customers_without_orders": _q_customers_without_orders,
        "events_hourly": _q_events_hourly,
        "events_sessionize": _q_events_sessionize,
        "events_session_window": _q_events_session_window,
        "events_user_rollup": _q_events_user_rollup,
        "events_quantiles": _q_events_quantiles,
        "events_type_pivot": _q_events_type_pivot,
        "events_unpivot": _q_events_unpivot,  # oracled: direct aggregation
        #   must equal the pivot -> stack round-trip
        "events_cube": _q_events_cube,
        "events_moving_window": _q_events_moving_window,
        "events_set_ops": _q_events_set_ops,
        "events_funnel": _q_events_funnel,
        "events_asof": _q_events_asof,   # oracled: DuckDB native ASOF JOIN
        "events_intervals": _q_events_intervals,  # oracled: range-predicate
        #   join over the same planted windows + session derivation
        "kg_conv_stats": _q_kg_conv_stats,
        "kg_conv_stats_expr": _q_kg_conv_stats_expr,  # the 100 TB shape
        # documents (oracled unless noted)
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_token_count": _q_doc_token_count,
        "doc_bpe_tokens": _q_doc_bpe_tokens,
        "doc_fingerprint": _q_doc_fingerprint,
        "doc_lang_id": _q_doc_lang_id,
        "doc_lang_id_multi": _q_doc_lang_id_multi,
        "doc_quality": _q_doc_quality,
        "doc_winnow": _q_doc_winnow,
        "doc_ngram_dups": _q_doc_ngram_dups,
        "doc_minhash_dedup": _q_doc_minhash_dedup,   # oracled: exact-Jaccard
        #   + recursive-CTE union-find survivors (hash-free)
        "doc_simhash_pairs": _q_doc_simhash_pairs,   # oracled: md5 word-hash
        #   variant reproduced bit-for-bit in SQL
        # embeddings
        "emb_cosine_topk": _q_emb_cosine_topk,
        "emb_near_dups": _q_emb_near_dups,
        "emb_knn_join": _q_emb_knn_join,
        "emb_ann_topk": _q_emb_ann_topk,             # oracled: deterministic
        #   sketch reproduced in SQL + recall-vs-brute-force pytest
        # multimodal plumbing (oracled: locally-computed expected digests)
        "media_features": _q_media_features,
        "media_resize_plan": _q_media_resize_plan,   # oracled: same math
        #   recomputed in SQL
        # deterministic sampling / decontamination (oracled: md5-prefix
        #   thresholds and 8-gram overlap recomputed in SQL)
        "doc_split": _q_doc_split,
        "doc_stratified_sample": _q_doc_stratified_sample,
        "doc_contamination": _q_doc_contamination,
        # quality-filter + redaction expressions (oracled 1:1 in SQL)
        "doc_repetition": _q_doc_repetition,
        "doc_pii_scrub": _q_doc_pii_scrub,
        # sequence packing + temperature mixing (oracled: md5 shard
        #   routing, running-sum windows, sqrt-ppm — all recomputed in SQL)
        "doc_pack_plan": _q_doc_pack_plan,
        "doc_pack_emit": _q_doc_pack_emit,
        "doc_domain_mix": _q_doc_domain_mix,
        # corpus-level boilerplate line removal (oracled: hot-line set
        #   and in-order rebuild recomputed in SQL)
        "doc_line_dedup": _q_doc_line_dedup,
        # HTML/markup extraction pass (oracled: same RE2 pattern chain)
        "doc_markup_strip": _q_doc_markup_strip,
        # corpus vocabulary profiling (oracled: DISTINCT doc-word unnest)
        "doc_vocab_df": _q_doc_vocab_df,
        # per-domain URL profile (oracled: same host pattern + planted rows)
        "doc_url_domains": _q_doc_url_domains,
        # the WHOLE cleaning ladder, end-to-end (oracled: every stage
        #   recomputed independently in SQL)
        "doc_clean_train": _q_doc_clean_train,
    }.items()}


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) or type(v).__name__ in ("float32", "float64"):
        # floats render exactly (repr round-trips); silent int() truncation
        # would produce a wrong-but-plausible oracle
        return repr(float(v))
    if isinstance(v, int) or type(v).__name__ in (
            "int8", "int16", "int32", "int64"):
        return str(int(v))
    raise TypeError(f"unsupported oracle literal type {type(v)!r}: {v!r}")


def _sql_values(df, cols) -> str:
    rows = ",\n".join(
        "(" + ",".join(_sql_lit(v) for v in row) + ")"
        for row in df[cols].itertuples(index=False))
    return f"(VALUES\n{rows}\n) AS t({', '.join(cols)})"


def _vn_view_golden(gc):
    """Template-golden constituents → the VerbNet-sentence view's
    expected rows, applying the view's documented transforms on the
    INDEPENDENT fixture side (never via the extractor): attributive
    ADJP/ADVP adjuncts whose surface sits word-bounded inside another
    phrase of the same sentence drop; PP rows keep only their
    preposition token.  (The view's quotative/age-appositive/participial
    re-classes never occur in the template grammar.)"""
    import pandas as pd
    rows = []
    for (_conv, _turn, _sent), grp in gc.groupby(
            ["conv_id", "turn_idx", "sent_idx"], sort=False):
        surfaces = list(grp[["vntype", "surface", "adjunct"]]
                        .itertuples(index=False))
        for vt, surf, adj in surfaces:
            if adj and vt in ("ADJP", "ADVP") and any(
                    o.surface != surf and f" {surf} " in f" {o.surface} "
                    for o in surfaces):
                continue
            out_surf = surf.split()[0] if vt == "PP" else surf
            rows.append((_conv, _turn, _sent, vt, out_surf))
    return pd.DataFrame(rows, columns=[
        "conv_id", "turn_idx", "sent_idx", "vntype", "surface"])


_KG_ORACLE_CACHE: dict[str, str] | None = None


def _kg_golden_oracles() -> dict[str, str]:
    """DuckDB oracles for the KG headline tables: the TEMPLATE-DERIVED
    golden fixtures (deterministic, seed 42 — produced by the corpus
    generator's template structure, never by the extractor) rendered as
    VALUES tables.  This is the same independent reference the pytest P/R
    gate uses (reference golden-DRS pattern, compose_test.py:115-117)."""
    global _KG_ORACLE_CACHE
    if _KG_ORACLE_CACHE is None:
        import pandas as pd
        from ie_spark.data.synthetic import generate_corpus
        # ONE generation pass feeds every golden frame — split call sites
        # could drift in kwargs and silently desynchronize the fixtures
        t_rows, g_rows, m_rows, c_rows = generate_corpus(
            n_convs=_KG_CONVS, seed=42)
        tr = pd.DataFrame(t_rows, columns=[
            "conv_id", "turn_idx", "role", "text", "tool", "ts"])
        gt = pd.DataFrame(g_rows, columns=[
            "conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj",
            "polarity", "modal", "role", "prep"])
        gm = pd.DataFrame(m_rows, columns=[
            "conv_id", "turn_idx", "sent_idx", "stem", "kind"])
        gc = pd.DataFrame(c_rows, columns=[
            "conv_id", "turn_idx", "sent_idx", "vntype", "surface",
            "adjunct"])
        ccols = list(gc.columns)
        vcols = ["conv_id", "turn_idx", "sent_idx", "vntype", "surface"]
        tcols = ["conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj",
                 "polarity", "modal", "role", "prep"]
        mcols = ["conv_id", "turn_idx", "sent_idx", "stem", "kind"]
        _KG_ORACLE_CACHE = {
            "kg_triples": f"SELECT * FROM {_sql_values(gt, tcols)}",
            "kg_mentions": f"SELECT * FROM {_sql_values(gm, mcols)}",
            "kg_linked_mentions": _kg_linked_oracle(gm),
            "kg_constituents": f"SELECT * FROM {_sql_values(gc, ccols)}",
            "kg_vn_constituents":
                f"SELECT * FROM {_sql_values(_vn_view_golden(gc), vcols)}",
            "kg_nodes": _kg_nodes_oracle(gm, gt, tcols),
            "kg_edges": _kg_edges_oracle(gm, gt, tcols),
            "kg_edge_classes": _kg_edge_classes_oracle(gm, gt, tcols),
            "kg_degree": _kg_degree_oracle(gm, gt, tcols),
            "kg_two_hop": _kg_two_hop_oracle(gm, gt, tcols),
            "kg_triangles": _kg_triangles_oracle(gm, gt, tcols),
            "kg_pagerank": _kg_pagerank_oracle(gm, gt, tcols),
            "kg_components": _kg_components_oracle(gm, gt, tcols),
            "kg_link_pred": _kg_link_pred_oracle(gm, gt, tcols),
            "kg_bfs": _kg_bfs_oracle(gm, gt, tcols),
            "kg_lexicon": f"""
                SELECT stem, kind, count(*) AS n_uses,
                       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
                FROM {_sql_values(gm, mcols)}
                GROUP BY stem, kind ORDER BY stem, kind
            """,
            # orphan marking: golden mentions not used as a triple endpoint
            # in their sentence (stem-level over goldens — verified
            # equivalent to the operator's ref-level anti-join)
            "kg_orphans": f"""
                WITH gm AS (SELECT * FROM {_sql_values(gm, mcols)}),
                gt AS (SELECT * FROM {_sql_values(gt, tcols)}),
                used AS (
                  SELECT conv_id, turn_idx, sent_idx, subj AS stem
                  FROM gt WHERE subj != ''
                  UNION
                  SELECT conv_id, turn_idx, sent_idx, obj AS stem
                  FROM gt WHERE obj != ''
                )
                SELECT m.conv_id, m.turn_idx, m.sent_idx, m.stem, m.kind,
                       TRUE AS orphaned
                FROM gm m ANTI JOIN used u
                  USING (conv_id, turn_idx, sent_idx, stem)
            """,
            "media_features": _media_oracle(),
            "media_resize_plan": _media_resize_oracle(),
            "doc_clean_train": _doc_clean_train_oracle(),
            "doc_repetition": """
                SELECT doc_id,
                       CASE WHEN len(w) > 0 THEN round(
                            1.0 - len(list_distinct(w)) * 1.0 / len(w), 6)
                            ELSE 0.0 END AS dup_word_frac,
                       CASE WHEN len(w) > 1 THEN round(
                            1.0 - len(list_distinct(g)) * 1.0
                            / (len(w) - 1), 6)
                            ELSE 0.0 END AS dup_2gram_frac
                FROM (
                  SELECT doc_id, w, list_transform(
                           generate_series(1, greatest(len(w) - 1, 0)),
                           i -> array_to_string(w[i:i+1], ' ')) AS g
                  FROM (SELECT doc_id,
                               CASE WHEN trim(text) = ''
                                    THEN CAST([] AS VARCHAR[])
                                    ELSE regexp_split_to_array(
                                         trim(lower(text)), '\\s+')
                               END AS w
                        FROM documents))
            """,
            "doc_pii_scrub": _pii_scrub_oracle(),
            "doc_split": """
                SELECT doc_id,
                       CASE WHEN substr(md5('split:' ||
                                 CAST(doc_id AS VARCHAR)), 1, 8)
                                 < '0ccccccc'
                            THEN 'eval' ELSE 'train' END AS split
                FROM documents
            """,
            "doc_stratified_sample": """
                SELECT doc_id, source FROM documents
                WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                      CASE source
                           WHEN 'src1' THEN 'g'
                           WHEN 'src2' THEN '80000000'
                           WHEN 'src3' THEN '40000000'
                           ELSE '19999999' END
            """,
            "doc_contamination": """
                WITH sh AS (
                  SELECT doc_id, list_distinct(list_transform(
                           generate_series(1, greatest(len(w) - 7, 0)),
                           i -> array_to_string(w[i:i+7], ' '))) AS shingles
                  FROM (SELECT doc_id,
                               regexp_split_to_array(trim(lower(text)),
                                                     '\\s+') AS w
                        FROM documents)
                ),
                ev AS (SELECT DISTINCT unnest(shingles) AS g FROM sh
                       WHERE doc_id % 7 = 0),
                ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh
                       WHERE doc_id % 7 != 0)
                SELECT ex.doc_id, count(*) AS shared_ngrams
                FROM ex JOIN ev ON ex.g = ev.g
                GROUP BY ex.doc_id
                HAVING count(*) >= 1
            """,
            "kg_conv_stats": _kg_conv_stats_oracle(tr),
            "kg_conv_stats_expr": _kg_conv_stats_oracle(tr),
            "kg_coref": f"""
                WITH gm AS (SELECT * FROM {_sql_values(gm, mcols)}),
                pron AS (
                  SELECT DISTINCT conv_id, turn_idx, sent_idx,
                         stem AS pronoun,
                         CASE WHEN stem IN ('he','she','they','him',
                                            'her','them')
                              THEN 'propername' ELSE 'entity'
                         END AS want_kind
                  FROM gm WHERE kind = 'pronoun'
                    AND stem IN ('he','she','they','him','her','them',
                                 'it','this','these','those')
                ),
                names AS (
                  SELECT DISTINCT conv_id, kind, turn_idx AS ant_turn,
                         sent_idx AS ant_sent, stem AS antecedent
                  FROM gm WHERE kind IN ('propername', 'entity')
                ),
                j AS (
                  SELECT p.*, n.antecedent, n.ant_turn, n.ant_sent,
                         row_number() OVER (
                           PARTITION BY p.conv_id, p.turn_idx, p.sent_idx,
                                        p.pronoun
                           ORDER BY n.ant_turn DESC, n.ant_sent DESC,
                                    n.antecedent ASC) AS rn
                  FROM pron p LEFT JOIN names n
                    ON p.conv_id = n.conv_id
                   AND p.want_kind = n.kind
                   AND (n.ant_turn < p.turn_idx
                        OR (n.ant_turn = p.turn_idx
                            AND n.ant_sent < p.sent_idx))
                   AND p.turn_idx - n.ant_turn <= 10
                )
                SELECT conv_id, turn_idx, sent_idx, pronoun, antecedent,
                       ant_turn, ant_sent
                FROM j WHERE rn = 1
            """,
        }
    return _KG_ORACLE_CACHE


def _kg_conv_stats_oracle(tr) -> str:
    """Plain SQL aggregation oracle for the applyInPandas conv-stats UDF:
    mean consecutive gap telescopes to span/(n-1), so min/max/count over
    the golden transcript timestamps suffice — an independent computation
    path vs the pandas grouped-map."""
    t0 = tr["ts"].min()
    rows = tr[["conv_id", "turn_idx"]].copy()
    rows["ts_s"] = (tr["ts"] - t0).dt.total_seconds().astype("int64")
    return f"""
        SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
               round(CAST(max(ts_s) - min(ts_s) AS DOUBLE), 4) AS span_s,
               round(CASE WHEN count(*) > 1
                          THEN CAST(max(ts_s) - min(ts_s) AS DOUBLE)
                               / (count(*) - 1)
                          ELSE 0.0 END, 4) AS mean_gap_s
        FROM {_sql_values(rows, ["conv_id", "turn_idx", "ts_s"])}
        GROUP BY conv_id ORDER BY conv_id
    """


def _media_oracle() -> str:
    import pandas as pd
    from ie_spark.operators.multimodal import expected_media_features
    exp = pd.DataFrame(
        expected_media_features(48),
        columns=["media_id", "kind", "n_bytes", "content_sha", "feature_sha"])
    cols = list(exp.columns)
    return f"SELECT * FROM {_sql_values(exp, cols)}"


def _media_resize_oracle() -> str:
    """Recomputes the resize-plan math IN SQL from the same deterministic
    metadata rows — an independent execution of the floor/never-upscale
    arithmetic, not a baked expected table."""
    import pandas as pd
    from ie_spark.operators.multimodal import synthetic_media_rows
    rows = [(mid, w, h) for (mid, kind, _p, _m, w, h, _d)
            in synthetic_media_rows(48) if kind == "image"]
    src = pd.DataFrame(rows, columns=["media_id", "width", "height"])
    return f"""
        SELECT media_id, width, height,
               greatest(CAST(floor(width * scale) AS INT), 1) AS new_width,
               greatest(CAST(floor(height * scale) AS INT), 1) AS new_height,
               round(scale, 6) AS scale
        FROM (
          SELECT *, CASE WHEN greatest(width, height) > 256
                         THEN 256.0 / greatest(width, height)
                         ELSE 1.0 END AS scale
          FROM {_sql_values(src, ["media_id", "width", "height"])})
    """


def _pii_scrub_oracle() -> str:
    """Mirrors textstats.pii_scrub in DuckDB: same lookaround-free
    patterns (\\b is an ASCII word boundary in RE2 too), same chained
    replace order, fixture rows rendered from the SAME Python list the
    Spark query unions in (no second copy to drift — review)."""
    import pandas as pd
    from ie_spark.operators.textstats import PII_PATTERNS
    fx = pd.DataFrame(_PII_FIXTURE, columns=["doc_id", "text"])
    email = PII_PATTERNS["email"].replace("'", "''")
    phone = PII_PATTERNS["phone"].replace("'", "''")
    ipv4 = PII_PATTERNS["ipv4"].replace("'", "''")
    return f"""
        WITH s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '{email}')) AS n_emails,
                 regexp_replace(text, '{email}', '<EMAIL>', 'g') AS t1
          FROM (SELECT doc_id, text FROM documents
                UNION ALL
                SELECT * FROM {_sql_values(fx, ["doc_id", "text"])})),
        s2 AS (
          SELECT doc_id, n_emails,
                 len(regexp_extract_all(t1, '{ipv4}')) AS n_ipv4,
                 regexp_replace(t1, '{ipv4}', '<IP>', 'g') AS t2
          FROM s1)
        SELECT doc_id,
               regexp_replace(t2, '{phone}', '<PHONE>', 'g') AS scrubbed,
               n_emails, n_ipv4,
               len(regexp_extract_all(t2, '{phone}')) AS n_phones
        FROM s2
    """


def _doc_clean_train_oracle() -> str:
    """SQL recomputation of the whole cleaning ladder (defaults:
    min_quality 0.15, max_dup_2gram 0.9, Jaccard ≥ 0.8, eval 5% with
    the 'split' salt, 8-gram decontamination, email→ipv4→phone scrub)."""
    from ie_spark.operators.textstats import PII_PATTERNS
    email = PII_PATTERNS["email"].replace("'", "''")
    phone = PII_PATTERNS["phone"].replace("'", "''")
    ipv4 = PII_PATTERNS["ipv4"].replace("'", "''")
    w = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    wr = "regexp_split_to_array(trim(text), '\\s+')"
    sw = _SW_RATIO
    return f"""
        WITH d1 AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) rn
            FROM documents) WHERE rn = 1
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, greatest(len({w}) - 2, 0)),
                   i -> array_to_string(({w})[i:i+2], ' '))) AS shingles
          FROM d1
        ), ex AS (
          SELECT doc_id, unnest(shingles) AS g FROM sh
        ), pairs AS (
          SELECT a.doc_id ia, b.doc_id ib, count(*) shared
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), sizes AS (SELECT doc_id, len(shingles) n FROM sh
        ), dups AS (
          SELECT ia, ib FROM pairs
          JOIN sizes sa ON sa.doc_id = ia
          JOIN sizes sb ON sb.doc_id = ib
          WHERE shared * 1.0 / greatest(sa.n + sb.n - shared, 1) >= 0.8
        ), sym AS (
          SELECT ia a, ib b FROM dups UNION ALL SELECT ib, ia FROM dups
        ), d2 AS (
          SELECT doc_id, text FROM d1
          WHERE doc_id NOT IN (
            WITH RECURSIVE reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
            SELECT a FROM reach WHERE b < a)
        ), q AS (
          SELECT doc_id, text,
            round(0.3 * least((CASE WHEN length(trim(text)) = 0 THEN 0
                                    ELSE len({wr}) END) / 50.0, 1.0)
                + 0.3 * least({sw} * 4.0, 1.0)
                + 0.2 * (CASE WHEN (list_sum(list_transform({wr},
                                      x -> length(x))) * 1.0
                                    / greatest(len({wr}), 1))
                                   BETWEEN 3 AND 10
                              THEN 1.0 ELSE 0.5 END)
                + 0.2 * (1.0 - least((length(text)
                          - length(regexp_replace(text, '[^\\w\\s]',
                                                  '', 'g')))
                         * 3.0 / greatest(length(text), 1), 1.0)),
              6) AS qual,
            CASE WHEN len({w}) > 1 THEN round(
                 1.0 - len(list_distinct(list_transform(
                     generate_series(1, greatest(len({w}) - 1, 0)),
                     i -> array_to_string(({w})[i:i+1], ' '))))
                 * 1.0 / (len({w}) - 1), 6)
                 ELSE 0.0 END AS rep
          FROM d2
        ), split AS (
          SELECT doc_id, text,
                 CASE WHEN substr(md5('split:' ||
                           CAST(doc_id AS VARCHAR)), 1, 8) < '0ccccccc'
                      THEN 'eval' ELSE 'train' END sp
          FROM q WHERE qual >= 0.15 AND rep <= 0.9
        ), esh AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len({w}) - 7, 0)),
                   i -> array_to_string(({w})[i:i+7], ' ')))) AS g
          FROM split WHERE sp = 'eval'
        ), dirty AS (
          SELECT DISTINCT t.doc_id FROM (
            SELECT doc_id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len({w}) - 7, 0)),
                     i -> array_to_string(({w})[i:i+7], ' ')))) AS g
            FROM split WHERE sp = 'train') t
          JOIN esh ON t.g = esh.g
        ), clean AS (
          SELECT doc_id, text FROM split
          WHERE sp = 'train'
            AND doc_id NOT IN (SELECT doc_id FROM dirty)
        ), s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '{email}')) n_emails,
                 regexp_replace(text, '{email}', '<EMAIL>', 'g') t1
          FROM clean
        ), s2 AS (
          SELECT doc_id, n_emails,
                 len(regexp_extract_all(t1, '{ipv4}')) n_ipv4,
                 regexp_replace(t1, '{ipv4}', '<IP>', 'g') t2
          FROM s1)
        SELECT doc_id,
               regexp_replace(t2, '{phone}', '<PHONE>', 'g') AS text,
               n_emails, n_ipv4,
               len(regexp_extract_all(t2, '{phone}')) AS n_phones
        FROM s2 ORDER BY doc_id
    """


def _kg_linking_ctes(gm) -> str:
    """Shared CTE prefix: DuckDB re-implementation of the blocked LCP
    entity linker (ie_spark.pipeline.linking) over the template-golden
    mentions — same candidate KB rows, blocking key, prefix-ratio score,
    top-1 tie-break and min-score gate, written in SQL (an independent
    execution path).  Ends with the ``linked(stem, kind, entity_id, score)``
    CTE."""
    import pandas as pd
    from ie_spark.pipeline.linking import build_candidate_rows
    cand = pd.DataFrame(
        [(eid, alias)
         for (eid, _name, aliases, _cat, _pid) in build_candidate_rows()
         for alias in aliases],
        columns=["entity_id", "alias"])
    mcols = ["conv_id", "turn_idx", "sent_idx", "stem", "kind"]
    return f"""
        gm AS (SELECT * FROM {_sql_values(gm, mcols)}),
        mentions AS (
          SELECT DISTINCT stem, kind,
                 lower(replace(stem, '-', ' ')) AS stem_norm,
                 substring(lower(str_split(replace(stem, '-', ' '), ' ')[1]),
                           1, 4) AS block_key
          FROM gm WHERE kind IN ('entity', 'propername')
        ),
        cand AS (
          SELECT entity_id,
                 lower(replace(alias, '-', ' ')) AS alias_norm,
                 substring(lower(str_split(replace(alias, '-', ' '), ' ')[1]),
                           1, 4) AS block_key
          FROM {_sql_values(cand, ["entity_id", "alias"])}
        ),
        scored AS (
          SELECT m.stem, m.kind, c.entity_id,
                 CASE WHEN c.alias_norm IS NULL THEN NULL
                      WHEN m.stem_norm = c.alias_norm THEN 1.0
                      ELSE len(list_filter(
                             generate_series(1, least(length(m.stem_norm),
                                                      length(c.alias_norm))),
                             i -> substring(m.stem_norm, 1, i)
                                  = substring(c.alias_norm, 1, i))) * 1.0
                           / greatest(length(m.stem_norm),
                                      length(c.alias_norm))
                 END AS score
          FROM mentions m LEFT JOIN cand c USING (block_key)
        ),
        top AS (
          SELECT stem, kind, entity_id, score,
                 row_number() OVER (PARTITION BY stem, kind
                                    ORDER BY score DESC NULLS LAST,
                                             entity_id ASC) AS rn
          FROM scored
        ),
        linked AS (
          SELECT stem, kind,
                 CASE WHEN score >= 0.5 THEN entity_id END AS entity_id,
                 CASE WHEN score >= 0.5 THEN score END AS score
          FROM top WHERE rn = 1
        )"""


def _kg_linked_oracle(gm) -> str:
    return f"""
        WITH {_kg_linking_ctes(gm)}
        SELECT stem, kind, entity_id, round(score, 6) AS score FROM linked
    """


def _kg_graph_ctes(gm, gt, tcols) -> str:
    """CTE prefix extending the linking CTEs with the canonicalization
    graph: identity edges (mention→entity links + _AKA aliases), connected
    components via a recursive transitive-closure CTE (component = min
    reachable node key — same contract as pipeline.canonicalize), and the
    stem→node_id map.  An independent SQL implementation of the WHOLE
    pipeline (extract → link → canonicalize → materialize)."""
    return f"""
        {_kg_linking_ctes(gm)},
        gt AS (SELECT * FROM {_sql_values(gt, tcols)}),
        aka AS (SELECT DISTINCT subj, obj FROM gt WHERE pred = '_AKA'),
        -- only corpus-unambiguous aliases are identity edges (an alias
        -- stem naming >1 referent percolates components — mirror of
        -- pipeline.canonicalize.build_identity_edges)
        amb AS (SELECT obj FROM aka
                GROUP BY obj HAVING count(DISTINCT subj) > 1),
        edges AS (
          SELECT 'M:' || stem AS src, 'E:' || entity_id AS dst
          FROM linked WHERE entity_id IS NOT NULL
          UNION
          SELECT 'M:' || subj, 'M:' || obj FROM aka
          WHERE obj NOT IN (SELECT obj FROM amb)
        ),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        sym AS (SELECT src, dst FROM edges
                UNION SELECT dst AS src, src AS dst FROM edges),
        reach AS (
          SELECT node, node AS r FROM nodes
          UNION
          SELECT sym.dst AS node, reach.r
          FROM sym JOIN reach ON sym.src = reach.node
        ),
        labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        mmap AS (
          SELECT substring(node, 3) AS stem, component AS node_id
          FROM labels WHERE node LIKE 'M:%'
        )"""


def _kg_nodes_oracle(gm, gt, tcols) -> str:
    import pandas as pd
    from ie_spark.pipeline.linking import build_candidate_rows
    kb = pd.DataFrame(
        [(eid, name, cat, pid)
         for (eid, name, _aliases, cat, pid) in build_candidate_rows()],
        columns=["entity_id", "entity_name", "category", "pageid"])
    return f"""
        WITH RECURSIVE {_kg_graph_ctes(gm, gt, tcols)},
        stems AS (
          SELECT DISTINCT 'M:' || stem AS node, stem, kind
          FROM gm WHERE kind IN ('entity', 'propername')
        ),
        kb AS (SELECT * FROM {_sql_values(
            kb, ["entity_id", "entity_name", "category", "pageid"])}),
        comp AS (
          SELECT l.component AS node_id, min(s.stem) AS canonical,
                 max(s.kind) AS kind,
                 CASE WHEN l.component LIKE 'E:%'
                      THEN substring(l.component, 3) END AS entity_id,
                 CASE WHEN l.component LIKE 'E:%'
                      THEN 'kb://entity/' || substring(l.component, 3)
                 END AS kb_url
          FROM labels l LEFT JOIN stems s ON l.node = s.node
          GROUP BY l.component
        )
        SELECT c.node_id, c.canonical, c.kind, c.entity_id, c.kb_url,
               kb.entity_name, kb.category, kb.pageid
        FROM comp c LEFT JOIN kb ON c.entity_id = kb.entity_id
    """


def _kg_edges_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_graph_ctes(gm, gt, tcols)}
        SELECT coalesce(ms.node_id, 'M:' || t.subj) AS src, t.pred,
               coalesce(mo.node_id, 'M:' || t.obj) AS dst,
               t.conv_id, t.turn_idx
        FROM gt t
        LEFT JOIN mmap ms ON ms.stem = t.subj
        LEFT JOIN mmap mo ON mo.stem = t.obj
        WHERE t.pred NOT IN ('_AKA', '_POSS')
    """


def _kg_edge_cte(gm, gt, tcols) -> str:
    """The kg_edges projection (endpoints only) as a reusable CTE prefix
    for the graph-analytics oracles."""
    return f"""
        {_kg_graph_ctes(gm, gt, tcols)},
        e AS (
          SELECT coalesce(ms.node_id, 'M:' || t.subj) AS src,
                 coalesce(mo.node_id, 'M:' || t.obj) AS dst
          FROM gt t
          LEFT JOIN mmap ms ON ms.stem = t.subj
          LEFT JOIN mmap mo ON mo.stem = t.obj
          WHERE t.pred NOT IN ('_AKA', '_POSS')
        )"""


def _kg_degree_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        outd AS (SELECT src AS node, count(*) AS out_degree,
                        count(DISTINCT dst) AS out_neighbors
                 FROM e GROUP BY src),
        ind AS (SELECT dst AS node, count(*) AS in_degree,
                       count(DISTINCT src) AS in_neighbors
                FROM e GROUP BY dst)
        SELECT coalesce(o.node, i.node) AS node,
               coalesce(o.out_degree, 0) AS out_degree,
               coalesce(o.out_neighbors, 0) AS out_neighbors,
               coalesce(i.in_degree, 0) AS in_degree,
               coalesce(i.in_neighbors, 0) AS in_neighbors,
               coalesce(o.out_degree, 0) + coalesce(i.in_degree, 0)
                   AS total_degree
        FROM outd o FULL OUTER JOIN ind i ON o.node = i.node
        ORDER BY total_degree DESC, node
    """


def _two_hop_sql_tail(max_fanout: int) -> str:
    """The two-hop computation downstream of an ``e(src, dst)`` CTE —
    shared between the driver oracle (golden-derived edges) and the
    cross-engine cap test (hand-planted edges that force the hub cap to
    bind, which the corpus never does)."""
    return f"""
        p AS (SELECT DISTINCT src, dst FROM e WHERE src != dst),
        hub AS (
          SELECT node FROM (
            SELECT dst AS node, count(DISTINCT src) AS d FROM p GROUP BY dst
            UNION ALL
            SELECT src AS node, count(DISTINCT dst) AS d FROM p GROUP BY src
          ) GROUP BY node HAVING max(d) > {max_fanout}
        ),
        a AS (SELECT src AS a_src, dst AS mid FROM p
              WHERE dst NOT IN (SELECT node FROM hub)),
        b AS (SELECT src AS mid, dst AS b_dst FROM p)
        SELECT a.a_src AS src, b.b_dst AS dst,
               count(DISTINCT a.mid) AS n_mid
        FROM a JOIN b ON a.mid = b.mid
        WHERE a.a_src != b.b_dst
        GROUP BY a.a_src, b.b_dst
        ORDER BY n_mid DESC, src, dst
    """


def _kg_two_hop_oracle(gm, gt, tcols, max_fanout: int = 1000) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_two_hop_sql_tail(max_fanout)}
    """


def _triangles_sql_tail() -> str:
    """Per-node triangle counts downstream of an ``e(src, dst)`` CTE —
    the SAME degree-ordered compact-forward orientation as
    pipeline.analytics.triangle_counts, written independently in SQL.
    Shared between the driver oracle and the cross-engine pytest on
    planted graphs."""
    return """
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM e WHERE src <> dst),
        deg AS (SELECT node, count(*) AS deg FROM (
                  SELECT u AS node FROM und
                  UNION ALL SELECT v AS node FROM und)
                GROUP BY node),
        -- (deg, id) total order; und has u < v by construction, so the
        -- id tie-break collapses into <= (mirrors analytics.py lo_is_u)
        o AS (SELECT CASE WHEN lo THEN u ELSE v END AS a,
                     CASE WHEN lo THEN v ELSE u END AS b,
                     CASE WHEN lo THEN dv ELSE du END AS db
              FROM (SELECT und.u, und.v, du.deg AS du, dv.deg AS dv,
                           du.deg <= dv.deg AS lo
                    FROM und
                    JOIN deg du ON du.node = und.u
                    JOIN deg dv ON dv.node = und.v)),
        wedge AS (SELECT x.a, x.b AS b, y.b AS c
                  FROM o x JOIN o y ON x.a = y.a
                  WHERE x.db < y.db OR (x.db = y.db AND x.b < y.b)),
        tri AS (SELECT w.a, w.b, w.c FROM wedge w
                JOIN und t ON t.u = least(w.b, w.c)
                          AND t.v = greatest(w.b, w.c))
        SELECT node, count(*) AS n_triangles FROM (
          SELECT a AS node FROM tri
          UNION ALL SELECT b AS node FROM tri
          UNION ALL SELECT c AS node FROM tri)
        GROUP BY node
        ORDER BY n_triangles DESC, node
    """


def _kg_triangles_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_triangles_sql_tail()}
    """


def _pagerank_sql_tail(iterations: int = 5, scale: int = 10 ** 9) -> str:
    """Weighted integer-mass PageRank downstream of an ``e(src, dst)``
    CTE (duplicate rows = multiplicity): the exact arithmetic of
    pipeline.analytics.pagerank_mass with the iteration loop unrolled as
    a CTE chain.  `//` is DuckDB integer division (matching Spark `div`);
    sums are cast back to BIGINT because DuckDB widens sum(BIGINT) to
    HUGEINT."""
    base = scale * 15 // 100
    ctes = [f"""
        p AS (SELECT src, dst, count(*) AS w FROM e
              WHERE src <> dst GROUP BY src, dst),
        -- DISTINCT over UNION ALL, not bare UNION: under WITH RECURSIVE
        -- DuckDB gives every UNION-shaped CTE recursive-union semantics
        -- and skips the global dedupe (verified: 6 rows from a 3+3 union)
        prn AS (SELECT DISTINCT node FROM (
                  SELECT src AS node FROM p
                  UNION ALL SELECT dst AS node FROM p)),
        ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS ow
               FROM p GROUP BY src),
        m0 AS (SELECT node, CAST({scale} AS BIGINT) AS mass FROM prn)"""]
    for i in range(iterations):
        ctes.append(f"""
        m{i + 1} AS (
          SELECT n.node,
                 CAST({base} AS BIGINT) +
                 (85 * coalesce(c.c, 0)) // 100 AS mass
          FROM prn n LEFT JOIN (
            SELECT p.dst AS node,
                   CAST(sum((m.mass * p.w) // ow.ow) AS BIGINT) AS c
            FROM p
            JOIN m{i} m ON m.node = p.src
            JOIN ow ON ow.node = p.src
            GROUP BY p.dst) c ON c.node = n.node)""")
    return ",".join(ctes) + f"""
        SELECT node, CAST(mass AS BIGINT) AS rank_mass FROM m{iterations}
        ORDER BY rank_mass DESC, node
    """


def _kg_pagerank_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_pagerank_sql_tail(iterations=5)}
    """


def _link_pred_sql_tail(max_fanout: int = 1000,
                        min_common: int = 2) -> str:
    """Common-neighbor link prediction downstream of an ``e(src, dst)``
    CTE — the SAME hub-capped wedge enumeration + adjacency anti-join +
    BIGINT Jaccard as pipeline.analytics.link_prediction, written
    independently in SQL.  Shared between the driver oracle and the
    cross-engine pytest on planted graphs where the hub cap binds."""
    return f"""
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM e WHERE src <> dst),
        deg AS (SELECT node, count(*) AS deg FROM (
                  SELECT u AS node FROM und
                  UNION ALL SELECT v AS node FROM und)
                GROUP BY node),
        lhub AS (SELECT node FROM deg WHERE deg > {max_fanout}),
        lsym AS (SELECT u AS m, x FROM (
                   SELECT u, v AS x FROM und
                   UNION ALL SELECT v AS u, u AS x FROM und)),
        lctr AS (SELECT m, x FROM lsym
                 WHERE m NOT IN (SELECT node FROM lhub)),
        lcand AS (
          SELECT a.x AS u, b.x AS v, count(*) AS common_neighbors
          FROM lctr a JOIN lctr b ON a.m = b.m AND a.x < b.x
          GROUP BY a.x, b.x
          HAVING count(*) >= {min_common}),
        lnew AS (SELECT c.u, c.v, c.common_neighbors
                 FROM lcand c ANTI JOIN und
                   ON c.u = und.u AND c.v = und.v)
        SELECT n.u, n.v, n.common_neighbors,
               (n.common_neighbors * 1000)
                 // (du.deg + dv.deg - n.common_neighbors) AS jaccard_milli
        FROM lnew n
        JOIN deg du ON du.node = n.u
        JOIN deg dv ON dv.node = n.v
        ORDER BY common_neighbors DESC, jaccard_milli DESC, u, v
    """


def _kg_link_pred_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_link_pred_sql_tail()}
    """


def _bfs_sql_tail(max_depth: int = 4) -> str:
    """Depth-capped BFS distances from the minimum node id downstream of
    an ``e(src, dst)`` CTE: a recursive CTE whose UNION dedupes visited
    (node, dist) states, min(dist) at the end — the same contract as
    pipeline.analytics.bfs_distances (which iterates frontiers instead;
    the closure here is O(|V|·depth) states, oracle-only)."""
    return f"""
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM e WHERE src <> dst),
        bsym AS (SELECT u AS src, v AS dst FROM und
                 UNION ALL SELECT v AS src, u AS dst FROM und),
        -- HAVING drops the NULL row an ungrouped min yields on an
        -- empty pair list (mirrors the operator's isNotNull filter)
        bseed AS (SELECT min(u) AS node FROM und
                  HAVING min(u) IS NOT NULL),
        breach AS (
          SELECT node, 0 AS dist FROM bseed
          UNION
          SELECT bsym.dst AS node, breach.dist + 1 AS dist
          FROM bsym JOIN breach ON bsym.src = breach.node
          WHERE breach.dist < {max_depth}
        )
        SELECT node, min(dist) AS dist FROM breach
        GROUP BY node ORDER BY dist, node
    """


def _kg_bfs_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_bfs_sql_tail(max_depth=4)}
    """


def _components_sql_tail() -> str:
    """Connected components downstream of an ``e(src, dst)`` CTE:
    recursive transitive closure over the symmetric edge list, label =
    min reachable node (the same contract as
    pipeline.canonicalize.connected_components_star).  Closure is
    O(Σ component²) rows — fine for an oracle, which is exactly why the
    Spark side uses star contraction instead."""
    return """
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM e WHERE src <> dst),
        -- DISTINCT over UNION ALL (see _pagerank_sql_tail: bare UNION
        -- CTEs lose their dedupe under WITH RECURSIVE in DuckDB);
        -- duplicates here would be harmless (creach/GROUP BY dedupe)
        -- but explicit is safer than accidental
        cnodes AS (SELECT DISTINCT node FROM (
                     SELECT u AS node FROM und
                     UNION ALL SELECT v AS node FROM und)),
        csym AS (SELECT DISTINCT src, dst FROM (
                   SELECT u AS src, v AS dst FROM und
                   UNION ALL SELECT v AS src, u AS dst FROM und)),
        creach AS (
          SELECT node, node AS r FROM cnodes
          UNION
          SELECT csym.dst AS node, creach.r
          FROM csym JOIN creach ON csym.src = creach.node
        )
        SELECT node, min(r) AS component FROM creach GROUP BY node
        ORDER BY component, node
    """


def _kg_components_oracle(gm, gt, tcols) -> str:
    return f"""
        WITH RECURSIVE {_kg_edge_cte(gm, gt, tcols)},
        {_components_sql_tail()}
    """


def _kg_edge_classes_oracle(gm, gt, tcols) -> str:
    """kg_edges + the SAME frozen public VerbNet member→class table
    rendered as VALUES (restricted to predicates occurring in the golden
    triples — a left join makes the restriction exact)."""
    import pandas as pd
    from ie_spark.kb.verbnet_data import verb_class_map
    vmap = verb_class_map()
    preds = sorted(set(gt["pred"]))
    rows = [(v, vmap[v][0]) for v in preds if v in vmap]
    if not rows:
        rows = [("__none__", "__none__")]
    vals = _sql_values(pd.DataFrame(rows, columns=["verb", "verb_class"]),
                       ["verb", "verb_class"])
    return f"""
        WITH RECURSIVE {_kg_graph_ctes(gm, gt, tcols)},
        vclass AS (SELECT * FROM {vals})
        SELECT coalesce(ms.node_id, 'M:' || t.subj) AS src, t.pred,
               coalesce(mo.node_id, 'M:' || t.obj) AS dst,
               t.conv_id, t.turn_idx, v.verb_class
        FROM gt t
        LEFT JOIN mmap ms ON ms.stem = t.subj
        LEFT JOIN mmap mo ON mo.stem = t.obj
        LEFT JOIN vclass v ON v.verb = t.pred
        WHERE t.pred NOT IN ('_AKA', '_POSS')
    """


_STOPWORD_LIST_SQL = ("['the','a','an','and','or','of','to','in','is','it',"
                      "'that','for','on','with','as','was','at','by','be','this']")

_SW_RATIO = (
    "(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
    f"w -> list_contains({_STOPWORD_LIST_SQL}, w))) * 1.0 / "
    "greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1))"
)


def _emb_blocked_oracle() -> str:
    """DuckDB reproduction of the hyperplane-LSH-blocked near-dup query:
    the 8 sign bits are literal plane arrays fed to list_dot_product; the
    join carries the same sketch-equality condition as the Spark plan.
    Double-precision accumulation on both engines keeps the sign bits and
    the planted cosines (exactly 1.0) bit-stable."""
    from ie_spark.operators.similarity import random_hyperplanes
    planes = random_hyperplanes(dim=64, bits=8, seed=42)
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding, "
        f"[{', '.join(repr(x) for x in p)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
        WITH aug AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000,
                 list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
          FROM embeddings WHERE vec_id < 20
        ), sk AS (
          SELECT vec_id, embedding, {bit_terms} AS sketch FROM aug
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(round(list_dot_product(a.embedding, b.embedding)
                     / (sqrt(list_dot_product(a.embedding, a.embedding))
                        * sqrt(list_dot_product(b.embedding, b.embedding))),
                     6), 4) AS cosine
        FROM sk a JOIN sk b
          ON a.sketch = b.sketch AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.embedding, b.embedding)
              / (sqrt(list_dot_product(a.embedding, a.embedding))
                 * sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.99
        ORDER BY id_a, id_b
    """


def _minhash_survivors_oracle() -> str:
    """Independent survivors oracle for the MinHash-LSH dedup (round-2
    verdict #3): brute-force EXACT Jaccard >= 0.8 over the same 3-gram
    word shingles (no hashing anywhere), transitive closure by recursive
    CTE, keep the minimum id per component.  At 64 hashes / 16 bands the
    LSH miss probability at J >= 0.8 is ~0.02% per pair, so survivors
    must match exactly; a mismatch is a real recall bug."""
    return """
        WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM documents)
        ), ex AS (
          SELECT doc_id, unnest(shingles) AS g FROM sh
        ), pairs AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), sizes AS (
          SELECT doc_id, len(shingles) AS n FROM sh
        ), dups AS (
          SELECT ia, ib FROM pairs
          JOIN sizes sa ON sa.doc_id = ia
          JOIN sizes sb ON sb.doc_id = ib
          WHERE shared * 1.0 / greatest(sa.n + sb.n - shared, 1) >= 0.8
        ), sym AS (
          SELECT ia AS a, ib AS b FROM dups
          UNION ALL SELECT ib, ia FROM dups
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
          WITH RECURSIVE reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
          )
          SELECT a FROM reach WHERE b < a)
        ORDER BY doc_id
    """


def _simhash_pairs_oracle() -> str:
    """Full-SQL reproduction of the md5-based SimHash near-dup pairs: the
    64-bit-per-word hash is the first 15 hex digits of md5 (computable in
    BOTH engines — xxhash64 exists only in Spark, round-2 verdict #6),
    votes/sign bits via a range(0,63) cross join, the same 4x16-bit
    pigeonhole chunk blocking, bit_count(xor) hamming verify."""
    return """
        WITH wh AS (
          SELECT doc_id,
                 list_transform(
                   list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+')),
                   w -> CAST(CAST(concat('0x', substr(md5(w), 1, 15))
                             AS UBIGINT) AS BIGINT)) AS hs
          FROM documents
        ), votes AS (
          SELECT doc_id, i,
                 list_sum(list_transform(
                   hs, h -> ((h >> i) & 1) * 2 - 1)) AS vote
          FROM wh, range(0, 63) t(i)
        ), sim AS (
          SELECT doc_id,
                 sum(CASE WHEN vote > 0 THEN (1::BIGINT << i)
                     ELSE 0 END)::BIGINT AS simhash
          FROM votes GROUP BY doc_id
        ), chunks AS (
          SELECT doc_id, simhash, c,
                 (simhash >> (c * 16)) & 65535 AS ck
          FROM sim, range(0, 4) t(c)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS h_a, b.simhash AS h_b
          FROM chunks a JOIN chunks b
            ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(h_a, h_b)) AS hamming
        FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
        ORDER BY id_a, id_b
    """


def _ann_topk_oracle() -> str:
    """DuckDB reproduction of the LSH-bucketed ANN top-k: same literal
    hyperplanes as the Spark sketch, query sketch computed in SQL from the
    stored query vector, hamming≤2 multiprobe filter, then exact cosine
    top-k over the surviving candidates."""
    from ie_spark.operators.similarity import random_hyperplanes
    planes = random_hyperplanes(dim=64, bits=8, seed=42)

    def sketch_terms(vec_expr: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec_expr}, "
            f"[{', '.join(repr(x) for x in p)}]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))

    return f"""
        WITH q AS (
          SELECT embedding AS qv, {sketch_terms('embedding')} AS qsk
          FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
        ), cand AS (
          SELECT e.vec_id, e.embedding, q.qv
          FROM embeddings e, q
          WHERE e.vec_id != {_QUERY_VEC_ID}
            AND bit_count(xor(CAST({sketch_terms('e.embedding')} AS BIGINT),
                              CAST(q.qsk AS BIGINT))) <= 2
        )
        SELECT vec_id,
               round(round(list_dot_product(embedding, qv)
                     / (sqrt(list_dot_product(embedding, embedding))
                        * sqrt(list_dot_product(qv, qv))), 6), 4) AS score
        FROM cand
        ORDER BY list_dot_product(embedding, qv)
                 / (sqrt(list_dot_product(embedding, embedding))
                    * sqrt(list_dot_product(qv, qv))) DESC,
                 vec_id ASC
        LIMIT 10
    """


def _url_domains_oracle() -> str:
    """DuckDB reproduction of url_domain_stats over documents ∪ planted
    URL rows — host pattern, trailing-punctuation strip, and www fold
    render from the SAME Python constants the Spark operator uses.
    Both anchored normalization regexes replace at most once, so the
    engines' global-vs-first replace defaults cannot diverge."""
    import pandas as pd
    from ie_spark.data.url_samples import URL_SAMPLES
    from ie_spark.operators.textstats import (URL_HOST_PATTERN,
                                              _HOST_TRAIL_PATTERN)
    planted = pd.DataFrame(URL_SAMPLES, columns=["doc_id", "text"])

    def lit(p):
        return "'" + p.replace("'", "''") + "'"

    return f"""
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM {_sql_values(planted, ["doc_id", "text"])}
        ), u AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(text, {lit(URL_HOST_PATTERN)}, 1))
                     AS host
          FROM src
        ), d AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(lower(host), {lit(_HOST_TRAIL_PATTERN)}, ''),
                   '^www\\.', '') AS domain
          FROM u
        )
        SELECT domain, count(*) AS n_urls,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM d WHERE domain <> ''
        GROUP BY domain
        ORDER BY n_urls DESC, domain
    """


def _markup_strip_oracle() -> str:
    """DuckDB reproduction of markup_strip — patterns, entity order,
    and planted rows render from the SAME Python structures the Spark
    operator uses.  DuckDB regexp_replace needs the explicit 'g' flag
    (Spark's is global by default); every pattern is RE2-compatible by
    construction."""
    import pandas as pd
    from ie_spark.data.markup_samples import MARKUP_SAMPLES
    from ie_spark.operators.textstats import (ENTITY_UNESCAPES,
                                              MARKUP_PATTERNS, WS_CLASS)
    planted = pd.DataFrame(MARKUP_SAMPLES, columns=["doc_id", "text"])

    def lit(p):
        return "'" + p.replace("'", "''") + "'"

    blocks = "text"
    for k in ("script", "style", "comment"):
        blocks = (f"regexp_replace({blocks}, "
                  f"{lit(MARKUP_PATTERNS[k])}, ' ', 'g')")
    tagless = (f"regexp_replace(blocks, "
               f"{lit(MARKUP_PATTERNS['tag'])}, ' ', 'g')")
    unescaped = (f"regexp_replace(tagless, "
                 f"{lit(MARKUP_PATTERNS['url'])}, '<URL>', 'g')")
    for ent, plain in ENTITY_UNESCAPES:
        unescaped = f"replace({unescaped}, {lit(ent)}, {lit(plain)})"
    return f"""
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM {_sql_values(planted, ["doc_id", "text"])}
        ), b AS (
          SELECT doc_id, {blocks} AS blocks FROM src
        ), t AS (
          SELECT doc_id, {tagless} AS tagless,
                 len(regexp_extract_all(blocks,
                     {lit(MARKUP_PATTERNS['tag'])})) AS n_tags
          FROM b
        ), u AS (
          SELECT doc_id, n_tags,
                 len(regexp_extract_all(tagless,
                     {lit(MARKUP_PATTERNS['url'])})) AS n_urls,
                 {unescaped} AS unescaped
          FROM t
        )
        SELECT doc_id,
               trim(regexp_replace(unescaped, {lit(WS_CLASS + "+")},
                                   ' ', 'g')) AS clean_text,
               CAST(n_tags AS INTEGER) AS n_tags,
               CAST(n_urls AS INTEGER) AS n_urls
        FROM u ORDER BY doc_id
    """


def _vocab_df_oracle() -> str:
    """Document-frequency oracle — the tokenizer split renders from the
    SAME explicit whitespace class the Spark operator uses (\\s differs
    between Java regex and RE2 on vertical tab)."""
    from ie_spark.operators.textstats import WS_CLASS
    return f"""
        SELECT word, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id,
                     unnest(string_split_regex(
                         trim(lower(text)), '{WS_CLASS}+')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word HAVING count(*) >= 2
        ORDER BY word
    """


def _line_dedup_oracle() -> str:
    """DuckDB reproduction of line_dedup over documents ∪ planted
    multi-line samples (rendered from the SAME Python list the Spark
    query unions in).  The hot set keys on the line STRING where Spark
    keys on xxhash64(line) — identical grouping absent a 64-bit hash
    collision; the final row values are what the driver compares."""
    import pandas as pd
    from ie_spark.data.line_samples import LINE_SAMPLES
    planted = pd.DataFrame(LINE_SAMPLES, columns=["doc_id", "text"])
    return f"""
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM {_sql_values(planted, ["doc_id", "text"])}
        ), rawlines AS (
          SELECT doc_id,
                 generate_subscripts(string_split(text, chr(10)), 1) AS pos,
                 trim(unnest(string_split(text, chr(10)))) AS line
          FROM src
        ), lines AS (
          SELECT doc_id, pos, line FROM rawlines WHERE line <> ''
        ), hot AS (
          SELECT line FROM lines GROUP BY line
          HAVING count(DISTINCT doc_id) >= 2
        ), flagged AS (
          SELECT l.doc_id, l.pos, l.line,
                 l.line IN (SELECT line FROM hot) AS is_hot
          FROM lines l
        ), reb AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean_text
          FROM flagged WHERE NOT is_hot GROUP BY doc_id
        ), cnt AS (
          SELECT doc_id, count(*) AS n_lines,
                 sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS n_removed
          FROM flagged GROUP BY doc_id
        )
        SELECT s.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               CAST(coalesce(c.n_lines, 0) AS BIGINT) AS n_lines,
               CAST(coalesce(c.n_removed, 0) AS BIGINT) AS n_removed
        FROM src s
        LEFT JOIN reb r ON s.doc_id = r.doc_id
        LEFT JOIN cnt c ON s.doc_id = c.doc_id
        ORDER BY s.doc_id
    """


def _lang_id_multi_oracle() -> str:
    """DuckDB reproduction of lang_id_multi over documents ∪ planted
    samples — marker lists and planted rows render from the SAME Python
    structures the Spark operator uses (never hand-copied).  Ratios are
    exact int/int divisions, so argmax and the alphabetical tie-break
    reproduce bit-for-bit."""
    import pandas as pd
    from ie_spark.data.lang_samples import LANG_SAMPLES
    from ie_spark.operators.textstats import LANG_MARKERS
    planted = pd.DataFrame([(s, t) for s, _, t in LANG_SAMPLES],
                           columns=["doc_id", "text"])
    langs = sorted(LANG_MARKERS)
    ratios = []
    for lang in langs:
        lst = ", ".join("'" + w + "'" for w in LANG_MARKERS[lang])
        ratios.append(
            f"len(list_filter(w, x -> list_contains([{lst}], x)))"
            f" * 1.0 / greatest(len(w), 1) AS r_{lang}")
    best = "greatest(" + ", ".join(f"r_{lang}" for lang in langs) + ")"
    arms = "\n".join(
        f"WHEN r_{lang} = {best} THEN '{lang}'" for lang in langs)
    return f"""
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM {_sql_values(planted, ["doc_id", "text"])}
        ), r AS (
          SELECT doc_id, trim(text) AS t, {", ".join(ratios)}
          FROM (SELECT doc_id, text,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM src)
        )
        SELECT doc_id,
               CASE WHEN length(t) = 0 THEN 'unk'
                    WHEN {best} < 0.12 THEN 'other'
                    {arms}
                    ELSE 'other' END AS lang_guess
        FROM r ORDER BY doc_id
    """


def _events_intervals_oracle() -> str:
    """Sessions (same gap derivation as the events_session_window
    oracle, closed [min_ts, max_ts + gap] interval) range-joined to the
    planted maintenance windows with a plain overlap predicate — DuckDB
    plans this natively (IEJoin), which is exactly why the Spark side
    needs the bucket decomposition instead."""
    from ie_spark.data.window_samples import MAINT_WINDOWS
    vals = ",\n".join(
        f"('{w}', TIMESTAMP '{s}', TIMESTAMP '{e}')"
        for w, s, e in MAINT_WINDOWS)
    return f"""
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           >= 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM g
        ),
        sess AS (
          SELECT user_id, min(ts) AS s_start,
                 max(ts) + INTERVAL 30 MINUTE AS s_end
          FROM s GROUP BY user_id, sid
        ),
        win AS (SELECT * FROM (VALUES
          {vals}
        ) AS t(win_id, w_start, w_end))
        SELECT win_id, count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users
        FROM sess JOIN win
          ON s_start <= w_end AND w_start <= s_end
        GROUP BY win_id ORDER BY win_id
    """


def _pack_plan_sql(capacity: int = 2048, n_shards: int = 8) -> str:
    """The pack_plan layout as a SQL subquery over ``documents`` —
    shared between the doc_pack_plan oracle and the doc_pack_emit
    oracle (which explodes it), so the two can never diverge."""
    return f"""
            SELECT doc_id, shard, n_tokens,
                   CAST(cum - n_tokens AS BIGINT) AS start_off,
                   CAST((cum - n_tokens) // {capacity} AS BIGINT) AS first_seq,
                   CAST((cum - 1) // {capacity} AS BIGINT) AS last_seq
            FROM (
              SELECT doc_id, shard, n_tokens,
                     CAST(sum(n_tokens) OVER (
                          PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
              FROM (
                SELECT doc_id,
                       CAST(CAST(('0x' || substr(
                              md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))
                            AS INTEGER) % {n_shards} AS INTEGER) AS shard,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text),
                                                           '\\s+'))
                       END AS n_tokens
                FROM documents)
              WHERE n_tokens > 0)"""


def _pack_emit_sql(capacity: int = 2048, n_shards: int = 8) -> str:
    """The writer-side explosion of _pack_plan_sql — the capacity is
    threaded through BOTH (one parameter, no drift between the plan
    subquery and the segment arithmetic; review finding)."""
    cap = capacity
    return f"""
            SELECT doc_id, shard, seq_id,
                   CAST(greatest(start_off, seq_id * {cap})
                        - seq_id * {cap} AS BIGINT) AS seq_off,
                   CAST(greatest(start_off, seq_id * {cap})
                        - start_off AS BIGINT) AS tok_from,
                   CAST(least(start_off + n_tokens, (seq_id + 1) * {cap})
                        - greatest(start_off, seq_id * {cap})
                        AS BIGINT) AS n_seg_tokens
            FROM (
              SELECT doc_id, shard, n_tokens, start_off,
                     unnest(generate_series(first_seq, last_seq)) AS seq_id
              FROM ({_pack_plan_sql(capacity=cap, n_shards=n_shards)}))
            ORDER BY shard, seq_id, doc_id
    """


def oracle_sql() -> dict[str, str]:
    out = _kg_golden_oracles()
    out.update(_relational_oracles())
    return out


def _relational_oracles() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                              * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                              * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                              * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "q6_revenue_forecast": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                             * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "top_customers_per_nation": """
            SELECT n_name, c_custkey, c_name,
                   round(c_acctbal, 2) AS acctbal, rank
            FROM (
              SELECT n_name, c_custkey, c_name, c_acctbal,
                     row_number() OVER (PARTITION BY n_name
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
              FROM customer JOIN nation ON c_nationkey = n_nationkey
            )
            WHERE rank <= 3
            ORDER BY n_name, rank
        """,
        "order_priority_count": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > TIMESTAMP '1998-06-01')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "parts_by_brand": """
            SELECT p_brand,
                   count(DISTINCT p_type) AS n_types,
                   -- HALF_UP average in exact HUGEINT space: DuckDB's avg(DECIMAL)
                   -- silently returns DOUBLE, so round() ties break on the
                   -- binary value while Spark rounds the exact decimal
                   CAST(CASE WHEN sum(CAST(CAST(CAST(p_retailprice AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT)) >= 0
             THEN (2*sum(CAST(CAST(CAST(p_retailprice AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT))*10000 + count(p_retailprice)*1000000)
                  // (2*count(p_retailprice)*1000000)
             ELSE -((2*(-(sum(CAST(CAST(CAST(p_retailprice AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT))))*10000 + count(p_retailprice)*1000000)
                    // (2*count(p_retailprice)*1000000)) END AS DOUBLE) / 10000 AS avg_price,
                   max(p_size) AS max_size
            FROM part
            GROUP BY p_brand
            HAVING count(DISTINCT p_type) >= 1
            ORDER BY p_brand
        """,
        "supplier_balance": """
            SELECT n_name,
                   CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal,
                   count(*) AS n_suppliers
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY n_name
        """,
        "revenue_rollup": """
            SELECT coalesce(r_name, 'ALL') AS r_name,
                   coalesce(n_name, 'ALL') AS n_name,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal,
                   count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY 1, 2
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   count(*) AS n,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            -- CAST: DuckDB sum(int) is HUGEINT and renders 56.0; Spark's
            -- bigint renders 56 — cast so the driver value-hash matches
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "events_session_window": """
            -- session_window boundary: [start, last+gap) — an event at
            -- exactly last+gap opens a new session, hence >= not >
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "doc_bpe_tokens": """
            -- piece count = whitespace tokens + zero-width split points
            -- (lower→Upper and letter→digit transitions); DuckDB's RE2 has
            -- no lookarounds, so count the transitions instead
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                             + len(regexp_extract_all(trim(text), '[a-z][A-Z]'))
                             + len(regexp_extract_all(trim(text), '[A-Za-z][0-9]'))
                   END AS n_bpe
            FROM documents ORDER BY doc_id
        """,
        "events_funnel": """
            WITH g AS (
              SELECT user_id, event_type, ts,
                     max(CASE WHEN event_type = 'click' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS lc
              FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                  AND lc IS NOT NULL
                                  AND epoch_us(ts) - epoch_us(lc)
                                      <= 1800000000
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_conversions,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_purchases
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "events_unpivot": """
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY user_id, event_type
            ORDER BY user_id, event_type
        """,
        "events_cube": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(day, 'ALL') AS day,
                   count(*) AS n,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS total_value
            FROM (SELECT event_type,
                         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                         value
                  FROM events)
            GROUP BY CUBE (event_type, day)
            ORDER BY event_type, day
        """,
        "events_moving_window": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_30m,
                   round(max(value) OVER w, 4) AS peak_30m
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
                               AND CURRENT ROW)
            ORDER BY event_id
        """,
        "events_intervals": _events_intervals_oracle(),
        "events_asof": """
            SELECT l.event_id, l.user_id, l.ts, l.event_type,
                   r.ts AS last_purchase_ts,
                   r.purchase_value AS last_purchase_value
            FROM events l ASOF LEFT JOIN (
              SELECT user_id, ts, max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts) r
            ON l.user_id = r.user_id AND l.ts > r.ts
            ORDER BY l.event_id
        """,
        "events_set_ops": """
            SELECT user_id, day FROM (
              SELECT DISTINCT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
              FROM events WHERE event_type = 'purchase'
              INTERSECT
              SELECT DISTINCT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
              FROM events WHERE event_type = 'click'
              EXCEPT
              SELECT DISTINCT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
              FROM events WHERE event_type = 'error'
            ) ORDER BY user_id, day
        """,
        "events_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_type_pivot": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "events_user_rollup": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchases,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
                   -- HALF_UP average in exact HUGEINT space (see parts_by_brand);
                   -- hit for real: user 863's avg is exactly 49.19125 at sf0.1
                   CAST(CASE WHEN sum(CAST(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT)) >= 0
             THEN (2*sum(CAST(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT))*10000 + count(value)*1000000)
                  // (2*count(value)*1000000)
             ELSE -((2*(-(sum(CAST(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6)) * 1000000 AS HUGEINT))))*10000 + count(value)*1000000)
                    // (2*count(value)*1000000)) END AS DOUBLE) / 10000 AS avg_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "doc_exact_dedup": """
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (PARTITION BY text
                                                ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1 ORDER BY doc_id
        """,
        "doc_token_count": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents ORDER BY doc_id
        """,
        "doc_pack_plan": f"""
            {_pack_plan_sql()}
            ORDER BY shard, doc_id
        """,
        "doc_pack_emit": _pack_emit_sql(),
        "doc_domain_mix": """
            SELECT stratum, n_docs, n_tokens,
                   CAST((w_scaled * 1000000)
                        // (sum(w_scaled) OVER ()) AS BIGINT) AS weight_ppm
            FROM (
              SELECT stratum, n_docs, n_tokens,
                     CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                          AS BIGINT) AS w_scaled
              FROM (
                SELECT source AS stratum, count(*) AS n_docs,
                       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text),
                                                               '\\s+'))
                                END) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source))
            ORDER BY stratum
        """,
        "doc_lang_id": f"""
            SELECT lang_guess, count(*) AS n FROM (
              SELECT CASE WHEN length(trim(text)) = 0 THEN 'unk'
                          WHEN {_SW_RATIO} >= 0.08 THEN 'en'
                          ELSE 'other' END AS lang_guess
              FROM documents
            ) GROUP BY lang_guess ORDER BY lang_guess
        """,
        "doc_lang_id_multi": _lang_id_multi_oracle(),
        "doc_line_dedup": _line_dedup_oracle(),
        "doc_markup_strip": _markup_strip_oracle(),
        "doc_vocab_df": _vocab_df_oracle(),
        "doc_url_domains": _url_domains_oracle(),
        "doc_quality": f"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tokens,
                   round({_SW_RATIO}, 6) AS stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
                   round(list_sum(list_transform(
                            regexp_split_to_array(trim(text), '\\s+'),
                            w -> length(w))) * 1.0
                         / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1),
                         6) AS mean_word_len
            FROM documents ORDER BY doc_id
        """,
        "doc_winnow": """
            SELECT doc_id,
              CASE WHEN len(w) >= 3
                THEN list_min(list_transform(generate_series(1, len(w) - 2),
                              i -> md5(array_to_string(w[i:i+2], ' '))))
                ELSE md5(trim(lower(text)))
              END AS winnow
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                  FROM documents)
            ORDER BY doc_id
        """,
        "doc_ngram_dups": """
            WITH sh AS (
              SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> array_to_string(w[i:i+2], ' '))) AS shingles
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                    FROM documents)
            ),
            ex0 AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            -- same hot-shingle join-key cap as the Spark query
            -- (max_df = max(100, n_docs // 10)): semantic parity even when
            -- the cap is ACTIVE, not only when no shingle trips it
            ex AS (
              SELECT doc_id, g FROM ex0
              WHERE g NOT IN (
                SELECT g FROM ex0 GROUP BY g
                HAVING count(*) > greatest(
                  100, (SELECT count(*) FROM documents) // 10))
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, shared,
                   round(shared * 1.0 / (sa.n_g + sb.n_g - shared), 6) AS jaccard
            FROM pairs
            JOIN (SELECT doc_id, len(shingles) AS n_g FROM sh) sa ON sa.doc_id = id_a
            JOIN (SELECT doc_id, len(shingles) AS n_g FROM sh) sb ON sb.doc_id = id_b
            WHERE shared * 1.0 / (sa.n_g + sb.n_g - shared) >= 0.3
            ORDER BY id_a, id_b
        """,
        "doc_minhash_dedup": _minhash_survivors_oracle(),
        "doc_simhash_pairs": _simhash_pairs_oracle(),
        "emb_cosine_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = {_QUERY_VEC_ID})
            SELECT vec_id,
                   round(list_dot_product(embedding, qv)
                         / (sqrt(list_dot_product(embedding, embedding))
                            * sqrt(list_dot_product(qv, qv))), 4) AS score
            FROM embeddings, q
            WHERE vec_id != {_QUERY_VEC_ID}
            ORDER BY list_dot_product(embedding, qv)
                     / (sqrt(list_dot_product(embedding, embedding))
                        * sqrt(list_dot_product(qv, qv))) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        "emb_near_dups": _emb_blocked_oracle(),
        "emb_ann_topk": _ann_topk_oracle(),
        "emb_knn_join": """
            SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
              SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                     list_dot_product(c.embedding, q.embedding)
                     / (sqrt(list_dot_product(c.embedding, c.embedding))
                        * sqrt(list_dot_product(q.embedding, q.embedding))) AS score,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(c.embedding, q.embedding)
                                / (sqrt(list_dot_product(c.embedding, c.embedding))
                                   * sqrt(list_dot_product(q.embedding, q.embedding))) DESC,
                                c.vec_id ASC) AS rank
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < 5 AND c.vec_id >= 5
            ) WHERE rank <= 3
            ORDER BY q_id, rank
        """,
    }
