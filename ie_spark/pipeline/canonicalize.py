"""Canonicalization: connected components over the mention–entity graph.

Mirrors the reference's disjoint-span closure (`get_disjoint_drs_spans`,
``semantics/ccg.py:1822-1861`` — DFS over shared referents) lifted to corpus
scale: vertices are mention stems and KB entity ids; edges are

  - mention → linked entity (from ie_spark.pipeline.linking)
  - _AKA alias pairs (appositives, ``ccg.py:1073-1183``)
  - _POSS is NOT an identity edge (ownership ≠ sameness)

Algorithm: alternating large-star / small-star contraction over
DataFrames (``connected_components_star``) with ``localCheckpoint`` to
truncate lineage — no GraphFrames dependency.  Each round is a window over
the node id per star step plus one distinct, and shrinks the edge set; one
action per round tests whether it has become a star forest, the fixed point
where every node points at its component's minimum key.  O(log n) rounds
even on long chains; a run that has not converged after ``max_iter``
rounds raises instead of returning partial labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ie_spark.pipeline.linking import kb_url


def build_identity_edges(linked_mentions: DataFrame,
                         triples: DataFrame) -> DataFrame:
    """→ edges (src, dst) over node keys.

    Node key: 'E:<entity_id>' for KB entities, 'M:<stem>' for mention stems.
    """
    link_edges = (linked_mentions
                  .filter(F.col("entity_id").isNotNull())
                  .select(F.concat(F.lit("M:"), F.col("stem")).alias("src"),
                          F.concat(F.lit("E:"), F.col("entity_id")).alias("dst")))
    # alias identity edges carry ONLY corpus-unambiguous aliases: an
    # alias stem naming more than one distinct referent ('player' for
    # both Robbie and Serena) is a common-noun description, and
    # keeping it percolates — measured on a 2000-conv corpus, stem-level
    # _AKA edges collapsed every propername into one 72-stem component.
    # The filter is self-scaling: at 10^12 turns nearly every common
    # noun becomes ambiguous and drops out, while genuinely unique
    # descriptions ('the Dutch publishing group' → Elsevier) survive.
    # Shuffle cost: one groupBy on the alias stem + an anti-join — the
    # same key the edges shuffle on anyway.
    aka = (triples.filter(F.col("pred") == "_AKA")
           .select("subj", "obj").distinct())
    ambiguous = (aka.groupBy("obj")
                 .agg(F.count_distinct("subj").alias("n_ref"))
                 .filter(F.col("n_ref") > 1)
                 .select("obj"))
    aka_edges = (aka.join(ambiguous, "obj", "left_anti")
                 .select(F.concat(F.lit("M:"), F.col("subj")).alias("src"),
                         F.concat(F.lit("M:"), F.col("obj")).alias("dst")))
    return link_edges.unionByName(aka_edges).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """True when every child ``u`` of the (u > v) edge list has one parent
    and no parent is also a child.  One shuffle on the node id, one action."""
    ends = (e.select(F.col("u").alias("node"), F.lit(1).alias("child"),
                     F.lit(0).alias("parent"))
            .unionByName(e.select(F.col("v").alias("node"),
                                  F.lit(0).alias("child"),
                                  F.lit(1).alias("parent"))))
    bad = (ends.groupBy("node")
           .agg(F.sum("child").alias("n_parents"),
                F.max("parent").alias("is_parent"))
           .filter((F.col("n_parents") > 1) |
                   ((F.col("n_parents") == 1) & (F.col("is_parent") == 1))))
    return bad.isEmpty()


def connected_components_star(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """edges (src, dst) → (node, component) with component = min node key
    in the component (deterministic canonical representative).

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm) over edges oriented (u, v) with u > v:

    large-star: per node u, link every neighbor v > u to m = min(N(u) ∪ u)
    small-star: per node u, link u and every neighbor v < u to m

    Each neighbor minimum is a window over ``u`` (one shuffle, no join
    back).  Rounds keep connectivity and shrink the edge set; they stop
    once it is a star forest (every child has one parent, no parent is a
    child), where each component is one star centred on its minimum key.
    Raises ``RuntimeError`` when that takes more than ``max_iter`` rounds.
    """
    by_u = Window.partitionBy("u")
    e = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=False))
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_iter:
            raise RuntimeError(f"connected components did not converge in "
                               f"{max_iter} rounds")
        rounds += 1
        # ---- large-star over the symmetric edge list ----
        sym = e.unionByName(e.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
        large = (sym.withColumn("m", F.least(F.min("v").over(by_u), "u"))
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # ---- small-star: every v < u already, so m = min(N(u)) ----
        small = (large.withColumn("m", F.min("v").over(by_u))
                 .select(F.explode(F.array(
                     F.struct(F.col("v").alias("a"), "m"),
                     F.struct(F.col("u").alias("a"), "m"))).alias("p"))
                 .filter(F.col("p.a") != F.col("p.m"))
                 .select(F.greatest("p.a", "p.m").alias("u"),
                         F.least("p.a", "p.m").alias("v")))
        e = small.distinct().localCheckpoint(eager=False)

    # a star forest: children label with their parent, parents with
    # themselves (no parent is a child, so the two sets are disjoint)
    roots = e.select(F.col("v").alias("node")).distinct()
    return (e.select(F.col("u").alias("node"), F.col("v").alias("component"))
            .unionByName(roots.withColumn("component", F.col("node"))))


def canonical_nodes(labels: DataFrame, linked_mentions: DataFrame,
                    kb: DataFrame) -> DataFrame:
    """components + mention metadata + KB → nodes(node_id, canonical, kind,
    entity_id, kb_url, entity_name, category, pageid).

    node_id = component representative (min node key; 'E:' sorts before
    'M:', so a component containing a KB entity is represented by its
    smallest entity id — exposed as entity_id/kb_url metadata, mirroring
    the reference's wikidata attachment, core/sentence.py:30-63);
    canonical = the (deterministically smallest) mention stem.  ``kb`` is
    ``linking.kb_frame``: its name, category and pageid join on entity_id
    (broadcast — the KB is dimension-sized).
    """
    stems = (linked_mentions
             .select(F.concat(F.lit("M:"), F.col("stem")).alias("node"),
                     F.col("stem"), F.col("kind"))
             .distinct())
    joined = labels.join(stems, "node", "left")
    ent = F.when(F.col("component").startswith("E:"),
                 F.expr("substring(component, 3)"))
    meta = kb.select("entity_id", F.col("name").alias("entity_name"),
                     "category", "pageid")
    return (joined.groupBy("component")
            .agg(F.min("stem").alias("canonical"),
                 F.max("kind").alias("kind"))
            .select(F.col("component").alias("node_id"), "canonical",
                    "kind", ent.alias("entity_id"),
                    kb_url(ent).alias("kb_url"))
            .join(F.broadcast(meta), "entity_id", "left")
            .select("node_id", "canonical", "kind", "entity_id", "kb_url",
                    "entity_name", "category", "pageid"))


def canonical_mention_map(labels: DataFrame) -> DataFrame:
    """→ (stem, node_id) map for rewriting triple endpoints."""
    return (labels
            .filter(F.col("node").startswith("M:"))
            .select(F.expr("substring(node, 3)").alias("stem"),
                    F.col("component").alias("node_id")))


def canonical_edges(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """triples + component labels → edges(src, pred, dst, conv_id,
    turn_idx, sent_idx, polarity): each endpoint stem is rewritten to its
    node_id ('M:<stem>' when unlinked); _AKA/_POSS are not edges.  The
    stem→node map holds only linked entity stems, so it is broadcast
    explicitly — a skewed-stem regression to sort-merge can't land
    silently (guarded by test_plans.py)."""
    mmap = F.broadcast(canonical_mention_map(labels))
    return (triples.filter(~F.col("pred").isin("_AKA", "_POSS"))
            .join(mmap.withColumnRenamed("stem", "subj")
                  .withColumnRenamed("node_id", "src"), "subj", "left")
            .join(mmap.withColumnRenamed("stem", "obj")
                  .withColumnRenamed("node_id", "dst"), "obj", "left")
            .select(F.coalesce("src", F.concat(F.lit("M:"), "subj")).alias("src"),
                    "pred",
                    F.coalesce("dst", F.concat(F.lit("M:"), "obj")).alias("dst"),
                    "conv_id", "turn_idx", "sent_idx", "polarity"))
