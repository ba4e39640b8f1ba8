"""Entity linking: blocked similarity join against a broadcast candidate
dictionary (north rule; replaces the reference's live wikipedia/google
search, ``semantics/ccg.py:1919-1994`` / ``core/sentence.py:915-1000``).

The KB is one local frame, ``kb_frame``: the candidate dictionary
explodes its aliases, and ``canonicalize.canonical_nodes`` takes the node
metadata from it.

Plan shape:
  mentions (big)  ⋈broadcast  candidates (small, exploded aliases)
      on block_key (normalized first token)           ← equi-join, no shuffle
  → similarity score (prefix ratio, reference ccg.py:1898-1906 semantics)
  → top-1 per mention occurrence via row_number window

Skew: the join side is broadcast, so hot mention stems cause no shuffle
skew; the top-1 window partitions by the (unique) mention_id, so partitions
are tiny by construction.  The only skew risk is a block_key matching
thousands of candidates — bounded by capping aliases per block at dictionary
build time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ie_spark.data.synthetic import CITIES, NAMES, NOUNS
from ie_spark.session import local_frame

KB_SCHEMA = ("entity_id string, name string, aliases array<string>, "
             "category string, pageid int")
MIN_SCORE = 0.5


def _block_key(col):
    """Normalized blocking key: first 4 chars of the lowercase first token.
    Prefix blocking lets near-miss surface forms ('Alic') reach the scorer
    while keeping block fanout tiny; both sides of the join use the same
    function, so blocks always align."""
    first_tok = F.split(F.regexp_replace(col, "-", " "), " ").getItem(0)
    return F.substring(F.lower(first_tok), 1, 4)


def build_candidate_rows() -> list[tuple[str, str, list[str], str, int]]:
    """Raw deterministic KB rows (entity_id, name, aliases, category,
    pageid) — pure Python so the DuckDB correctness oracle can consume the
    identical KB.  category/pageid mirror the reference's wikidata payload
    (title/categories/pageid, core/sentence.py:30-63)."""
    rows = []
    for i, n in enumerate(NAMES):
        rows.append((f"P{i:04d}", n, [n, n.lower(), n.upper()],
                     "person", 1000 + i))
    for i, (surf, stem) in enumerate(CITIES):
        rows.append((f"C{i:04d}", stem, [stem, surf, surf.lower()],
                     "location", 2000 + i))
    for i, n in enumerate(NOUNS):
        rows.append((f"N{i:04d}", n, [n, n + "s", n.capitalize()],
                     "thing", 3000 + i))
    # distractors: near-miss names that must NOT win top-1 on exact aliases
    for i, n in enumerate(["Alicia", "Roberto", "Annabel", "Davide"]):
        rows.append((f"D{i:04d}", n, [n, n.lower()], "person", 4000 + i))
    return rows


def kb_url(entity_id: Column) -> Column:
    """An entity's KB URL (the reference's wikidata url slot)."""
    return F.concat(F.lit("kb://entity/"), entity_id)


def kb_frame(spark: SparkSession) -> DataFrame:
    """The KB, one row per entity, as a local frame (``KB_SCHEMA``)."""
    return local_frame(spark, build_candidate_rows(), KB_SCHEMA)


def build_candidate_dict(spark: SparkSession) -> DataFrame:
    """Deterministic KB candidate dictionary (entity_id, name, alias,
    block_key, alias_norm) — one row per alias of ``kb_frame``.
    Built from the synthetic vocabulary plus distractors (FIXTURES.md §4);
    swap for a real KB table at scale.
    """
    return (kb_frame(spark)
            .select("entity_id", "name", F.explode("aliases").alias("alias"))
            .withColumn("block_key", _block_key(F.col("alias")))
            .withColumn("alias_norm",
                        F.lower(F.regexp_replace("alias", "-", " "))))


def link_mentions(mentions: DataFrame, candidates: DataFrame) -> DataFrame:
    """mentions × broadcast candidates → (mention cols, entity_id, score).

    Score: 1.0 exact alias match, else longest-common-prefix ratio
    (computed JVM-side via levenshtein on truncated strings — no UDF).
    Top-1 per mention_id via row_number; below ``MIN_SCORE`` the
    mention keeps no entity.
    """
    m = (mentions
         .filter(F.col("kind").isin("entity", "propername"))
         .withColumn("stem_norm", F.lower(F.regexp_replace("stem", "-", " ")))
         .withColumn("block_key", _block_key(F.col("stem"))))

    j = m.join(F.broadcast(candidates), on="block_key", how="left")

    # prefix-ratio similarity (the reference's scoring, ccg.py:1898-1906:
    # longest common prefix / max length), exact-match shortcut, all
    # JVM-side: LCP via an aggregate over zipped character arrays
    eqs = F.zip_with(F.split(F.col("stem_norm"), ""),
                     F.split(F.col("alias_norm"), ""),
                     lambda x, y: x.eqNullSafe(y))
    lcp = F.aggregate(
        eqs,
        F.struct(F.lit(0).alias("n"), F.lit(True).alias("go")),
        lambda acc, eq: F.struct(
            (acc["n"] + F.when(acc["go"] & eq, 1).otherwise(0)).alias("n"),
            (acc["go"] & eq).alias("go")),
    )["n"]
    maxlen = F.greatest(F.length("stem_norm"), F.length("alias_norm"))
    score = (
        F.when(F.col("alias_norm").isNull(), F.lit(None))
        .when(F.col("stem_norm") == F.col("alias_norm"), F.lit(1.0))
        .otherwise(lcp / maxlen)
    )
    j = j.withColumn("score", score)

    w = Window.partitionBy("mention_id").orderBy(
        F.desc_nulls_last("score"), F.asc("entity_id"))
    top = (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))
    hit = F.col("score") >= MIN_SCORE
    return top.select(
        "conv_id", "turn_idx", "sent_idx", "mention_id", "surface", "stem",
        "kind", "ref", F.when(hit, F.col("entity_id")).alias("entity_id"),
        F.when(hit, F.col("score")).alias("score"),
        F.when(hit, F.col("name")).alias("entity_name"),
        F.when(hit, kb_url(F.col("entity_id"))).alias("kb_url"))
