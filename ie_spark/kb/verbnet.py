"""VerbNet classing for KG edges (reference C10, ``kb/verbnet.py:12-40``).

The reference's ``VerbnetDB.name_index`` maps a verb to its VerbClass
list; its pipeline attaches classes to verb events (disabled in fixture
mode via CO_NO_VERBNET, which is why the P/R gate never sees them).
Here the frozen public member→class table joins onto the edge stream as
a BROADCAST dimension — 4.4k rows against 10^12 edges is the canonical
small-dim join; unknown verbs keep NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ie_spark.kb.verbnet_data import verb_class_map
from ie_spark.session import local_frame


def verb_class_df(spark: SparkSession) -> DataFrame:
    """(verb, verb_class) — one row per verb; the class is the
    lexicographically smallest of the verb's VerbNet classes
    (deterministic tie-break; the reference keeps the full list in its
    name index — exposed here via ``verb_classes`` when needed)."""
    rows = [(v, cs[0], cs) for v, cs in sorted(verb_class_map().items())]
    return local_frame(
        spark, rows,
        "verb string, verb_class string, verb_classes array<string>")


def with_verb_classes(edges: DataFrame, classes: DataFrame,
                      pred_col: str = "pred") -> DataFrame:
    """edges + (verb_class) via broadcast left join on the predicate."""
    dim = F.broadcast(classes.select(F.col("verb").alias(pred_col),
                                     "verb_class"))
    return edges.join(dim, pred_col, "left")
