"""Spark wrapper for the per-turn extraction core.

Architecture (Spark-first, SURVEY.md §7.1 step 3):

- Every per-turn surface (triples, mentions, the combined table, the
  per-sentence views and ``extraction.drs.extract_drs_df``) is one Arrow
  pass, ``_map_turns``: only (conv_id, turn_idx, text) are selected before
  the UDF so Catalyst prunes every other column at the source
  (ReadSchema), then ``mapInPandas`` runs the surface's batch body.
- That pass is Arrow-batched, no per-row Python at the Spark API level,
  and has **no shuffle**: per-turn extraction is embarrassingly
  parallel, so the plan is scan → project → mapInPandas, which scales
  linearly with executors (the north rule's N→4N efficiency comes free
  because there is no exchange to serialize).
- Conversation-level operations (checkpointing, graph building) that DO
  group by conv_id hash-partition on ``conv_keys``: conv_id, plus a
  per-turn salt for mega-conversations (SURVEY.md §4 custom work #1).

Reference parity: output schemas mirror SURVEY.md §1.2 and are derived
from the one column declaration in ie_spark.extraction.pandas_api; the
extraction semantics live in ie_spark.extraction.extractor (reference
citations there).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ie_spark.extraction.extractor import (dependency_rows,
                                           extract_constituents,
                                           verbnet_tree, verbnet_view)
from ie_spark.extraction.pandas_api import (MENTION_COLUMNS, TRIPLE_COLUMNS,
                                            extract_batch)
from ie_spark.textproc.preprocess import split_sentences

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def _record_schema(columns: list[str]) -> StructType:
    return StructType([
        StructField(c, IntegerType() if c in ("turn_idx", "sent_idx")
                    else StringType())
        for c in columns])


MENTION_SCHEMA = _record_schema(MENTION_COLUMNS)
TRIPLE_SCHEMA = _record_schema(TRIPLE_COLUMNS)

# the FULL fact identity (the merge key of the triples table): same
# (s,p,o) in one sentence can differ in polarity/modal/role ("deployed the
# service and did not deploy the service") — narrower keys would make
# MERGE drop real facts
TRIPLE_KEYS = ["conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj",
               "polarity", "modal", "role", "prep"]

# single-pass combined output (mentions + triples discriminated by 'rec'),
# so a full pipeline run extracts once and splits at the sink
COMBINED_COLUMNS = (["rec"] + TRIPLE_COLUMNS
                    + [c for c in MENTION_COLUMNS if c not in TRIPLE_COLUMNS])
COMBINED_SCHEMA = _record_schema(COMBINED_COLUMNS)


def _map_turns(transcripts: DataFrame, body, schema) -> DataFrame:
    """The one Arrow pass of every per-turn surface: prune to (conv_id,
    turn_idx, text), so the parquet scan reads three columns, then
    ``mapInPandas`` yields ``body(pdf)`` for each batch (shuffle-free)."""
    def gen(batches):
        for pdf in batches:
            yield body(pdf)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        gen, schema=schema)


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """transcripts → triples table (scan → mapInPandas, shuffle-free)."""
    return _map_turns(transcripts, lambda pdf: extract_batch(pdf)[1],
                      TRIPLE_SCHEMA)


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts → mentions table (scan → mapInPandas, shuffle-free)."""
    return _map_turns(transcripts, lambda pdf: extract_batch(pdf)[0],
                      MENTION_SCHEMA)


_SENT_KEY = "conv_id string, turn_idx int, sent_idx int, "


def _sentence_rows(pdf: pd.DataFrame, fn, cols: str) -> pd.DataFrame:
    """The batch body of every per-sentence surface: split each turn into
    sentences and emit ``(conv_id, turn_idx, sent_idx, *row)`` for each
    ``row`` of ``fn(sentence)``; ``cols`` is the DDL of the row columns.

    Dead letters: a sentence whose ``fn`` raises yields one row with
    ``_error:<ExcName>`` in the first string column and NULL elsewhere,
    so one malformed sentence never aborts the job."""
    names, types = zip(*(c.split() for c in cols.split(",")))
    at = types.index("string")
    rows = []
    for conv_id, turn_idx, text in zip(
            pdf["conv_id"].values, pdf["turn_idx"].values,
            pdf["text"].values):
        for si, sent in enumerate(split_sentences(text or "")):
            key = (conv_id, int(turn_idx), si)
            try:
                out = [key + tuple(r) for r in fn(sent)]
            except Exception as e:  # noqa: BLE001 — row isolation
                err = [None] * len(names)
                err[at] = f"_error:{type(e).__name__}"
                out = [key + tuple(err)]
            rows.extend(out)
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "sent_idx",
                                       *names])


def _per_sentence_frame(transcripts: DataFrame, fn, cols: str) -> DataFrame:
    """transcripts → the ``_map_turns`` pass of ``_sentence_rows``."""
    return _map_turns(transcripts, lambda pdf: _sentence_rows(pdf, fn, cols),
                      _SENT_KEY + cols)


def extract_constituents_df(transcripts: DataFrame) -> DataFrame:
    """transcripts → constituent phrase table (NP/VP/S_INF/ADJP/ADVP/PP
    spans with adjunct marking — the reference's constituent output,
    core/sentence.py:218-321 refined by ccg.py:783-989)."""
    return _per_sentence_frame(
        transcripts, extract_constituents,
        "vntype string, start int, end int, adjunct boolean, surface string")


def extract_vn_view_df(transcripts: DataFrame) -> DataFrame:
    """transcripts → the reference's flat *VerbNet sentence* phrase view
    (``get_verbnet_sentence()``, semantics/ccg.py — reference C11): one
    row per phrase, PP rows carrying only their preposition, attributive
    adjuncts folded into their phrase (see extractor.verbnet_view)."""
    return _per_sentence_frame(transcripts, verbnet_view,
                               "vntype string, surface string")


def _tree_row(sent: str) -> list[tuple]:
    t = verbnet_tree(sent)
    return [(repr(t) if t is not None else None,)]


def extract_vn_trees_df(transcripts: DataFrame) -> DataFrame:
    """transcripts → (conv_id, turn_idx, sent_idx, tree) where ``tree``
    is the repr of the reference-style nested constituent tree over the
    VerbNet-view node indices (``get_constituent_tree()``,
    core/sentence.py; see extractor.verbnet_tree)."""
    return _per_sentence_frame(transcripts, _tree_row, "tree string")


def _dependency_rows(sent: str) -> list[tuple]:
    toks, heads = dependency_rows(sent)
    return [(ti, tok, int(h)) for ti, (tok, h) in enumerate(zip(toks, heads))]


def extract_dependencies_df(transcripts: DataFrame) -> DataFrame:
    """transcripts → (conv_id, turn_idx, sent_idx, tok_idx, token, head)
    word-level dependency rows — the reference's per-lexeme ``.head``
    output (``get_dependency_tree``, core/sentence.py:439; head
    conventions verified against test/exec_test.py token assertions).
    The root token has head == tok_idx."""
    return _per_sentence_frame(transcripts, _dependency_rows,
                               "tok_idx int, token string, head int")


def _combined_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    mentions, triples = extract_batch(pdf)
    return pd.concat([triples.assign(rec="t"),
                      mentions.assign(rec="m")])[COMBINED_COLUMNS]


def extract_all(transcripts: DataFrame) -> DataFrame:
    """Single-pass extraction of mentions AND triples into one discriminated
    long table ('rec' = 'm'|'t'; the other record's columns are NULL).  Use
    when materializing both sinks: one scan + one UDF pass, split with cheap
    filters afterwards (ideally after a write, so the UDF is not re-executed
    per branch)."""
    return _map_turns(transcripts, _combined_rows, COMBINED_SCHEMA)


def split_combined(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Discriminated extraction output → (mentions_df, triples_df)."""
    mentions = combined.filter(F.col("rec") == "m").select(*MENTION_COLUMNS)
    triples = combined.filter(F.col("rec") == "t").select(*TRIPLE_COLUMNS)
    return mentions, triples


def conv_keys(salt_buckets: int = 0,
              hot_convs: list[str] | None = None) -> list[Column]:
    """Hash-partitioning keys by conversation: conv_id, plus a per-turn
    salt over ``salt_buckets`` for the hot conversations, so a
    mega-conversation (found by ``find_hot_convs``) cannot pin one
    partition.  ``pmod(hash(*keys), n)`` is the partition
    ``repartition(n, *keys)`` puts a row in (``F.hash`` is the Murmur3 of
    hash partitioning), so it can be recomputed from any frame that still
    carries conv_id and turn_idx."""
    if not (salt_buckets and hot_convs):
        return [F.col("conv_id")]
    salt = F.when(F.col("conv_id").isin(hot_convs),
                  F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets)))
    return [F.col("conv_id"), salt.otherwise(F.lit(0))]


def find_hot_convs(transcripts: DataFrame, threshold: int) -> list[str]:
    """First-pass frequency scan for skew salting (count per conv_id)."""
    rows = (transcripts.groupBy("conv_id").count()
            .filter(F.col("count") >= threshold)
            .select("conv_id").collect())
    return [r[0] for r in rows]


def transcripts_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Create a transcripts DataFrame with the canonical schema.

    Columns are selected by NAME (createDataFrame maps positionally, which
    silently mis-assigns reordered frames)."""
    pdf = pdf[[f.name for f in TRANSCRIPT_SCHEMA.fields]]
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering with a dense per-conversation
    row_number — the input_hint's 'per-turn text equality under stable turn
    ordering' invariant check."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("turn_rank", F.row_number().over(w))
