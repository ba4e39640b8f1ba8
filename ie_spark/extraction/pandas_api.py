"""Arrow-batched pandas entry points for the extractor.

These functions take/return pandas objects so they can be dropped straight
into ``mapInPandas`` / ``applyInPandas`` (ie_spark.pipeline.extract). The
per-sentence linguistic loop runs over a few thousand rows per Arrow batch;
at the Spark API level nothing is per-row Python (input_hint requirement).

``MENTION_COLUMNS`` and ``TRIPLE_COLUMNS`` are the one declaration of the
KG records: the Spark schemas in ie_spark.pipeline.extract are derived
from them (``turn_idx`` and ``sent_idx`` int, every other column string).
"""

from __future__ import annotations

import pandas as pd

from ie_spark.extraction.extractor import extract_turn

MENTION_COLUMNS = [
    "conv_id", "turn_idx", "sent_idx", "mention_id",
    "surface", "stem", "kind", "ref",
]
TRIPLE_COLUMNS = [
    "conv_id", "turn_idx", "sent_idx",
    "subj", "pred", "obj", "subj_ref", "event_ref", "obj_ref", "polarity",
    "modal",  # reference _MODAL (lexeme.py:683)
    "role",   # ARG1 theme | ARG2 recipient/obl
    "prep",   # oblique preposition
]


def extract_batch(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Batch of transcript rows (conv_id, turn_idx, text) →
    (mentions_df, triples_df) in long format."""
    m_rows, t_rows = [], []
    for conv_id, turn_idx, text in zip(
            pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values):
        try:
            mentions, triples = extract_turn(text)
        except Exception as e:  # noqa: BLE001 — row-level isolation
            # SURVEY A4 / reference dead-letter semantics
            # (aws/__init__.py:265-365): one malformed turn must never
            # abort a 10^12-turn job — emit a queryable error row
            # (kind='_error') and keep going.  The extractor is
            # hypothesis-fuzzed to never raise; this is the backstop.
            m_rows.append((conv_id, int(turn_idx), -1,
                           f"{conv_id}#{int(turn_idx)}#err",
                           "", type(e).__name__, "_error", ""))
            continue
        for si, m in mentions:
            m_rows.append((
                conv_id, int(turn_idx), si,
                f"{conv_id}#{int(turn_idx)}#{si}#{m.ref}",
                m.surface, m.stem, m.kind, m.ref,
            ))
        for si, t in triples:
            t_rows.append((
                conv_id, int(turn_idx), si,
                t.subj, t.pred, t.obj,
                t.subj_ref, t.event_ref, t.obj_ref, t.polarity,
                t.modal, t.role, t.prep,
            ))
    mentions_df = pd.DataFrame(m_rows, columns=MENTION_COLUMNS)
    triples_df = pd.DataFrame(t_rows, columns=TRIPLE_COLUMNS)
    return mentions_df, triples_df
