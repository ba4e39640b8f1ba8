"""End-to-end P/R gate (north rule: triples P/R ≥ 0.95 vs fixtures) plus
stable-ordering and mention checks, all through Spark."""

import pandas as pd
import pytest

from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.pipeline.extract import (
    extract_all,
    extract_mentions,
    extract_triples,
    ordered_turns,
    split_combined,
    transcripts_from_pandas,
)

KEY = ["conv_id", "turn_idx", "subj", "pred", "obj", "polarity"]


@pytest.fixture(scope="module")
def corpus():
    return corpus_to_pandas(n_convs=60, seed=42, mega_frac=0.02)


@pytest.fixture(scope="module")
def transcripts(spark, corpus):
    return transcripts_from_pandas(spark, corpus[0])


def _pr(pred_set, gold_set):
    tp = len(pred_set & gold_set)
    return tp / max(len(pred_set), 1), tp / max(len(gold_set), 1)


def test_triples_precision_recall(spark, corpus, transcripts):
    _, golden, _ = corpus
    out = extract_triples(transcripts).toPandas()
    p, r = _pr(set(map(tuple, out[KEY].itertuples(index=False))),
               set(map(tuple, golden[KEY].itertuples(index=False))))
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_mentions_precision_recall(spark, corpus, transcripts):
    _, _, golden_m = corpus
    out = extract_mentions(transcripts).toPandas()
    out = out[out.kind.isin(["entity", "propername", "pronoun"])]
    mkey = ["conv_id", "turn_idx", "stem", "kind"]
    p, r = _pr(set(map(tuple, out[mkey].itertuples(index=False))),
               set(map(tuple, golden_m[mkey].itertuples(index=False))))
    assert p >= 0.95 and r >= 0.95, f"mentions P={p:.3f} R={r:.3f}"


def test_single_pass_combined_equals_two_pass(spark, transcripts):
    m2, t2 = split_combined(extract_all(transcripts))
    t1 = extract_triples(transcripts)
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0
    m1 = extract_mentions(transcripts)
    assert m1.exceptAll(m2).count() == 0
    assert m2.exceptAll(m1).count() == 0


@pytest.mark.parametrize("layout", ["one_batch", "batch_per_turn"])
def test_extract_all_pads_other_record_with_null(spark, layout):
    """In the combined table a triple row ('t') has NULL mention columns
    and a mention row ('m') NULL triple columns: the NaN padding of the
    pandas concat must cross Arrow as NULL, also in batches that hold no
    triple (a turn with mentions only, no mentions, empty or NULL text)."""
    pdf = pd.DataFrame(
        [("c1", 0, "Bob deployed the service."), ("c1", 1, "Hello."),
         ("c1", 2, "The red server."), ("c1", 3, ""), ("c1", 4, None)],
        columns=["conv_id", "turn_idx", "text"])
    text = spark.createDataFrame(pdf, "conv_id string, turn_idx int, "
                                      "text string")
    if layout == "one_batch":
        text = text.coalesce(1)
    else:
        text = text.repartitionByRange(5, "turn_idx")
        assert text.rdd.glom().map(len).collect() == [1] * 5
    rows = extract_all(text).collect()
    t = [r for r in rows if r["rec"] == "t"]
    m = [r for r in rows if r["rec"] == "m"]
    assert t and m and len(t) + len(m) == len(rows)
    assert {r["turn_idx"] for r in t} == {0}
    assert {r["turn_idx"] for r in m} == {0, 2}
    mention_only = ["mention_id", "surface", "stem", "kind", "ref"]
    triple_only = ["subj", "pred", "obj", "subj_ref", "event_ref",
                   "obj_ref", "polarity", "modal", "role", "prep"]
    assert all(r[c] is None for r in t for c in mention_only)
    assert all(r[c] is None for r in m for c in triple_only)
    assert all(r[c] is not None for r in t for c in ("subj", "pred", "obj"))
    assert all(r["mention_id"] is not None for r in m)


def test_extraction_deterministic_across_partitioning(spark, transcripts):
    a = extract_triples(transcripts.repartition(13)).toPandas()
    b = extract_triples(transcripts.coalesce(1)).toPandas()
    sa = set(map(tuple, a[KEY].itertuples(index=False)))
    sb = set(map(tuple, b[KEY].itertuples(index=False)))
    assert sa == sb and len(a) == len(b)


def test_stable_turn_ordering(spark, corpus, transcripts):
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    pdf = (ordered_turns(transcripts)
           .select("conv_id", "turn_idx", "turn_rank", "text")
           .toPandas())
    # dense ranks: turn_rank == turn_idx + 1 for every row
    assert (pdf["turn_rank"] == pdf["turn_idx"] + 1).all()
    src = corpus[0]
    merged = pdf.merge(src[["conv_id", "turn_idx", "text"]],
                       on=["conv_id", "turn_idx"], suffixes=("_s", "_p"))
    assert len(merged) == len(src)
    assert (merged["text_s"] == merged["text_p"]).all()


def test_constituents_match_template_goldens(spark, corpus, transcripts):
    """Template-defined golden phrase inventory == extracted constituents
    (exact bag, surface projection) through Spark."""
    from ie_spark.data.synthetic import corpus_constituents_golden
    from ie_spark.pipeline.extract import extract_constituents_df
    gold = corpus_constituents_golden(n_convs=60, seed=42, mega_frac=0.02)
    got = (extract_constituents_df(transcripts)
           .select("conv_id", "turn_idx", "sent_idx", "vntype", "surface",
                   "adjunct").toPandas())
    C = list(got.columns)
    a = got.astype({"turn_idx": "int64", "sent_idx": "int64"}) \
           .sort_values(C).reset_index(drop=True)
    b = gold.astype({"turn_idx": "int64", "sent_idx": "int64"}) \
            .sort_values(C).reset_index(drop=True)
    assert len(a) == len(b)
    assert a.equals(b)


@pytest.mark.parametrize("surface", ["constituents", "vn_view", "vn_trees",
                                     "dependencies"])
def test_per_sentence_dead_letter(spark, surface):
    """Every per-sentence surface shares one batch body and one
    dead-letter rule: a sentence whose fn raises yields exactly one row,
    '_error:<ExcName>' in the surface's first string column and NULL in
    its other columns, while its neighbours keep their normal rows.  The
    body is driven in-process (driver-side patches can't reach Spark's
    Python workers), then once through Spark so the NULLs survive the
    Arrow trip."""
    from ie_spark.pipeline import extract as ex
    surface_df, fn = {
        "constituents": (ex.extract_constituents_df, ex.extract_constituents),
        "vn_view": (ex.extract_vn_view_df, ex.verbnet_view),
        "vn_trees": (ex.extract_vn_trees_df, ex._tree_row),
        "dependencies": (ex.extract_dependencies_df, ex._dependency_rows),
    }[surface]
    pdf = pd.DataFrame(
        [("c1", 0, "The boy waited. Boom went the girl. The girl smiled."),
         ("c1", 1, "The dog ran.")],
        columns=["conv_id", "turn_idx", "text"])
    text = spark.createDataFrame(pdf, "conv_id string, turn_idx int, "
                                      "text string")
    fields = surface_df(text).schema.fields[3:]
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    first = next(i for i, f in enumerate(fields)
                 if f.dataType.simpleString() == "string")

    def bomb(sent):
        if sent.startswith("Boom"):
            raise ValueError("synthetic failure")
        return fn(sent)

    key = ["conv_id", "turn_idx", "sent_idx"]
    clean = ex._sentence_rows(pdf, fn, cols)
    got = ex._sentence_rows(pdf, bomb, cols)
    assert list(got.columns) == key + [f.name for f in fields]
    is_bad = (got["turn_idx"] == 0) & (got["sent_idx"] == 1)
    want = [None] * len(fields)
    want[first] = "_error:ValueError"
    assert is_bad.sum() == 1
    assert [None if pd.isna(v) else v
            for v in got[is_bad].iloc[0][3:]] == want
    # the neighbours, in the same turn and in the next one, are untouched
    keep = clean[~((clean["turn_idx"] == 0) & (clean["sent_idx"] == 1))]
    assert {(0, 0), (0, 2), (1, 0)} <= set(
        zip(keep["turn_idx"], keep["sent_idx"]))
    assert (list(got[~is_bad].itertuples(index=False))
            == list(keep.itertuples(index=False)))

    rows = ex._per_sentence_frame(text, bomb, cols).collect()
    err = [r for r in rows if r["turn_idx"] == 0 and r["sent_idx"] == 1]
    assert len(rows) == len(got) and len(err) == 1
    assert list(err[0])[3:] == want
