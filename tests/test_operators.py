"""Operator correctness: dedup ladder (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding cosine), similarity search (brute vs ANN recall),
text stats, multimodal plumbing."""

import random

import pytest
from pyspark.sql import functions as F

from ie_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup_ids,
    jaccard_verify,
    minhash_lsh_dedup,
    shingle_frame,
    simhash,
    simhash_near_dups,
    with_shingles,
)
from ie_spark.operators.multimodal import (
    extract_media_features,
    make_synthetic_media,
    sample_frames,
)
from ie_spark.operators.similarity import ann_topk, cosine_topk, knn_join
from ie_spark.operators.textstats import document_stats


def _mk_docs(spark):
    """20 random docs + 3 planted near-duplicate groups."""
    r = random.Random(7)
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for i in range(20):
        rows.append((i, " ".join(r.choice(vocab) for _ in range(60))))
    base = " ".join(r.choice(vocab) for _ in range(80))
    rows.append((100, base))
    rows.append((101, base))                                # exact dup
    rows.append((102, base.replace("alpha", "ALPHA", 1)))   # near dup
    words = base.split()
    words[10] = "zzz"
    rows.append((103, " ".join(words)))                     # near dup (1 edit)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    docs = _mk_docs(spark)
    kept = {r[0] for r in exact_dedup_ids(docs).collect()}
    assert 100 in kept and 101 not in kept
    assert len(kept) == docs.count() - 1


def test_minhash_lsh_finds_planted_dups(spark):
    docs = _mk_docs(spark)
    kept = {r[0] for r in minhash_lsh_dedup(docs, threshold=0.7).collect()}
    assert 100 in kept
    assert 101 not in kept and 103 not in kept  # near-dups collapse to 100
    assert all(i in kept for i in range(20))    # random docs survive


def test_minhash_candidates_verified(spark):
    docs = _mk_docs(spark)
    base = shingle_frame(docs)
    a, b = base.alias("a"), base.alias("b")
    cands = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b")))
    verified = jaccard_verify(cands, base, threshold=0.7,
                              shingle_col="sh_h").collect()
    pairs = {(r.id_a, r.id_b) for r in verified}
    assert (100, 101) in pairs
    for r in verified:
        assert r.jaccard >= 0.7


def test_simhash_deterministic_and_near(spark):
    docs = _mk_docs(spark)
    h1 = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    h2 = {r.doc_id: r.simhash for r in
          simhash(docs.repartition(5)).collect()}
    assert h1 == h2                       # partitioning-independent
    assert h1[100] == h1[101]             # identical docs → identical hash
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dups(docs, 3).collect()}
    assert (100, 101) in pairs


def test_embedding_near_dups_and_blocked_variant(spark):
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.id_a, r.id_b) for r in
             embedding_near_dups(emb, threshold=0.95).collect()}
    assert exact == {(0, 1)}


def test_cosine_topk_orders_correctly(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((9, [0.9, 0.1, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert out[0].vec_id == 0 and out[0].score == 1.0
    assert out[1].vec_id == 9


def test_ann_recall_vs_brute(spark, sf_dir):
    import os
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0)
         .head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0)
    brute = [r.vec_id for r in cosine_topk(corpus, q, k=10).collect()]
    # the synthetic embeddings are near-random (top-10 cosine ≈ 0.3), the
    # hardest regime for LSH — use few bits + multiprobe and a soft floor
    approx = [r.vec_id for r in
              ann_topk(corpus, q, k=10, bits=4, probe_hamming=2).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall {recall} too low"


def test_knn_join_shape(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(4)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (emb.filter(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = knn_join(emb.filter(F.col("vec_id") >= 2), queries, k=3).collect()
    assert len(out) == 6
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.score)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_document_stats(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox is on the table"),
         (2, ""), (3, "!!! ??? ...")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in document_stats(docs).collect()}
    assert rows[1].n_tokens == 8
    assert rows[1].lang_guess == "en"
    assert rows[2].n_tokens == 0 and rows[2].lang_guess == "unk"
    assert rows[3].punct_ratio > 0.5
    assert rows[1].quality > rows[3].quality
    assert len(rows[1].fingerprint) == 32


def test_media_features_deterministic(spark):
    media = make_synthetic_media(spark, n=12)
    f1 = {r.media_id: (r.content_sha, tuple(r.feature)) for r in
          extract_media_features(media).collect()}
    f2 = {r.media_id: (r.content_sha, tuple(r.feature)) for r in
          extract_media_features(media.repartition(3)).collect()}
    assert f1 == f2
    assert all(len(v[1]) == 16 for v in f1.values())


def test_resize_plan_never_upscales(spark):
    from ie_spark.operators.multimodal import resize_plan
    media = make_synthetic_media(spark, n=48)
    out = resize_plan(media, max_dim=256).collect()
    assert len(out) == 16    # images only (every 3rd row)
    for r in out:
        assert max(r.new_width, r.new_height) <= 256
        assert r.new_width >= 1 and r.new_height >= 1
        if max(r.width, r.height) <= 256:
            # small images pass through untouched (never upscale)
            assert (r.new_width, r.new_height) == (r.width, r.height)
            assert r.scale == 1.0
        else:
            assert max(r.new_width, r.new_height) == 256 \
                or max(r.new_width, r.new_height) == 255  # floor slack
            assert r.scale < 1.0


def test_sample_frames_plan(spark):
    media = make_synthetic_media(spark, n=9)
    frames = sample_frames(media, every_ms=1000).collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len(frames) == vids * 5  # 5000ms / 1000ms


def test_ngram_hot_shingle_cap_bounds_pairs(spark):
    """Scale guard: a boilerplate shingle shared by every doc must not
    create a quadratic candidate block; the cap drops it as a JOIN KEY only,
    so genuinely similar pairs keep their exact score."""
    from ie_spark.operators.dedup import ngram_jaccard_pairs
    boiler = "terms of service apply document number"
    rows = [(i, f"{boiler} {i} unique content token{i * 7} extra{i}")
            for i in range(60)]
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows += [(100, dup), (101, dup)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_df=None)
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_df=10)
    n_un, n_cap = uncapped.count(), capped.count()
    # 60 boilerplate docs → 1770 quadratic pairs without the cap
    assert n_un > 1000
    assert n_cap < 10, f"hot block survived the cap: {n_cap} pairs"
    # the planted dup is still found, with its exact score
    planted = capped.filter((F.col("id_a") == 100)
                            & (F.col("id_b") == 101)).collect()
    assert len(planted) == 1 and planted[0]["jaccard"] == 1.0


def test_lsh_max_bucket_drops_oversized_buckets(spark):
    """Same guard for LSH banding: identical boilerplate docs all land in
    the same 16 band buckets; max_bucket drops those blocks."""
    rows = [(i, "common boilerplate text repeated everywhere in the corpus")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = minhash_lsh_dedup(docs, max_bucket=None).collect()
    capped = minhash_lsh_dedup(docs, max_bucket=10).collect()
    assert [r[0] for r in uncapped] == [0]
    assert sorted(r[0] for r in capped) == list(range(40))


def test_ngram_pairs_match_bruteforce_property(spark):
    """Property: uncapped ngram_jaccard_pairs == brute-force python Jaccard
    over every pair, for a randomized (seeded) document set."""
    import itertools
    from ie_spark.operators.dedup import ngram_jaccard_pairs
    r = random.Random(123)
    vocab = "red blue green alpha beta gamma delta one two three".split()
    rows = [(i, " ".join(r.choice(vocab) for _ in range(r.randint(0, 12))))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    def shingles(text):
        w = text.strip().lower().split()
        return {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}

    expect = set()
    sh = {i: shingles(t) for i, t in rows}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        if inter and union and inter / union >= 0.2:
            expect.add((a, b, inter, round(inter / union, 6)))

    got = {(r["id_a"], r["id_b"], r["shared"], r["jaccard"])
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2,
                                        max_df=None).collect()}
    assert got == expect


def test_minhash_arrow_path_matches_expression_path(spark):
    # the Arrow pass (shingle+minhash+band in one mapInPandas) must
    # shingle exactly like the JVM expression shingler with_shingles:
    # hashing with_shingles' grams with the pass's own base hash gives
    # the same per-doc sets
    import pandas as pd
    from ie_spark.operators.dedup import _minhash_arrow_frame

    def h(grams):
        return set(pd.util.hash_pandas_object(
            pd.Series(grams, dtype=object), index=False)
            .to_numpy("uint64").view("int64").tolist())

    docs = _mk_docs(spark)
    arrow_kept = {r[0] for r in
                  minhash_lsh_dedup(docs, threshold=0.7).collect()}
    base = _minhash_arrow_frame(docs, 3, 64, 16, "doc_id", "text")
    arrow_shingles = {r["doc_id"]: set(r["sh_h"]) for r in base.collect()}
    jvm_shingles = {r["doc_id"]: h(r["shingles"])
                    for r in with_shingles(docs).collect()}
    assert arrow_shingles == jvm_shingles  # same distinct-shingle sets
    assert 100 in arrow_kept and 101 not in arrow_kept


def test_minhash_collapse_is_transitive(spark):
    # chain 1–3–2: J(1,3) = J(2,3) = 26/30 clear 0.8, J(1,2) = 22/30 does
    # not.  One component, so only its minimum id survives — the DuckDB
    # oracle's recursive-CTE closure agrees
    import duckdb
    from __spark_entry__ import _minhash_survivors_oracle
    w = [f"w{i}" for i in range(32)]
    rows = [(1, " ".join(w[:-4])), (2, " ".join(w[4:])), (3, " ".join(w))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r[0] for r in minhash_lsh_dedup(docs, threshold=0.8).collect()}
    assert kept == {1}
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        oracle = {r[0] for r in
                  con.execute(_minhash_survivors_oracle()).fetchall()}
    assert oracle == kept


def test_minhash_arrow_deterministic_across_runs(spark):
    # pandas siphash base + splitmix64 derivation must be process-stable
    # (resume/retry safety at 10^12 docs)
    from ie_spark.operators.dedup import _minhash_arrow_frame
    docs = _mk_docs(spark)
    a = _minhash_arrow_frame(docs, 3, 64, 16, "doc_id", "text").collect()
    b = _minhash_arrow_frame(docs, 3, 64, 16, "doc_id", "text").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_minhash_arrow_short_and_empty_docs(spark):
    # review r4 finding #1: a trailing doc with fewer than n words made
    # np.minimum.reduceat's offset == len(base) and crashed the job;
    # empty/short docs must flow through with empty shingles instead
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "ok"), (4, ""), (5, None)],
        "doc_id long, text string")
    kept = {r[0] for r in minhash_lsh_dedup(docs, threshold=0.7).collect()}
    assert {3, 4, 5} <= kept           # shingle-less docs always survive
    assert 1 in kept and 2 not in kept  # the near-dup pair collapses


def test_split_assign_stable_and_rated(spark):
    from ie_spark.operators.sampling import split_assign
    docs = spark.range(4000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in split_assign(docs, 0.05).collect()}
    b = {r.doc_id: r.split
         for r in split_assign(docs.repartition(7), 0.05).collect()}
    assert a == b                      # stable under repartition
    rate = sum(v == "eval" for v in a.values()) / len(a)
    assert 0.03 < rate < 0.07          # ~5% holdout
    # growing the corpus never reassigns existing rows
    c = {r.doc_id: r.split
         for r in split_assign(
             spark.range(8000).withColumnRenamed("id", "doc_id"),
             0.05).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_stratified_sample_rates(spark):
    from pyspark.sql import functions as F
    from ie_spark.operators.sampling import stratified_sample
    docs = (spark.range(6000).withColumnRenamed("id", "doc_id")
            .withColumn("source", F.concat(
                F.lit("s"), (F.col("doc_id") % 3).cast("string"))))
    out = stratified_sample(docs, {"s0": 1.0, "s1": 0.5},
                            default_rate=0.0)
    counts = {r.source: r.cnt for r in
              out.groupBy("source").agg(F.count("*").alias("cnt"))
              .collect()}
    assert counts["s0"] == 2000        # rate 1.0 keeps everything
    assert 850 < counts.get("s1", 0) < 1150
    assert "s2" not in counts          # default 0 drops the stratum


def test_contamination_broadcasts_eval_side(spark):
    from pyspark.sql import functions as F
    from ie_spark.operators.sampling import contamination_flags
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, "totally different words with no overlap at all here"),
         (3, "alpha beta gamma delta epsilon zeta eta theta kappa")],
        "doc_id long, text string")
    ev = docs.filter(F.col("doc_id") == 1)
    tr = docs.filter(F.col("doc_id") != 1)
    out = contamination_flags(tr, ev, n=8, min_shared=1)
    rows = {r.doc_id: r.shared_ngrams for r in out.collect()}
    assert rows == {3: 1}              # shares the 8-gram prefix
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_gopher_metrics(spark):
    from ie_spark.operators.textstats import repetition_stats
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"),
         (2, "each word here is fully unique"),
         (3, "go go go go"),
         (4, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].dup_word_frac == 0.6        # 2 distinct / 5 words
    assert rows[2].dup_word_frac == 0.0
    assert abs(rows[3].dup_2gram_frac - 2 / 3) < 1e-6  # 'go go' ×3 → 1
    assert rows[4].dup_word_frac == 0.0 and rows[4].dup_2gram_frac == 0.0


def test_pii_scrub_redacts_and_counts(spark):
    from ie_spark.operators.textstats import pii_scrub
    docs = spark.createDataFrame(
        [(1, "mail bob@example.com, ip 10.0.0.1, tel +1 (555) 123-4567"),
         (2, "nothing sensitive here")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].n_emails == 1 and rows[1].n_ipv4 == 1 \
        and rows[1].n_phones == 1
    assert "<EMAIL>" in rows[1].scrubbed and "<IP>" in rows[1].scrubbed \
        and "<PHONE>" in rows[1].scrubbed
    assert "bob@" not in rows[1].scrubbed and "555" not in rows[1].scrubbed
    assert rows[2].scrubbed == "nothing sensitive here"


def test_split_independent_of_sample(spark):
    # review: composing a 10% sample with a 5% split must still hold
    # out ~5% of the SAMPLE (salts decorrelate the two decisions)
    from pyspark.sql import functions as F
    from ie_spark.operators.sampling import split_assign, \
        stratified_sample
    docs = (spark.range(40000).withColumnRenamed("id", "doc_id")
            .withColumn("source", F.lit("web")))
    sample = stratified_sample(docs, {"web": 0.1})
    out = split_assign(sample, eval_rate=0.05)
    n = out.count()
    n_eval = out.filter(F.col("split") == "eval").count()
    assert 3500 < n < 4500
    assert 0.02 < n_eval / n < 0.09   # ~5%, NOT 50%


def test_rate_one_keeps_every_row():
    from ie_spark.operators.sampling import rate_threshold
    # 'g' sorts above every hex digit → strict < keeps all rows,
    # including the 2^-32 whose prefix is exactly 'ffffffff'
    assert rate_threshold(1.0) == "g"
    assert "ffffffff" < rate_threshold(1.0)
    assert rate_threshold(0.25) == "40000000"


def test_resize_plan_null_dims_pass_through(spark):
    from ie_spark.operators.multimodal import MEDIA_SCHEMA, resize_plan
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"x"), "application/x-image",
          None, None, None),
         (2, "image", bytearray(b"y"), "application/x-image",
          512, None, None)],
        MEDIA_SCHEMA)
    rows = {r.media_id: r for r in resize_plan(media, 256).collect()}
    # missing metadata → NULL plan, never a degenerate 1×1
    assert rows[1].new_width is None and rows[1].new_height is None \
        and rows[1].scale is None
    assert rows[2].new_width is None and rows[2].new_height is None


def test_pii_phone_does_not_eat_number_sequences(spark):
    from ie_spark.operators.textstats import pii_scrub
    docs = spark.createDataFrame(
        [(1, "scores were 10 20 30 40 50 in the test"),
         (2, "order1234567890x shipped"),
         (3, "call (555) 123-4567 or 555-123-4567 or 5551234567"),
         (4, "ring +44 20 7946 0958 or 020 7946 0958")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].scrubbed == "scores were 10 20 30 40 50 in the test"
    assert rows[2].scrubbed == "order1234567890x shipped"
    assert rows[3].n_phones == 3 and "555" not in rows[3].scrubbed
    assert rows[4].n_phones == 2 and "0958" not in rows[4].scrubbed


def test_lang_markers_globally_unique():
    """A marker shared between two language tables adds no discrimination
    and silently hands classification to the argmax tie-break — keep every
    marker in exactly one table."""
    from ie_spark.operators.textstats import LANG_MARKERS
    seen = {}
    for lang, markers in LANG_MARKERS.items():
        for w in markers:
            assert w not in seen, \
                f"marker {w!r} in both {seen[w]} and {lang}"
            assert w == w.lower().strip()
            seen[w] = lang
    assert len(LANG_MARKERS) >= 5


def test_lang_id_multi_classifies_planted_samples(spark):
    """Every planted known-language row classifies to its expected label —
    the discriminative half of the doc_lang_id_multi driver oracle."""
    from ie_spark.data.lang_samples import LANG_SAMPLES
    from ie_spark.operators.textstats import lang_id_multi
    df = spark.createDataFrame(
        list(LANG_SAMPLES), "sample_id string, expected string, text string")
    rows = df.select("sample_id", "expected",
                     lang_id_multi().alias("got")).collect()
    bad = [(r.sample_id, r.expected, r.got) for r in rows
           if r.expected != r.got]
    assert not bad, bad
    # all six language classes plus other/unk are exercised
    assert {r.expected for r in rows} == {
        "de", "en", "es", "fr", "it", "pt", "other", "unk"}


def test_line_dedup_planted_semantics(spark):
    """Boilerplate (cross-doc) lines drop; within-doc repetition stays;
    trim-variant lines collapse; boilerplate-only and blank docs come
    back as empty text with correct counts."""
    from ie_spark.data.line_samples import LINE_SAMPLES
    from ie_spark.operators.dedup import line_dedup
    df = spark.createDataFrame(list(LINE_SAMPLES),
                               "doc_id string, text string")
    got = {r.doc_id: r for r in line_dedup(df).collect()}
    assert len(got) == len(LINE_SAMPLES)
    # shared header/footer removed, body survives (incl. the
    # trim-variant header in ln_art_3)
    for i, body in [(1, "Alpha body paragraph about storage engines"),
                    (2, "Beta body paragraph about query planners"),
                    (3, "Gamma body paragraph about shuffle services")]:
        r = got[f"ln_art_{i}"]
        assert r.clean_text == body
        assert (r.n_lines, r.n_removed) == (3, 2)
    # a document that is ONLY boilerplate empties out
    assert got["ln_boiler_only"].clean_text == ""
    assert got["ln_boiler_only"].n_removed == 1
    # unique documents pass through untouched
    assert got["ln_unique"].clean_text == \
        "Delta document with no shared lines at all"
    assert got["ln_unique"].n_removed == 0
    # whitespace-only doc: zero non-empty lines, still one output row
    assert (got["ln_blank"].clean_text, got["ln_blank"].n_lines) == ("", 0)
    # within-document repetition is distinct-doc count 1 -> kept intact
    rep = got["ln_internal_rep"]
    assert rep.clean_text == ("Echo repeated internal line\n"
                              "Echo repeated internal line\n"
                              "Echo unique closing line")
    assert rep.n_removed == 0


def test_markup_strip_planted_semantics(spark):
    """Script/style/comments drop with content, tags become spaces,
    URLs redact AFTER tag removal (a URL inside an href dies with its
    tag), entities unescape with &amp; last."""
    from ie_spark.data.markup_samples import MARKUP_SAMPLES
    from ie_spark.operators.textstats import markup_strip
    df = spark.createDataFrame(list(MARKUP_SAMPLES),
                               "doc_id string, text string")
    got = {r.doc_id: r for r in markup_strip(df).collect()}
    assert got["mk_page"].clean_text == \
        "Spark notes Shuffle services Partial aggregation saves a full pass."
    # the style body ('color: red') died with its block
    assert "red" not in got["mk_page"].clean_text
    assert got["mk_script"].clean_text == "before after"
    assert got["mk_comment"].clean_text == "keep also keep"
    assert got["mk_url"].clean_text == "see <URL> and <URL> for details"
    assert got["mk_url"].n_urls == 2
    # &amp;lt; renders the LITERAL '&lt;' (amp unescapes last)
    assert got["mk_entities"].clean_text == \
        "a &lt; b <tag> \"quoted\" it's one space"
    assert got["mk_entities"].n_tags == 0
    # href URL is consumed by its tag; only the tail URL redacts
    assert got["mk_multi"].clean_text == "link text tail <URL>"
    assert got["mk_multi"].n_urls == 1
    assert (got["mk_plain"].clean_text, got["mk_empty"].clean_text) == \
        ("no markup here at all", "")
    # uppercase tags strip case-insensitively; uppercase scheme redacts
    assert got["mk_upper"].clean_text == "hello <URL>"
    # vertical tab collapses identically under Java regex and RE2
    # (explicit WS_CLASS, not \s)
    assert got["mk_vtab"].clean_text == "vertical tab and tab"


def test_vocab_df_counts_docs_not_occurrences(spark):
    from ie_spark.operators.textstats import vocab_document_frequency
    df = spark.createDataFrame(
        [("a", "spark spark shuffle"), ("b", "spark agg"),
         ("c", "agg agg"), ("d", "  ")],
        "doc_id string, text string")
    got = {r.word: r.df for r in vocab_document_frequency(df).collect()}
    # 'spark' appears 3x in doc a but counts once per doc
    assert got == {"spark": 2, "agg": 2}


def test_url_domain_stats_planted_semantics(spark):
    """Hosts fold case and a leading www., ports/paths stay out of the
    host, trailing sentence punctuation strips, subdomains do NOT
    collapse, the same domain twice in one doc counts n_urls=2 but
    n_docs=1, and URL-free rows contribute nothing."""
    from ie_spark.data.url_samples import URL_SAMPLES
    from ie_spark.operators.textstats import url_domain_stats
    df = spark.createDataFrame(list(URL_SAMPLES),
                               "doc_id string, text string")
    got = {r.domain: (r.n_urls, r.n_docs)
           for r in url_domain_stats(df).collect()}
    assert got == {
        "example.com": (3, 2),        # WWW. + trailing-dot + u_same_dom
        "api.example.com": (1, 1),    # subdomain kept, :8080 dropped
        "data.example.org": (2, 1),   # twice in ONE doc
        "mirror.test-site.net": (1, 1),
        "papers.acme.io": (1, 1),
    }


def test_pack_plan_layout_invariants(spark):
    """Every surviving doc gets a contiguous slot in its shard's token
    stream: offsets tile exactly (each doc starts where the previous one
    ended), sequence ids are consistent with capacity, and zero-token
    docs are dropped."""
    from ie_spark.operators.packing import pack_plan

    rows = [(i, " ".join(f"w{j}" for j in range(5 + (i * 7) % 40)))
            for i in range(40)]
    rows.append((90, ""))          # zero tokens -> dropped
    rows.append((91, "   "))       # blank -> dropped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_plan(docs, capacity=32, n_shards=4).collect()

    assert {r["doc_id"] for r in out} == set(range(40))
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        assert r["n_tokens"] == 5 + (r["doc_id"] * 7) % 40
        # contiguous layout within the shard stream
        assert r["start_off"] == by_shard.get(r["shard"], 0)
        by_shard[r["shard"]] = r["start_off"] + r["n_tokens"]
        assert r["first_seq"] == r["start_off"] // 32
        assert r["last_seq"] == (r["start_off"] + r["n_tokens"] - 1) // 32
        assert r["last_seq"] >= r["first_seq"]
    # multiple shards actually used (md5 routing, not all-in-one)
    assert len(by_shard) > 1


def test_pack_plan_stable_under_repartition(spark):
    """The layout is a pure function of (doc_id, text) — physical
    partitioning must not change any assignment."""
    from ie_spark.operators.packing import pack_plan

    rows = [(i, " ".join(f"t{j}" for j in range((i * 13) % 25 + 1)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, pack_plan(docs, capacity=64).collect()))
    b = sorted(map(tuple,
                   pack_plan(docs.repartition(13), capacity=64).collect()))
    assert a == b


def test_domain_mix_weights_sqrt_temperature(spark):
    """Hand case: strata of 100 / 400 docs -> sqrt weights 10/30 and
    20/30 exactly (1e6-scaled, integer div); token totals exact."""
    from ie_spark.operators.sampling import domain_mix_weights

    rows = [(i, "one two three", "small") for i in range(100)]
    rows += [(1000 + i, "one two", "large") for i in range(400)]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, source string")
    out = {r["stratum"]: r for r in
           domain_mix_weights(docs, strata_col="source").collect()}
    assert out["small"]["n_docs"] == 100
    assert out["small"]["n_tokens"] == 300
    assert out["large"]["n_tokens"] == 800
    # w_scaled: sqrt(100)*1e6 = 10_000_000, sqrt(400)*1e6 = 20_000_000
    assert out["small"]["weight_ppm"] == 10_000_000 * 10**6 // 30_000_000
    assert out["large"]["weight_ppm"] == 20_000_000 * 10**6 // 30_000_000
    # ppm normalization: never exceeds one million in total
    assert sum(r["weight_ppm"] for r in out.values()) <= 10**6


def test_pack_emit_tiles_sequences_and_documents(spark):
    """Segments must tile every training sequence to exactly its
    capacity (except each shard's final partial one) and every document
    to exactly its token count, with boundary-crossing docs split at
    multiples of the capacity."""
    from collections import defaultdict

    from ie_spark.operators.packing import pack_emit, pack_plan

    rows = [(i, " ".join(f"w{j}" for j in range(3 + (i * 11) % 50)))
            for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    segs = pack_emit(docs, capacity=64, n_shards=4).collect()
    plan = {r["doc_id"]: r for r in
            pack_plan(docs, capacity=64, n_shards=4).collect()}

    per_doc = defaultdict(int)
    per_seq = defaultdict(int)
    seq_cover = defaultdict(list)
    for s in segs:
        assert 0 <= s["seq_off"] < 64
        assert s["n_seg_tokens"] > 0
        per_doc[s["doc_id"]] += s["n_seg_tokens"]
        per_seq[(s["shard"], s["seq_id"])] += s["n_seg_tokens"]
        seq_cover[(s["shard"], s["seq_id"])].append(
            (s["seq_off"], s["n_seg_tokens"]))
    # documents tile exactly
    assert per_doc == {d: plan[d]["n_tokens"] for d in plan}
    # sequences tile exactly to capacity except the last one per shard
    last = {}
    for (shard, seq), _tok in per_seq.items():
        last[shard] = max(last.get(shard, -1), seq)
    for (shard, seq), tok in per_seq.items():
        if seq != last[shard]:
            assert tok == 64, (shard, seq, tok)
        # and the segments are contiguous from offset 0 (or the seq's
        # fill level if it is the partial tail)
        off = 0
        for seq_off, n in sorted(seq_cover[(shard, seq)]):
            assert seq_off == off
            off += n


def test_asof_join_strict_and_inclusive(spark):
    """Hand trace: strict takes the latest STRICTLY-earlier right row;
    inclusive may take the equal-timestamp one; keys never mix; a left
    row before any right row gets NULLs."""
    from ie_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k1", 5), (2, "k1", 10), (3, "k1", 20), (4, "k2", 10)],
        "event_id long, k string, ts long")
    right = spark.createDataFrame(
        [("k1", 10, 100.0), ("k1", 15, 200.0), ("k2", 30, 999.0)],
        "k string, ts long, v double")

    strict = {r["event_id"]: (r["r_ts"], r["r_v"]) for r in
              asof_join(left, right, ["k"], "ts", ["v"]).collect()}
    assert strict == {1: (None, None), 2: (None, None),
                      3: (15, 200.0), 4: (None, None)}

    incl = {r["event_id"]: (r["r_ts"], r["r_v"]) for r in
            asof_join(left, right, ["k"], "ts", ["v"],
                      strict=False).collect()}
    assert incl == {1: (None, None), 2: (10, 100.0),
                    3: (15, 200.0), 4: (None, None)}


def test_asof_join_matches_duckdb_native(spark):
    """The union+window formulation equals DuckDB's native ASOF LEFT
    JOIN on a randomized case (the driver oracle's exact shape)."""
    import random

    import duckdb

    from ie_spark.operators.temporal import asof_join

    rng = random.Random(3)
    lrows = [(i, f"k{rng.randint(0, 3)}", rng.randint(0, 50))
             for i in range(60)]
    rrows = sorted({(f"k{rng.randint(0, 3)}", rng.randint(0, 50))
                    for _ in range(25)})
    rrows = [(k, t, float(i)) for i, (k, t) in enumerate(rrows)]

    left = spark.createDataFrame(lrows, "event_id long, k string, ts long")
    right = spark.createDataFrame(rrows, "k string, ts long, v double")
    got = sorted((r["event_id"], r["r_ts"], r["r_v"]) for r in
                 asof_join(left, right, ["k"], "ts", ["v"]).collect())

    lv = ", ".join(f"({i}, '{k}', {t})" for i, k, t in lrows)
    rv = ", ".join(f"('{k}', {t}, {v})" for k, t, v in rrows)
    want = sorted((int(i), t, v) for i, t, v in duckdb.sql(f"""
        WITH l(event_id, k, ts) AS (VALUES {lv}),
             r(k, ts, v) AS (VALUES {rv})
        SELECT l.event_id, r.ts, r.v
        FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts > r.ts
    """).fetchall())
    assert got == want


def test_asof_join_single_shuffle(spark):
    """The as-of join must cost ONE hash exchange (the keyed window) —
    no range join, no nested loop, no per-row explosion."""
    from ie_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", 5)],
                                 "event_id long, k string, ts long")
    right = spark.createDataFrame([("k", 1, 1.0)],
                                  "k string, ts long, v double")
    plan = (asof_join(left, right, ["k"], "ts", ["v"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_interval_join_bruteforce_random(spark):
    """Bucketized overlap join equals the all-pairs brute force,
    including intervals spanning many buckets (no duplicate pairs from
    multi-bucket co-occupancy) and bucket-boundary touches."""
    import random as _r

    from ie_spark.operators.temporal import interval_join

    rng = _r.Random(11)
    ls, rs = [], []
    for i in range(40):
        a = rng.randint(0, 500)
        ls.append((i, a, a + rng.randint(0, 120)))   # up to 2 min long
    for j in range(30):
        a = rng.randint(0, 500)
        rs.append((100 + j, a, a + rng.randint(0, 240)))

    def ts(x):
        return f"2024-01-01 00:{x // 60:02d}:{x % 60:02d}"

    left = spark.createDataFrame(
        [(i, ts(a), ts(b)) for i, a, b in ls],
        "l_id long, l_start string, l_end string").select(
        "l_id", F.col("l_start").cast("timestamp_ntz").alias("l_start"),
        F.col("l_end").cast("timestamp_ntz").alias("l_end"))
    right = spark.createDataFrame(
        [(j, ts(a), ts(b)) for j, a, b in rs],
        "r_id long, r_start string, r_end string").select(
        "r_id", F.col("r_start").cast("timestamp_ntz").alias("r_start"),
        F.col("r_end").cast("timestamp_ntz").alias("r_end"))

    # 1-minute buckets: most intervals span several
    got = sorted((r["l_id"], r["r_id"]) for r in
                 interval_join(left, right, "l_start", "l_end",
                               "r_start", "r_end",
                               bucket_us=60_000_000).collect())
    want = sorted((i, j) for i, la, lb in ls for j, ra, rb in rs
                  if la <= rb and ra <= lb)
    assert got == want
    assert len(got) == len(set(got))  # no duplicated pairs


def test_interval_join_no_nested_loop(spark):
    """The whole point: Spark must NOT plan a nested-loop range join —
    candidates come from an equi-join on the bucket id."""
    from ie_spark.operators.temporal import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "l_id long, l_start string, l_end string").select(
        "l_id", F.col("l_start").cast("timestamp_ntz").alias("l_start"),
        F.col("l_end").cast("timestamp_ntz").alias("l_end"))
    right = spark.createDataFrame(
        [(2, "2024-01-01 00:30:00", "2024-01-01 02:00:00")],
        "r_id long, r_start string, r_end string").select(
        "r_id", F.col("r_start").cast("timestamp_ntz").alias("r_start"),
        F.col("r_end").cast("timestamp_ntz").alias("r_end"))
    df = interval_join(left, right, "l_start", "l_end",
                       "r_start", "r_end")
    assert [(r["l_id"], r["r_id"]) for r in df.collect()] == [(1, 2)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_join_null_payload_stays_with_matched_row(spark):
    """The matched right row's NULL value must come through as NULL —
    NOT an older row's value (the struct-through-the-window contract;
    per-column last(ignorenulls) would mix rows).  Verified against
    DuckDB's native ASOF JOIN."""
    import duckdb

    from ie_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", 3)],
                                 "event_id long, k string, ts long")
    right = spark.createDataFrame([("k", 1, 5.0), ("k", 2, None)],
                                  "k string, ts long, v double")
    got = [(r["r_ts"], r["r_v"]) for r in
           asof_join(left, right, ["k"], "ts", ["v"]).collect()]
    want = duckdb.sql("""
        WITH l(event_id, k, ts) AS (VALUES (1, 'k', 3)),
             r(k, ts, v) AS (VALUES ('k', 1, 5.0), ('k', 2, NULL))
        SELECT r.ts, r.v FROM l ASOF LEFT JOIN r
        ON l.k = r.k AND l.ts > r.ts
    """).fetchall()
    assert got == [(2, None)]
    assert got == [(t, v if v is None else float(v)) for t, v in want]


def test_asof_join_edge_cases(spark):
    """Empty right side -> all-NULL payloads; empty left -> empty out;
    NON-empty right whose rows are all at/after the left timestamps ->
    NULLs under strict semantics (a same-ts payload leaking through
    would mean the sort-side bit regressed), never a crash."""
    from ie_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", 5), (2, "j", 7)],
                                 "event_id long, k string, ts long")
    empty_r = spark.createDataFrame([], "k string, ts long, v double")
    out = {r["event_id"]: (r["r_ts"], r["r_v"]) for r in
           asof_join(left, empty_r, ["k"], "ts", ["v"]).collect()}
    assert out == {1: (None, None), 2: (None, None)}

    empty_l = spark.createDataFrame([], "event_id long, k string, ts long")
    right = spark.createDataFrame([("k", 1, 1.0)],
                                  "k string, ts long, v double")
    assert asof_join(empty_l, right, ["k"], "ts", ["v"]).count() == 0

    # history entirely at/after the left rows: ("k", 5) is EXACTLY the
    # left timestamp — strict must not see it, inclusive must
    late_r = spark.createDataFrame([("k", 5, 9.0), ("k", 6, 8.0),
                                    ("j", 8, 7.0)],
                                   "k string, ts long, v double")
    strict = {r["event_id"]: (r["r_ts"], r["r_v"]) for r in
              asof_join(left, late_r, ["k"], "ts", ["v"]).collect()}
    assert strict == {1: (None, None), 2: (None, None)}
    incl = {r["event_id"]: (r["r_ts"], r["r_v"]) for r in
            asof_join(left, late_r, ["k"], "ts", ["v"],
                      strict=False).collect()}
    assert incl == {1: (5, 9.0), 2: (None, None)}


def test_interval_join_touching_and_degenerate(spark):
    """CLOSED-interval semantics at the boundaries: touching endpoints
    (l_end == r_start) DO overlap; zero-length (point) intervals join
    iff the point lies inside the other interval; bucket-boundary
    points (exactly on a bucket edge) are not lost or doubled."""
    from pyspark.sql import functions as F2

    from ie_spark.operators.temporal import interval_join

    def mk(rows, p):
        return spark.createDataFrame(
            rows, f"{p}_id long, {p}_start string, {p}_end string").select(
            f"{p}_id",
            F2.col(f"{p}_start").cast("timestamp_ntz").alias(f"{p}_start"),
            F2.col(f"{p}_end").cast("timestamp_ntz").alias(f"{p}_end"))

    left = mk([(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
               (2, "2024-01-01 02:00:00", "2024-01-01 02:00:00")], "l")
    right = mk([(10, "2024-01-01 01:00:00", "2024-01-01 01:30:00"),
                (11, "2024-01-01 01:59:00", "2024-01-01 02:00:00"),
                (12, "2024-01-01 02:00:01", "2024-01-01 03:00:00")], "r")
    got = sorted((r["l_id"], r["r_id"]) for r in
                 interval_join(left, right, "l_start", "l_end",
                               "r_start", "r_end").collect())
    # 1-10: touch at 01:00 (l_end == r_start, also a bucket edge);
    # 2-11: point 02:00 == r_end; 2-12 does NOT overlap (point < start)
    assert got == [(1, 10), (2, 11)]
