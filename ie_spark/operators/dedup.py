"""Deduplication operators for large-scale training-data pipelines.

Operators are native DataFrame ops (explode / groupBy / join) so Catalyst
plans them.  The one Python pass is the Arrow ``mapInPandas`` in
``_minhash_arrow_frame``: hashed word n-grams, MinHash signature and LSH
band hashes in numpy, materialized once by ``shingle_frame`` and shared by
the MinHash and n-gram Jaccard pipelines.  Each operator is designed so
the shuffle key is the *blocking* key (shingle hash / band hash / SimHash
chunk), never the raw document — at 100 TB the widest thing shuffled is
(key, doc_id) pairs.

The reference's only dedup is a content-hash check before archiving
(marbles/aws/__init__.py:115-136 ``check_hash_exists``); exact_dedup_ids is
its distributed equivalent, the rest are the standard corpus-dedup ladder
(MinHash-LSH / SimHash / n-gram Jaccard) a transcript corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_ids(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Keep the lowest id per exact text → surviving ids (doc_id).

    Window on the text hash: the shuffle moves (hash, id) projections only.
    """
    w = Window.partitionBy(text_col).orderBy(id_col)
    return (docs.select(id_col, text_col)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col))


# ---------------------------------------------------------------------------
# Word n-gram shingles (shared by MinHash and Jaccard)
# ---------------------------------------------------------------------------


def gram_array(words, n: int):
    """Word n-gram column over a word-array column: zip_with over shifted
    slices.  Collection arguments of a higher-order function evaluate ONCE
    per row; the earlier transform+element_at formulation re-evaluated the
    word array per element (no common-subexpression elimination in
    interpreted HOFs) — ~10× slower.  Shared by with_shingles /
    winnow_fingerprint / repetition_stats.  Caller must guard
    ``size(words) - (n-1) > 0`` before consuming the result."""
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, F.greatest(k, F.lit(1)))
    for j in range(1, n):
        grams = F.zip_with(grams,
                           F.slice(words, j + 1, F.greatest(k, F.lit(1))),
                           lambda a, b: F.concat_ws(" ", a, b))
    return grams


def with_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingle array per doc, all JVM-side:
    split → slide window over shifted slices → concat_ws (gram_array)."""
    words = F.col("__w")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    from ie_spark.operators.textstats import RE2_WS
    return (docs
            .withColumn("__w", F.split(F.trim(F.lower(F.col(text_col))),
                                       RE2_WS + "+"))
            .withColumn(
                out_col,
                F.when(k > 0, F.array_distinct(gram_array(words, n)))
                .otherwise(F.array().cast("array<string>")))
            .drop("__w"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.3,
                        max_df: int | None = None, id_col: str = "doc_id",
                        text_col: str = "text",
                        hashed: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    Shape: explode (carrying the doc's full shingle count) → self-join on
    the 64-bit shingle hash → ONE per-pair map-side-combined aggregation
    producing |intersection| AND both set sizes (the sizes are constant
    within a pair group, so min() recovers them) — the two narrow size
    joins this replaces were two extra shuffle stages whose plan compile
    dominated the cold wall at small SF.  Only (hash, id, n_g) rows are
    shuffled — never the shingle arrays.

    ``hashed`` optionally supplies a precomputed, already-materialized
    (id, sh_h) frame from the same Arrow pass the minhash pipeline uses
    (see ``shingle_frame``) so a session running both pipelines shingles
    the corpus once.

    ``max_df`` is the scale guard: a boilerplate shingle shared by 10^6
    docs would create a 10^12-pair block (quadratic in the block size).
    Shingles with document frequency > max_df are dropped AS JOIN KEYS
    (the hot set is tiny by construction — bounded by n_shingles/max_df —
    and broadcast into an anti-join).  With no shingle above the cap the
    result is bit-identical to the uncapped computation; under an active
    cap, a pair's shared-count (hence score) reflects its sub-hot shingles
    — touching the hot pairs' exact counts would BE the quadratic block
    the cap exists to avoid.  This is the standard recall trade of
    frequency-capped blocking (cf. max_df in sklearn/dedup literature).
    """
    # hashed shingles via the same single Arrow pass the minhash pipeline
    # uses (bands=0 → shingles only): identical distinct-gram sets on
    # every generator-producible input (the two tokenizers differ only
    # on exotic whitespace — see the note inside the pass), and
    # Jaccard over hashes equals Jaccard over grams modulo 64-bit
    # collisions — the expression path (with_shingles) remains the
    # documented JVM alternative
    if hashed is None:
        hashed = shingle_frame(docs, n=n, num_hashes=0, bands=0,
                               id_col=id_col, text_col=text_col)
    else:
        _check_frame_params(hashed, n=n)
    d = hashed.select(id_col, F.col("sh_h").alias("shingles"))
    # n_g BEFORE the hot-shingle cap: Jaccard denominators use full set
    # sizes even when a hot shingle is dropped as a join key (documented
    # recall trade above) — identical to the former separate size joins
    ex = (d.select(id_col, F.size("shingles").alias("n_g"),
                   F.explode("shingles").alias("gh")))
    if max_df is not None:
        hot = (ex.groupBy("gh").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("gh"))
        ex = ex.join(F.broadcast(hot), "gh", "left_anti")
    pairs = (ex.alias("a").join(ex.alias("b"),
                                (F.col("a.gh") == F.col("b.gh"))
                                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("shared"),
                  F.min(F.col("a.n_g")).alias("n_a"),
                  F.min(F.col("b.n_g")).alias("n_b")))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (pairs
            .filter(jac >= threshold)
            .select("id_a", "id_b", "shared",
                    F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def jaccard_verify(pairs: DataFrame, shingled: DataFrame,
                   threshold: float = 0.8, id_col: str = "doc_id",
                   shingle_col: str = "shingles") -> DataFrame:
    """Exact Jaccard on candidate pairs via array_intersect/union sizes."""
    s = shingled.select(F.col(id_col), F.col(shingle_col))
    j = (pairs
         .join(s.withColumnRenamed(id_col, "id_a")
                .withColumnRenamed(shingle_col, "sh_a"), "id_a")
         .join(s.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed(shingle_col, "sh_b"), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (j.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _splitmix64(x):
    """Vectorized splitmix64 finalizer over numpy uint64 (wraps, unlike
    Spark's ANSI long arithmetic which THROWS on overflow — the reason an
    expression-side multiply-mix family was impossible)."""
    import numpy as np
    z = (x + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_arrow_frame(docs: DataFrame, n: int, num_hashes: int,
                         bands: int, id_col: str, text_col: str) -> DataFrame:
    """ONE Arrow ``mapInPandas`` pass → (id, sh_h array<long>,
    bh array<long>[bands]): hashed distinct word n-grams, MinHash
    signature, and per-band bucket hashes, all computed batch-vectorized
    in numpy.  ``bands=0`` yields shingles only (empty ``bh``).

    One trivial plan instead of an expression pipeline (HOF shingle
    chain + 64 min() aggregates + 16 band-hash structs), whose three plan
    shapes cost ~6 s of plan analysis/compile per Spark session at sf0.1.
    The numpy math is deterministic (pandas siphash base + splitmix64
    slot derivation — a measurably STRONG family; the exact-Jaccard
    DuckDB oracle of ``doc_minhash_dedup`` gates its banding recall).
    Scale shape: narrow output, shuffle keys are band hashes, Python cost
    is Arrow-batched.  A small input that arrives as one or a few file
    splits is fanned out by ``partitioning.adaptive_fan_out``."""
    import numpy as np
    import pandas as pd

    rows_per_band = num_hashes // bands if bands else 0
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, sh_h array<long>, bh array<long>"
    seeds = (_splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64)
                         * np.uint64(0x9E3779B97F4A7C15))
             if bands else None)

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].tolist()
            grams_per_doc = []
            for text in pdf[text_col].tolist():
                # tokenizer note: str.split() splits on a SUPERSET of the
                # RE2 \s the SQL oracles use (adds \x0b, \x1c-\x1f,
                # \x85, \xa0 and all Unicode spaces) — identical on
                # every input this corpus generator can produce; see the
                # whitespace-class note in operators/textstats.py
                w = (text or "").lower().split()
                grams_per_doc.append(list(dict.fromkeys(
                    " ".join(w[i:i + n]) for i in range(len(w) - n + 1))))
            counts = np.fromiter((len(g) for g in grams_per_doc),
                                 dtype=np.int64, count=len(grams_per_doc))
            flat = [g for gs in grams_per_doc for g in gs]
            if flat:
                base = pd.util.hash_pandas_object(
                    pd.Series(flat), index=False).to_numpy(np.uint64)
            else:
                base = np.empty(0, dtype=np.uint64)
            offsets = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            sh_col, bh_col = [], []
            signed = base.view(np.int64)
            nonempty = counts > 0
            # (num_hashes, n_shingles) slot derivation, min per NONEMPTY
            # doc segment — reduceat rejects an offset == len(base), which
            # is exactly what a trailing shingle-less doc ('ok', empty
            # turn) produces; empty docs are excluded from the offset
            # list and ranked back below (review r4 finding #1)
            ne_rank = np.cumsum(nonempty) - 1
            if base.size and bands:
                mixed = _splitmix64(base[None, :] ^ seeds[:, None])
                mins = np.minimum.reduceat(mixed, offsets[nonempty],
                                           axis=1)
            for d in range(len(ids)):
                if not nonempty[d]:
                    sh_col.append([])
                    bh_col.append([])
                    continue
                o = offsets[d]
                sh_col.append(signed[o:o + counts[d]].tolist())
                if not bands:
                    bh_col.append([])
                    continue
                sig = mins[:, ne_rank[d]]
                bh = sig[:bands * rows_per_band].reshape(bands,
                                                         rows_per_band)
                acc = _splitmix64(bh[:, 0])
                for r in range(1, rows_per_band):
                    acc = _splitmix64(acc ^ bh[:, r])
                bh_col.append(acc.view(np.int64).tolist())
            yield pd.DataFrame({id_col: ids, "sh_h": sh_col,
                                "bh": bh_col})

    from ie_spark.operators.partitioning import adaptive_fan_out
    src = adaptive_fan_out(docs.select(id_col, text_col))
    return src.mapInPandas(gen, schema=schema)


def shingle_frame(docs: DataFrame, n: int = 3, num_hashes: int = 64,
                  bands: int = 16, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Materialized (id, sh_h, bh) frame from the single Arrow
    shingle+minhash+band pass — the shareable input of BOTH the minhash
    pipeline (sh_h + bh) and the n-gram Jaccard pipeline (sh_h only;
    Jaccard ignores bh, so one frame serves both).  A session running the
    whole dedup ladder should compute this once and pass it to
    ``minhash_lsh_dedup(base=...)`` and ``ngram_jaccard_pairs(hashed=...)``
    — shingling the corpus is the dominant shared cost, and localCheckpoint
    pins it to cluster storage, not the driver.

    Partitioning: the Arrow pass fans out by the one scan policy
    (``partitioning.adaptive_fan_out``), but the CHECKPOINTED frame is
    narrow (three columns of hashes) and every downstream stage launches
    one task per checkpoint partition — at small corpus sizes task
    overhead dominated the dedup queries' wall (measured 6–7.6 s → ~3 s
    at sf0.1).  So a frame fanned past twice the source's own partition
    count (floor 8) is shuffled back down to it before checkpointing; at
    scale the source partitioning exceeds the fan-out and both
    repartitions are no-ops."""
    frame = _minhash_arrow_frame(docs, n=n, num_hashes=num_hashes,
                                 bands=bands, id_col=id_col,
                                 text_col=text_col)
    target = max(8, docs.rdd.getNumPartitions())
    if frame.rdd.getNumPartitions() > 2 * target:
        frame = frame.repartition(target)
    out = frame.localCheckpoint()
    # stamp the build parameters so a consumer passing mismatched n /
    # num_hashes / bands fails loudly instead of silently computing with
    # the wrong shingle width or band count.  FRAGILE BY DESIGN (advice
    # r05): the stamp is a plain Python attribute, so ANY DataFrame
    # transformation returns a new, unstamped object and the guard
    # degrades to trust-the-caller.  Pass the frame returned here
    # verbatim; do not derive from it before handing it to consumers.
    out._shingle_params = (n, num_hashes, bands)  # noqa: SLF001
    return out


def _check_frame_params(frame, *, n=None, num_hashes=None,
                        bands=None) -> None:
    got = getattr(frame, "_shingle_params", None)
    if got is None:
        return  # caller-built frame without a stamp — trusted as-is
    # only the explicitly-requested parameters are compared; bands/hashes
    # are irrelevant to a Jaccard consumer (it reads sh_h only)
    if n is not None and got[0] != n:
        raise ValueError(
            f"shingle frame built with n={got[0]}, consumer wants n={n}")
    if num_hashes is not None and got[1] != num_hashes:
        raise ValueError(f"shingle frame built with num_hashes={got[1]}, "
                         f"consumer wants {num_hashes}")
    if bands is not None and got[2] != bands:
        raise ValueError(f"shingle frame built with bands={got[2]}, "
                         f"consumer wants {bands}")


def minhash_lsh_dedup(docs: DataFrame, n: int = 3, num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.8,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket: int | None = None,
                      base: DataFrame | None = None) -> DataFrame:
    """Full near-dup pipeline → surviving ids: the minimum id of each
    connected component of the verified near-dup graph, so a chain
    a–b–c whose ends miss the threshold still collapses to one survivor
    (the exact transitive closure the DuckDB oracle computes).

    shingle+minhash+band (one Arrow pass, ``shingle_frame``) →
    band-bucket self-join → exact-Jaccard verify →
    ``connected_components_star`` over the verified pairs.  ``base``
    optionally supplies the materialized ``shingle_frame`` so it can be
    shared across the dedup ladder.

    ``max_bucket`` drops band buckets holding more than that many docs
    before the self-join (a 10^6-doc boilerplate bucket is a 10^12-pair
    quadratic block).  Docs in an oversized bucket almost always share
    other, smaller buckets (16 bands); the verify stage is unaffected."""
    if base is None:
        base = shingle_frame(docs, n=n, num_hashes=num_hashes, bands=bands,
                             id_col=id_col, text_col=text_col)
    else:
        _check_frame_params(base, n=n, num_hashes=num_hashes, bands=bands)
    banded = base.select(
        id_col, F.posexplode("bh").alias("band", "bhv"))
    if max_bucket is not None:
        hot = (banded.groupBy("band", "bhv").agg(F.count("*").alias("cnt"))
               .filter(F.col("cnt") > max_bucket).select("band", "bhv"))
        banded = banded.join(F.broadcast(hot), ["band", "bhv"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, [F.col("a.band") == F.col("b.band"),
                        F.col("a.bhv") == F.col("b.bhv"),
                        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())
    dups = jaccard_verify(cands, base, threshold=threshold, id_col=id_col,
                          shingle_col="sh_h")
    from ie_spark.pipeline.canonicalize import connected_components_star
    labels = connected_components_star(
        dups.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    victims = (labels.filter(F.col("node") != F.col("component"))
               .select(F.col("node").alias(id_col)))
    return docs.select(id_col).distinct().join(victims, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash (64-bit, expression-only — deterministic across executors, unlike
# Python hash() which varies with PYTHONHASHSEED)
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text",
            out_col: str = "simhash", hash_fn: str = "xxhash64") -> DataFrame:
    """Deterministic 64-bit SimHash — expression-only (no UDF, no Python
    ``hash``): per word xxhash64, ±1 vote per bit, sign → bit.

    The word-hash array is bound to a REAL column first: each of the 63
    per-bit aggregates references the bound attribute, so the tokenize +
    xxhash64 work happens once per row — an aggregate over the raw
    ``transform(words, xxhash64)`` expression re-evaluates it per aggregate
    (interpreted HOFs do no common-subexpression elimination).

    ``hash_fn='md5'`` swaps the per-word hash for the first 60 bits of
    md5 — identical blocking math, but reproducible in DuckDB (xxhash64 is
    Spark-only), which is what makes the driver oracle for
    ``doc_simhash_pairs`` possible.  xxhash64 stays the default scale path
    (one 64-bit mix vs a full digest per word)."""
    from ie_spark.operators.textstats import RE2_WS
    words = F.array_distinct(
        F.split(F.trim(F.lower(F.col(text_col))), RE2_WS + "+"))
    if hash_fn == "md5":
        word_hash = lambda w: F.conv(  # noqa: E731
            F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    else:
        word_hash = F.xxhash64
    bound = docs.withColumn("__simhash_wh",
                            F.transform(words, lambda w: word_hash(w)))
    hashes = F.col("__simhash_wh")

    def bit(h, i):
        return F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1))

    def merge_at(i):
        return lambda acc, h: acc + (bit(h, i) * 2 - 1)

    sim = F.lit(0).cast("long")
    for i in range(63):  # 63 bits keeps the result positive
        vote = F.aggregate(hashes, F.lit(0).cast("long"), merge_at(i))
        sim = sim + F.when(vote > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return (bound.withColumn(
                out_col, F.when(F.size(hashes) > 0, sim).otherwise(F.lit(0)))
            .drop("__simhash_wh"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 × 16-bit chunks (a pair within
    hamming ≤ 3 shares at least one exact chunk — pigeonhole), verify with
    bit_count(xor) ≤ max_hamming."""
    h = simhash(docs, text_col=text_col,
                hash_fn=hash_fn).select(id_col, "simhash")
    chunks = h.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftrightunsigned("simhash", c * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("ck"))
            for c in range(4)
        ])).alias("e")).select(id_col, "simhash", "e.chunk", "e.ck")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (a.join(b, [F.col("a.chunk") == F.col("b.chunk"),
                        F.col("a.ck") == F.col("b.ck"),
                        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.simhash").alias("h_a"),
                     F.col("b.simhash").alias("h_b"))
             .distinct())
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        block_bits: int = 0) -> DataFrame:
    """Pairs with cosine ≥ threshold.  block_bits=0 → exact O(n²) compare
    (small corpora / verification); block_bits=k → random-hyperplane LSH
    prefilter (scale path): only pairs agreeing on all k sign bits are
    compared, turning the self-join into an equi-join on the sketch."""
    # scale-adaptive fan-out (guide §2.5): a single-row-group embeddings
    # file arrives as ONE scan partition, serializing the sketch/norm
    # computation and the join map side on one core; no-op at cluster scale
    from ie_spark.operators.partitioning import adaptive_fan_out
    emb = adaptive_fan_out(emb, id_col)
    normed = emb.select(
        F.col(id_col), F.col(vec_col),
        F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                           lambda a, x: a + x.cast("double") * x.cast("double")))
        .alias("norm"))
    if block_bits:
        from ie_spark.operators.similarity import hyperplane_sketch
        normed = normed.withColumn(
            "sketch", hyperplane_sketch(F.col(vec_col), block_bits))
        cond = [F.col("a.sketch") == F.col("b.sketch"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    else:
        cond = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    a, b = normed.alias("a"), normed.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return (a.join(b, cond)
            .withColumn("cosine", dot / (F.col("a.norm") * F.col("b.norm")))
            .filter(F.col("cosine") >= threshold)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.round("cosine", 6).alias("cosine")))


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_docs: int = 2) -> DataFrame:
    """Corpus-level repeated-line removal (the RefinedWeb/CCNet
    boilerplate pass): a trimmed non-empty line that occurs in at least
    ``min_docs`` DISTINCT documents is boilerplate (headers, footers,
    cookie banners, nav text) and is dropped from every document; each
    document's surviving lines are re-joined in original order.

    Returns one row per input document:
    ``(id, clean_text, n_lines, n_removed)`` — ``n_lines`` counts the
    trimmed non-empty lines before removal; documents whose every line
    was boilerplate (or that had no non-empty lines) come back with
    ``clean_text = ''``.

    Scale shape: two shuffles, both on the 64-bit line hash or the doc
    id — (1) ``groupBy(hash).agg(countDistinct(id))`` with partial
    aggregation to find the hot set, (2) the join-back + per-doc
    rebuild.  The hot set is NOT force-broadcast: with ``min_docs``
    scaled to the corpus (a fraction of documents, the production
    setting — the absolute default of 2 is for small test corpora) it
    is small and AQE picks a broadcast join on its own; a windowed
    ``collect_set`` alternative would hold one entry per occurrence of
    a mega-hot line in executor memory and is exactly what this shape
    avoids.  Within-document repetition (distinct-doc count 1) is NOT
    removed — that signal belongs to the Gopher-style repetition
    metrics in ``textstats.repetition_stats``.
    """
    lines = (docs
             .select(F.col(id_col),
                     F.posexplode(F.split(F.col(text_col), "\n"))
                     .alias("pos", "line"))
             .withColumn("line", F.trim("line"))
             .where(F.col("line") != "")
             .withColumn("h", F.xxhash64("line")))
    # both the hot-set aggregation and the join-back probe consume
    # `lines`; without a checkpoint Spark re-runs the scan+explode for
    # each branch (no ReusedExchange — the two exchanges have different
    # children).  Lazy local checkpoint = one extraction pass.
    lines = lines.localCheckpoint(eager=False)
    hot = (lines.groupBy("h")
           .agg(F.countDistinct(id_col).alias("nd"))
           .where(F.col("nd") >= min_docs)
           .select("h", F.lit(True).alias("is_hot")))
    flagged = (lines.join(hot, "h", "left")
               .withColumn("is_hot", F.coalesce("is_hot", F.lit(False))))
    rebuilt = (flagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
        F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(F.when(
                ~F.col("is_hot"),
                F.struct(F.col("pos"), F.col("line"))))),
            lambda s: s.line)).alias("clean_text")))
    return (docs.select(F.col(id_col))
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_lines", F.lit(0)).cast("long")
                    .alias("n_lines"),
                    F.coalesce("n_removed", F.lit(0)).cast("long")
                    .alias("n_removed")))
