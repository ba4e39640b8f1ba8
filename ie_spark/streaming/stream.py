"""Structured Streaming ingestion of transcript turns.

The reference's streaming story is an SQS long-poll consumer with
at-least-once delivery and content-hash dedup
(``marbles/aws/__init__.py:257-365``).  Spark-native equivalent:

  readStream(file/kafka source, transcript schema)
    → extraction (same mapInPandas as batch — code shared)
    → foreachBatch: idempotent merge into the triples table
         (MERGE INTO on (conv_id, turn_idx, sent_idx, subj, pred, obj) —
          exactly-once effect on top of at-least-once delivery)
    → watermark on ts bounds state for any windowed aggregation

There are no watermarks/windows in the reference (no stateful ops); the
windowed turn-rate aggregation below is the health-metric stream a
production pipeline adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ie_spark.pipeline.extract import (TRANSCRIPT_SCHEMA, TRIPLE_KEYS,
                                       extract_triples)
from ie_spark.pipeline.graph import merge_upsert


def read_transcript_stream(spark: SparkSession, src_dir: str,
                           max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of transcript parquet drops (swap for Kafka/Iceberg
    incremental reads in production; schema contract is identical)."""
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src_dir))


def start_extraction_stream(spark: SparkSession, src_dir: str,
                            triples_path: str, checkpoint_dir: str):
    """Stream: new transcript files → triples, idempotent per micro-batch.

    foreachBatch + merge_upsert = exactly-once table effect even when the
    source redelivers (the reference's hash-dedup semantics)."""
    stream = read_transcript_stream(spark, src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        triples = extract_triples(batch_df)
        merge_upsert(spark, triples, triples_path, keys=TRIPLE_KEYS)

    return (stream.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


DRS_KEYS = ["conv_id", "turn_idx", "sent_idx"]


def start_drs_stream(spark: SparkSession, src_dir: str,
                     drs_path: str, checkpoint_dir: str,
                     verbnet: bool = False):
    """Stream: new transcript files → linear-DRS/FOL rows, idempotent per
    micro-batch (round-3 verdict "Next round" #10).  Reuses the batch
    ``extract_drs_df`` mapInPandas pass inside ``foreachBatch`` with the
    same (conv_id, turn_idx, sent_idx) merge identity — one DRS row per
    sentence, so redelivered files merge to the batch result exactly as
    the triples stream does."""
    from ie_spark.extraction.drs import extract_drs_df

    stream = read_transcript_stream(spark, src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = extract_drs_df(batch_df, verbnet=verbnet)
        merge_upsert(spark, rows, drs_path, keys=DRS_KEYS)

    return (stream.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def deduped_turn_stream(stream_df: DataFrame,
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup of redelivered turns: state-store-backed
    ``dropDuplicatesWithinWatermark`` on the natural key — the streaming
    face of the reference's content-hash skip (at-least-once source →
    effectively-once rows), with the watermark bounding dedup state so a
    10^12-turn stream never accumulates unbounded keys."""
    return (stream_df.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))


def conversation_state_stream(spark: SparkSession, src_dir: str,
                              idle_timeout_ms: int = 0):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    tracks per-conversation running state (turn count, first/last event
    time) across micro-batches and emits one updated summary row per
    conversation per batch.  This is the Structured-Streaming shape for
    any per-conversation accumulation the batch pipeline can't express
    (e.g. incremental coreference state at 10^12-turn scale).

    State: (n_turns:int, first_ts:long, last_ts:long) per conv_id.
    ``idle_timeout_ms > 0`` enables processing-time state eviction for
    long-running continuous queries; leave 0 for availableNow/batch-drain
    runs (a pending processing-time timer forces extra empty micro-batches
    under availableNow, observed empirically)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_transcript_stream(spark, src_dir)

    output_schema = ("conv_id string, n_turns long, "
                     "first_ts timestamp, last_ts timestamp")
    state_schema = "n long, first_us long, last_us long"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # idle conversation: evict state, emit nothing
            state.remove()
            return
        n, first_us, last_us = (state.get if state.exists else (0, None, None))
        saw_rows = False
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            saw_rows = True
            ts_us = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
            n += len(pdf)
            mn, mx = int(ts_us.min()), int(ts_us.max())
            first_us = mn if first_us is None else min(first_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
        if not saw_rows:
            return
        state.update((n, first_us, last_us))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "n_turns": [n],
            "first_ts": [pd.Timestamp(first_us * 1000)],
            "last_ts": [pd.Timestamp(last_us * 1000)],
        })

    return (stream
            .select("conv_id", "turn_idx", "ts")
            .groupBy("conv_id")
            .applyInPandasWithState(
                update,
                outputStructType=output_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                             if idle_timeout_ms > 0
                             else GroupStateTimeout.NoTimeout)))


def coref_state_stream(spark: SparkSession, src_dir: str,
                       lookback_turns: int = 10,
                       idle_timeout_ms: int = 0):
    """Streaming pronoun coreference via ``applyInPandasWithState``: the
    per-conversation antecedent window (the batch operator's
    ``lookback_turns`` bound, pipeline/coref.py) IS the streaming state —
    a bounded list of recent propername/entity mentions per conv_id, so
    a 10^12-turn stream holds O(window × names) state per conversation,
    never the history.

    Semantics contract (tested): over in-order micro-batches the emitted
    rows equal the BATCH ``resolve_pronouns`` output on the same corpus —
    same kind-aware antecedent filter (person pronouns → propernames,
    it/this → entity mentions), same nearest-antecedent recency order,
    same lexicographic tie-break, same NULL row for window misses.

    ``idle_timeout_ms > 0`` evicts a conversation's antecedent state
    after idleness (ProcessingTimeTimeout) — REQUIRED for continuous
    runs, where ever-new conv_ids would otherwise accumulate state rows
    forever; leave 0 for availableNow/batch-drain runs (same caveat as
    conversation_state_stream)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ie_spark.extraction.extractor import extract_turn
    from ie_spark.pipeline.coref import IMPERSONAL_PRONOUNS, PERSON_PRONOUNS

    tracked = frozenset(PERSON_PRONOUNS + IMPERSONAL_PRONOUNS)
    person = frozenset(PERSON_PRONOUNS)

    stream = read_transcript_stream(spark, src_dir)
    output_schema = ("conv_id string, turn_idx int, sent_idx int, "
                     "pronoun string, antecedent string, "
                     "ant_turn int, ant_sent int")
    state_schema = ("turns array<int>, sents array<int>, "
                    "kinds array<string>, stems array<string>")

    def update(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            state.remove()  # idle conversation: drop its window
            return
        if state.exists:
            t, s, k, st = state.get
            ants = list(zip(t, s, k, st))
        else:
            ants = []
        turns: list[tuple[int, str]] = []
        for pdf in pdfs:
            for turn_idx, text in zip(pdf["turn_idx"], pdf["text"]):
                turns.append((int(turn_idx), text or ""))
        if not turns:
            return
        turns.sort()
        out = []
        max_turn = max(t for t, _ in turns)
        for turn_idx, text in turns:
            per_sent: dict[int, list] = {}
            try:
                ms, _ts = extract_turn(text)
            except Exception as e:  # noqa: BLE001 — row-level isolation
                # dead-letter row (sent_idx=-1, pronoun='_error'), same
                # visible semantics as extract_batch/_drs_rows: a
                # malformed turn must neither fail the continuous query
                # NOR vanish without trace (review r4 finding #8)
                out.append((conv_id, turn_idx, -1, "_error",
                            type(e).__name__, None, None))
                continue
            for si, m in ms:
                per_sent.setdefault(si, []).append(m)
            for si in sorted(per_sent):
                ms = per_sent[si]
                for m in ms:
                    if m.kind != "pronoun" or m.stem not in tracked:
                        continue
                    want = ("propername" if m.stem in person
                            else "entity")
                    cands = [(t, s, st) for (t, s, k, st) in ants
                             if k == want and turn_idx - t <= lookback_turns
                             and (t, s) < (turn_idx, si)]
                    # nearest antecedent, lexicographic tie (same order as
                    # the batch window: turn DESC, sent DESC, stem ASC)
                    best = min(cands, key=lambda c: (-c[0], -c[1], c[2]),
                               default=None)
                    out.append((conv_id, turn_idx, si, m.stem,
                                best[2] if best else None,
                                best[0] if best else None,
                                best[1] if best else None))
                # a sentence's names become antecedents only for LATER
                # sentences (strict earlier-order, as in batch)
                for m in ms:
                    if m.kind in ("propername", "entity"):
                        ants.append((turn_idx, si, m.kind, m.stem))
        # bound the state to the lookback window
        ants = [a for a in ants if max_turn - a[0] <= lookback_turns]
        ants.sort()
        state.update(([a[0] for a in ants], [a[1] for a in ants],
                      [a[2] for a in ants], [a[3] for a in ants]))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=[
                "conv_id", "turn_idx", "sent_idx", "pronoun",
                "antecedent", "ant_turn", "ant_sent"])

    return (stream
            .select("conv_id", "turn_idx", "text")
            .groupBy("conv_id")
            .applyInPandasWithState(
                update,
                outputStructType=output_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                             if idle_timeout_ms > 0
                             else GroupStateTimeout.NoTimeout)))


def turn_rate_stream(spark: SparkSession, src_dir: str,
                     window: str = "1 minute",
                     watermark: str = "5 minutes"):
    """Streaming health metric: turns/conversations per event-time window
    with late-data watermarking (bounded state)."""
    stream = read_transcript_stream(spark, src_dir)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window))
            .agg(F.count("*").alias("n_turns"),
                 F.approx_count_distinct("conv_id").alias("n_convs")))


# explicit schema, same contract as TRANSCRIPT_SCHEMA: a file stream must
# start cleanly on an empty landing directory (batch-read inference would
# throw "Unable to infer schema" before the first file arrives); parquet
# event tables carry TIMESTAMP_NTZ, cast to LTZ below for the watermark
EVENTS_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                 "event_type string, value double, props string")


def dedup_event_stream(spark: SparkSession, src_dir: str,
                       watermark: str = "1 hour") -> DataFrame:
    """At-least-once event stream → exactly-once rows by event id:
    ``dropDuplicatesWithinWatermark`` keeps one row per event_id while
    only retaining state for ids newer than the watermark — the
    unbounded-state trap of a plain dropDuplicates on a 10^12-event
    stream is exactly what the watermark bound exists for.  Redeliveries
    (the reference's SQS at-least-once semantics, aws/__init__.py
    long-poll consumer) arrive within the redelivery horizon, so a
    watermark ≥ that horizon makes the dedup exact; the batch
    equivalence on a bounded replay is one-row-per-event_id.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    return (stream
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def enrich_event_stream(spark: SparkSession, src_dir: str,
                        dim: DataFrame,
                        key: str = "user_id") -> DataFrame:
    """Stream-static enrichment: every micro-batch left-joins the
    (broadcast) dimension snapshot — the lookup-table join of a
    production event pipeline.  Stream-static joins are stateless
    (the static side is re-planned per micro-batch, so a dim REFRESH
    is picked up on the next trigger with formats that re-list, e.g.
    Delta/Iceberg; a plain in-memory DataFrame stays frozen), which
    is exactly why no watermark is needed here.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    return stream.join(F.broadcast(dim), key, "left")


def purchase_click_join_stream(spark: SparkSession, src_dir: str,
                               window: str = "15 minutes",
                               watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream INNER join: each purchase matched to
    the same user's clicks within ``window`` BEFORE it — the canonical
    attribution join.  Both sides carry a watermark and the join
    condition bounds event-time distance, so the state store holds
    only ``watermark + window`` of each side per key instead of the
    whole history (the unbounded-state trap of an unconstrained
    stream-stream join).  Inner-join matches emit as soon as both rows
    arrive; the watermark only garbage-collects buffered state, so a
    bounded replay emits exactly the batch join's rows.
    """
    def side(name: str, alias_ts: str, alias_id: str) -> DataFrame:
        s = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
        return (s.withColumn("ts", F.col("ts").cast("timestamp"))
                .filter(F.col("event_type") == name)
                .select(F.col("user_id").alias(f"{alias_id}_user"),
                        F.col("ts").alias(alias_ts),
                        F.col("event_id").alias(alias_id))
                .withWatermark(alias_ts, watermark))

    purchases = side("purchase", "p_ts", "p_id")
    clicks = side("click", "c_ts", "c_id")
    return (purchases.join(
        clicks,
        F.expr(f"p_id_user = c_id_user AND "
               f"c_ts >= p_ts - interval {window} AND c_ts <= p_ts"))
        .select(F.col("p_id_user").alias("user_id"),
                "p_id", "p_ts", "c_id", "c_ts"))


def event_session_stream(spark: SparkSession, src_dir: str,
                         gap: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization over an events file stream — the SAME
    ``F.session_window`` aggregation as the batch ``events_session_window``
    query, so a batch-equivalence test can hold it to the batch result.
    The watermark bounds open-session state: a session closes (and its
    state is freed) once the watermark passes its gap-extended end, and
    events later than the watermark are dropped instead of reopening it —
    without one, a 10^12-event stream accretes every user's sessions
    forever.  Append mode emits each session exactly once, on close.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    # watermarks require TIMESTAMP (with local zone); parquet event tables
    # commonly carry TIMESTAMP_NTZ, which Spark rejects as an event-time
    # column — the cast is a no-op when the source is already LTZ
    return (stream
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap))
            .agg(F.count("*").alias("n_events"),
                 # exact distinct aggregations are unsupported on streams;
                 # the HLL sketch is deterministic for a fixed input, so
                 # the batch-equivalence test still compares exactly
                 F.approx_count_distinct("event_type").alias("n_types")))
