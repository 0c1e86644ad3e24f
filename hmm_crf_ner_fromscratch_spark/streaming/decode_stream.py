"""Structured Streaming variant of the decode pipeline.

The reference is pure batch (no streaming anywhere in it -- SURVEY SS1.3),
so this layer is an engine-completeness extension, not a parity target:
transcripts arriving as files (or Kafka on a real deployment) are decoded
incrementally with the same broadcast model + fused Arrow kernel as the
batch path -- decode is stateless per turn, so it composes with streaming
for free, and checkpointing gives exactly-once file-sink semantics.

Also provides a watermarked windowed aggregation (mentions per entity
type per time window) as the late-data-handling pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fused import decode_and_extract
from ..sources.transcripts import TRANSCRIPT_COLUMNS, tokenize_turns

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 32
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_decode_mentions(
    stream: DataFrame,
    model,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Incrementally decode arriving turns into the mentions table.
    Returns the StreamingQuery (caller awaits termination)."""
    mentions = decode_and_extract(
        tokenize_turns(stream.select(*TRANSCRIPT_COLUMNS)), model
    )
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_mention_rates(
    stream: DataFrame,
    model,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window mention counts per entity type. Late
    rows beyond the watermark are dropped; state is bounded by
    (windows in watermark horizon) x (entity types)."""
    turns = tokenize_turns(stream.select(*TRANSCRIPT_COLUMNS))
    # the watermark is declared once, downstream of the UDF (ts survives
    # mapInPandas as a data column; redefining a watermark is disallowed)
    mentions = decode_and_extract(
        turns,
        model,
        key_cols=("conv_id", "turn_idx", "role", "tool", "ts"),
    )
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_type",
            "n_mentions",
        )
    )

# ---------------------------------------------------------------------
# Custom stateful operator: per-conversation entity memory
# ---------------------------------------------------------------------

ENTITY_STATE_OUTPUT_DDL = (
    "conv_id string, turn_idx int, entity_type string, surface string, "
    "is_new boolean, n_entities_seen long"
)
ENTITY_STATE_STATE_DDL = "entities array<string>, n_mentions long"


def stream_entity_state(
    stream: DataFrame,
    model,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming KG enrichment via ``applyInPandasWithState``:
    tracks, per ``conv_id``, the set of entities mentioned so far in the
    conversation, across micro-batches and restarts (state lives in the
    streaming checkpoint). Each decoded mention is emitted annotated with
    ``is_new`` (first mention of that (entity_type, surface) in this
    conversation) and the running distinct-entity count -- the building
    block for incremental, conversation-scoped canonicalization.

    Scale notes: state per conversation is O(distinct entities), grouped
    state is hash-partitioned by conv_id across executors, and idle
    conversations are evicted after ``idle_timeout_ms`` of processing
    time (bounded state at 10^12-turn scale) -- pass a timeout for
    continuous deployments; leave ``None`` for bounded runs
    (``availableNow`` triggers: pending processing-time timeouts keep
    scheduling empty micro-batches, so the query never terminates --
    measured in this sandbox). Within a micro-batch,
    mentions are processed in (turn_idx, span_start) order so ``is_new``
    is deterministic for a given batch composition; across micro-batches
    it reflects arrival order, as any incremental operator must.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    turns = tokenize_turns(stream.select(*TRANSCRIPT_COLUMNS))
    mentions = decode_and_extract(turns, model)

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        (conv_id,) = key
        if state.exists:
            entities, n_mentions = state.get
            seen = set(entities)
        else:
            seen, n_mentions = set(), 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["turn_idx", "span_start"], kind="stable")
            # length-prefixed key: unambiguous even when entity_type or
            # surface themselves contain the separator character
            keys = (
                pdf["entity_type"].str.len().astype(str)
                + "|"
                + pdf["entity_type"]
                + pdf["surface"]
            )
            is_new = ~keys.duplicated() & ~keys.isin(seen)
            n_seen = is_new.cumsum() + len(seen)
            out = pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": pdf["turn_idx"].astype("int32"),
                    "entity_type": pdf["entity_type"],
                    "surface": pdf["surface"],
                    "is_new": is_new.astype(bool),
                    "n_entities_seen": n_seen.astype("int64"),
                }
            )
            seen.update(keys)
            n_mentions += len(pdf)
        else:
            out = None
        state.update((sorted(seen), n_mentions))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out is not None:
            yield out

    return mentions.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=ENTITY_STATE_OUTPUT_DDL,
        stateStructType=ENTITY_STATE_STATE_DDL,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def stream_kg_ingest(
    stream: DataFrame,
    pipeline,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Drive the incremental KG pipeline from a transcript stream: each
    micro-batch flows through ``IncrementalKGPipeline.run_append`` via
    ``foreachBatch``, so the eight KG stage tables (decoded, mentions,
    triples, triple_counts, candidates, link_pairs, nodes, edges) and the
    ``_convs`` digest state advance per batch with delta-only decode and
    bucket-scoped commits. The first batch into an empty work dir is a
    full load; a work dir holding stage tables without a ``_convs``
    digest state makes the batch raise (``run_append``).

    Source contract: a micro-batch must carry the COMPLETE current
    turn-set of every conversation it touches (conversation-snapshot CDC
    -- e.g. an upstream sessionizer emitting closed conversations, or an
    Iceberg changelog feed grouped by conv_id); ``run_append`` replaces a
    conversation's content wholesale. Effective exactly-once: on recovery
    foreachBatch re-delivers the same batch, and a re-delivered batch is
    a digest no-op (every stage skips -- pinned by
    tests/test_incremental.py::test_run_append_matches_full_run).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # run_append drives several actions over the batch; without a
        # persist each one re-scans the stream source (visible as
        # numInputRows = k x batch size in query progress)
        batch_df = batch_df.persist()
        try:
            pipeline.run_append(batch_df.select(*TRANSCRIPT_COLUMNS))
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
