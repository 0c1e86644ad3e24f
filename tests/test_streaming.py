"""Streaming gates: incremental decode equals batch decode; checkpoint
resume processes only new files; watermarked windowed aggregation runs."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.fused import decode_and_extract
from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    synth_transcripts,
    tokenize_turns,
)
from hmm_crf_ner_fromscratch_spark.streaming.decode_stream import (
    read_transcript_stream,
    stream_decode_mentions,
    stream_mention_rates,
)

MENTION_KEY = ["conv_id", "turn_idx", "span_start", "span_end", "entity_type", "surface"]


def test_stream_decode_matches_batch_and_resumes(spark, english_model, tmp_path):
    tx = synth_transcripts(spark, 500, seed=31, heaps_vocab=0.5).persist()

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # chunk 1 arrives
    chunk1 = tx.where(F.col("turn_idx") % 2 == 0)
    chunk1.write.mode("append").parquet(in_dir)
    q = stream_decode_mentions(
        read_transcript_stream(spark, in_dir), english_model, out_dir, ckpt
    )
    q.awaitTermination(300)
    got1 = {tuple(r) for r in spark.read.parquet(out_dir).select(*MENTION_KEY).collect()}
    want1 = {
        tuple(r)
        for r in decode_and_extract(tokenize_turns(chunk1), english_model)
        .select(*MENTION_KEY)
        .collect()
    }
    assert got1 == want1 and len(got1) > 100

    # chunk 2 arrives; restart from checkpoint -> only new files processed,
    # final output equals the full batch result (exactly-once, no dupes)
    tx.where(F.col("turn_idx") % 2 == 1).write.mode("append").parquet(in_dir)
    q2 = stream_decode_mentions(
        read_transcript_stream(spark, in_dir), english_model, out_dir, ckpt
    )
    q2.awaitTermination(300)
    got_all = {
        tuple(r) for r in spark.read.parquet(out_dir).select(*MENTION_KEY).collect()
    }
    want_all = {
        tuple(r)
        for r in decode_and_extract(tokenize_turns(tx), english_model)
        .select(*MENTION_KEY)
        .collect()
    }
    assert got_all == want_all
    assert len(spark.read.parquet(out_dir).collect()) == len(got_all), "duplicates"
    tx.unpersist()


def test_stream_windowed_mention_rates(spark, english_model, tmp_path):
    tx = synth_transcripts(spark, 100, seed=41, heaps_vocab=0.5)
    in_dir = str(tmp_path / "in")
    tx.write.mode("append").parquet(in_dir)

    rates = stream_mention_rates(read_transcript_stream(spark, in_dir), english_model)
    q = (
        rates.writeStream.format("memory")
        .queryName("rates")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from rates").collect()
    # append mode emits only watermark-closed windows; availableNow on a
    # finite input closes all but the last -> expect at least one window
    assert rows, "no closed windows emitted"
    for r in rows:
        assert r.n_mentions > 0 and r.window_end > r.window_start


def test_stream_entity_state_persists_across_restart(spark, tmp_path):
    """applyInPandasWithState gate: the per-conversation entity memory
    survives a query restart (state lives in the checkpoint) -- an entity
    first seen in micro-batch 1 is is_new=False when repeated in a later
    run; per-conversation counters accumulate."""
    import datetime

    from hmm_crf_ner_fromscratch_spark.streaming.decode_stream import (
        stream_entity_state,
    )

    # unambiguous tiny corpus -> deterministic HMM decode. Every tag must
    # occur sentence-initially: the reference's pi quirk (Q1, SURVEY
    # SS4.1) gives never-initial tags log-prob 0.0 = probability 1,
    # which would make the model PREFER them at position 0.
    corpus = [
        (0, ["Alice", "visits", "Paris"], ["B-PER", "O", "B-LOC"]),
        (1, ["Bob", "visits", "Paris"], ["B-PER", "O", "B-LOC"]),
        (2, ["Alice", "greets", "Bob"], ["B-PER", "O", "B-PER"]),
        (3, ["Paris", "hosts", "Alice"], ["B-LOC", "O", "B-PER"]),
        (4, ["meanwhile", "Bob", "visits", "Paris"], ["O", "B-PER", "O", "B-LOC"]),
    ]
    train_df = spark.createDataFrame(
        [(str(i), i, w, t) for i, w, t in corpus],
        "doc_id string, sent_id long, tokens array<string>, tags array<string>",
    )
    model = train_hmm(train_df)

    ts = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, "user", txt, None, ts) for c, i, txt in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    in_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "ckpt")
    )

    def run_once():
        q = (
            stream_entity_state(read_transcript_stream(spark, in_dir), model)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # batch 1: Alice + Paris in c1; Bob in c2
    turns([("c1", 0, "Alice visits Paris"), ("c2", 0, "Bob visits Paris")]).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()
    got1 = {
        (r.conv_id, r.turn_idx, r.surface): (r.is_new, r.n_entities_seen)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got1[("c1", 0, "Alice")] == (True, 1)
    assert got1[("c1", 0, "Paris")] == (True, 2)
    assert got1[("c2", 0, "Bob")] == (True, 1)
    assert got1[("c2", 0, "Paris")] == (True, 2)

    # batch 2 after restart: Alice repeats in c1 (stateful -> not new),
    # Bob is new in c1; c2 sees Alice for the first time
    turns([("c1", 1, "Alice greets Bob"), ("c2", 1, "Alice visits Paris")]).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()
    got2 = {
        (r.conv_id, r.turn_idx, r.surface): (r.is_new, r.n_entities_seen)
        for r in spark.read.parquet(out_dir).collect()
        if r.turn_idx == 1
    }
    assert got2[("c1", 1, "Alice")] == (False, 2), "state lost across restart"
    assert got2[("c1", 1, "Bob")] == (True, 3)
    assert got2[("c2", 1, "Alice")] == (True, 3)
    assert got2[("c2", 1, "Paris")] == (False, 3)
