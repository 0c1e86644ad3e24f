"""M6 gate: checkpointed pipeline, per-partition lineage, exact resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
from hmm_crf_ner_fromscratch_spark.plans.pipeline import (
    KGPipeline,
    transcripts_snapshot,
)
from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    load_eval_sentences,
    synth_transcripts,
)


def _edges_set(pipe):
    return {
        (r.src, r.pred, r.dst, r.weight)
        for r in pipe.io.read("edges").collect()
    }


def test_pipeline_run_resume_invalidate(spark, english_golden, tmp_path):
    sents = load_eval_sentences(english_golden["val"])[:400]
    tx = synth_transcripts(spark, 300, seed=21, eval_sentences=sents)
    model = train_hmm(read_conll(spark, english_golden["train"], doc_id="t"))
    snap = transcripts_snapshot(tx)

    pipe = KGPipeline(spark, str(tmp_path / "kg"), model, salt_bucket=64)
    r1 = pipe.run(tx, snap)
    assert r1.executed == ["decoded", "mentions", "triples", "nodes", "edges"]
    assert r1.skipped == []
    edges1 = _edges_set(pipe)
    assert len(edges1) > 50

    # full resume: nothing recomputes, outputs identical
    r2 = pipe.run(tx, snap)
    assert r2.executed == []
    assert r2.skipped == ["decoded", "mentions", "triples", "nodes", "edges"]
    assert _edges_set(pipe) == edges1
    assert r2.snapshots == r1.snapshots

    # partial resume: nuke the triples manifest -> triples recomputes; its
    # content-defined snapshot id comes out identical, so downstream nodes/
    # edges remain valid and are skipped (content-addressed invalidation)
    import os

    os.remove(tmp_path / "kg" / "triples" / "_manifest.json")
    r3 = pipe.run(tx, snap)
    assert r3.executed == ["triples"]
    assert r3.skipped == ["decoded", "mentions", "nodes", "edges"]
    assert _edges_set(pipe) == edges1
    assert r3.snapshots == r1.snapshots  # deterministic snapshot ids

    # input change invalidates everything
    tx2 = synth_transcripts(spark, 310, seed=21, eval_sentences=sents)
    r4 = pipe.run(tx2, transcripts_snapshot(tx2))
    assert r4.executed == ["decoded", "mentions", "triples", "nodes", "edges"]


def test_pipeline_with_crf_labeler(spark, tmp_path):
    """north_star: the pipeline accepts the CRF labeler as the mention-
    detection stage, interchangeably with the HMM."""
    from hmm_crf_ner_fromscratch_spark.operators.crf import train_crf

    rows = [
        (0, ["John", "visits", "Paris"], ["B-PER", "O", "B-LOC"]),
        (1, ["Mary", "Smith", "visits", "London"], ["B-PER", "I-PER", "O", "B-LOC"]),
    ]
    crf_train = spark.createDataFrame(
        rows, "sent_id long, tokens array<string>, tags array<string>"
    )
    model, _ = train_crf(crf_train, epochs=6, lr=0.5)

    tx = spark.createDataFrame(
        [("c0", 0, "user", "John visits Paris", None),
         ("c0", 1, "user", "Mary Smith visits London", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))

    pipe = KGPipeline(spark, str(tmp_path / "kg"), model, salt_bucket=16)
    res = pipe.run(tx, transcripts_snapshot(tx))
    assert res.executed == ["decoded", "mentions", "triples", "nodes", "edges"]
    mentions = {
        (r.surface, r.entity_type) for r in pipe.io.read("mentions").collect()
    }
    assert ("Paris", "LOC") in mentions and ("Mary Smith", "PER") in mentions
    # per-stage throughput metrics populated
    for stage in res.executed:
        m = res.metrics[stage]
        assert m["sec"] > 0 and m["rows"] >= 0


def test_lineage_rows(spark, english_golden, tmp_path):
    sents = load_eval_sentences(english_golden["val"])[:100]
    tx = synth_transcripts(spark, 50, seed=2, eval_sentences=sents)
    model = train_hmm(read_conll(spark, english_golden["train"], doc_id="t"))
    pipe = KGPipeline(spark, str(tmp_path / "kg"), model, salt_bucket=64)
    pipe.run(tx, transcripts_snapshot(tx))

    lin = pipe.io.lineage("mentions")
    rows = lin.collect()
    assert {r.stage for r in rows} == {"mentions"}
    assert all(r.checksum is not None and r.rows >= 0 for r in rows)
    # lineage row count == table row count
    total = pipe.io.read("mentions").count()
    assert sum(r.rows for r in rows) == total
    m = pipe.io.manifest("mentions")
    assert m["row_count"] == total and m["complete"]
    # single-pass commit still records a content-defined checksum
    assert isinstance(m["content_xor"], int)


def test_lineage_audit_detects_tamper(spark, tmp_path):
    """audit() = on-demand full content verification: green on an intact
    stage, red after a row is rewritten (the per-commit path no longer
    scans data, so this is the integrity backstop)."""
    import glob

    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    snap = io.write("s", df, ["in:1"], "run1")
    assert snap == io.snapshot_id("s")
    assert io.audit("s") is True

    # tamper: rewrite the data with one value changed, keep the manifest
    changed = spark.range(0, 1000).withColumn(
        "v", F.when(F.col("id") == 7, F.lit(-1)).otherwise(F.col("id") * 2)
    )
    for f in glob.glob(str(tmp_path / "t" / "s" / "data" / "*.parquet")):
        import os

        os.remove(f)
    changed.coalesce(1).write.mode("append").parquet(
        str(tmp_path / "t" / "s" / "data")
    )
    assert io.audit("s") is False
