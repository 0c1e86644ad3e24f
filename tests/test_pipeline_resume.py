"""M6 gate: checkpointed pipeline, per-partition lineage, exact resume."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.graph import build_graph
from hmm_crf_ner_fromscratch_spark.operators.relations import template_triples
from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline
from hmm_crf_ner_fromscratch_spark.sources.transcripts import synth_transcripts

STAGES = [
    "decoded", "mentions", "triples", "triple_counts", "candidates",
    "link_pairs", "nodes", "edges",
]


def _edges_set(edges):
    return {(r.src, r.pred, r.dst, r.weight) for r in edges.collect()}


@pytest.fixture(scope="module")
def full_load(spark, english_model, tmp_path_factory):
    """One full load shared by the module: (pipeline, transcripts, result)."""
    tx = synth_transcripts(spark, 300, seed=21)
    pipe = IncrementalKGPipeline(
        spark, str(tmp_path_factory.mktemp("kg")), english_model,
        salt_bucket=64, n_buckets=16,
    )
    return pipe, tx, pipe.run(tx)


def test_pipeline_run_resume_invalidate(spark, full_load):
    pipe, tx, r1 = full_load
    assert r1.executed == STAGES
    assert r1.skipped == []
    edges1 = _edges_set(pipe.io.read("edges"))
    assert len(edges1) > 50
    # the committed graph is the one-shot build over the committed mentions
    m = pipe.io.read("mentions").drop("bucket")
    _, want = build_graph(m, template_triples(m, cross_turn_window=2))
    assert edges1 == _edges_set(want)

    # full resume: nothing recomputes, outputs identical
    r2 = pipe.run(tx)
    assert r2.executed == []
    assert r2.skipped == STAGES
    assert _edges_set(pipe.io.read("edges")) == edges1
    assert r2.snapshots == r1.snapshots

    # partial resume, as a crash after the mentions commit leaves the
    # store (the digest state commits last): triples recomputes; its
    # content-defined snapshot id comes out identical, so every
    # downstream stage remains valid and is skipped
    base = pipe.io.base_dir
    os.remove(os.path.join(base, "triples", "_manifest.json"))
    shutil.rmtree(os.path.join(base, "_convs"))
    # stage tables without a digest state: an append cannot be diffed
    # against them (it would rebuild every stage from the batch alone)
    extra = synth_transcripts(spark, 10, seed=22).withColumn(
        "conv_id", F.concat(F.lit("n_"), F.col("conv_id"))
    )
    with pytest.raises(ValueError, match="_convs"):
        pipe.run_append(extra)
    r3 = pipe.run(tx)
    assert r3.executed == ["triples"]
    assert r3.skipped == [s for s in STAGES if s != "triples"]
    assert _edges_set(pipe.io.read("edges")) == edges1
    assert r3.snapshots == r1.snapshots  # deterministic snapshot ids

    # input change (ten turns of new conversations) invalidates everything
    r4 = pipe.run(tx.unionByName(extra))
    assert r4.executed == STAGES


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

    pipe = IncrementalKGPipeline(spark, str(tmp_path / "kg"), model, salt_bucket=16)
    res = pipe.run(tx)
    assert res.executed == STAGES
    mentions = {
        (r.surface, r.entity_type) for r in pipe.io.read("mentions").collect()
    }
    assert ("Paris", "LOC") in mentions and ("Mary Smith", "PER") in mentions
    # per-stage throughput metrics populated
    for stage in res.executed:
        m = res.metrics[stage]
        assert m["sec"] > 0 and m["rows"] >= 0


def test_lineage_rows(full_load):
    pipe = full_load[0]
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
