"""Crash -> rerun gate for write-once stage commits.

A commit that fails anywhere -- in its data write, at its manifest rename,
in the digest-state commit, or half-way through ``rebalance`` -- leaves
the previous snapshot intact, so rerunning the same ingest lands on the
state a one-shot load of the final input builds. Faults are injected with
``monkeypatch`` only; the package has no fault hooks.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from hmm_crf_ner_fromscratch_spark.plans.incremental import (
    CONVS,
    STAGES,
    IncrementalKGPipeline,
)
from hmm_crf_ner_fromscratch_spark.sources.transcripts import synth_transcripts

# the stages whose snapshot ids converge to the one-shot ids (the
# provenance-sampled triple_counts, nodes and edges converge by content)
CONVERGING = ("decoded", "mentions", "triples", "candidates", "link_pairs", CONVS)


class Crash(RuntimeError):
    pass


def _pipe(spark, model, work_dir, **kw) -> IncrementalKGPipeline:
    return IncrementalKGPipeline(
        spark, str(work_dir), model, salt_bucket=64, n_buckets=4, **kw
    )


def _state(io):
    snaps = {s: io.snapshot_id(s) for s in CONVERGING}
    edges = {(r.src, r.pred, r.dst, r.weight) for r in io.read("edges").collect()}
    return snaps, edges


def _stored_files(data_dir) -> set[str]:
    """Every file under a data dir but the checksum sidecars."""
    return {
        str(p.relative_to(data_dir))
        for p in data_dir.rglob("*")
        if p.is_file() and not p.name.endswith(".crc")
    }


def _assert_committed(pipe, work) -> None:
    """Every stage audits clean and holds exactly its manifest's files."""
    for stage in (*STAGES, CONVS):
        assert pipe.io.audit(stage), stage
        files = set(pipe.io.manifest(stage)["files"])
        assert _stored_files(work / stage / "data") == files, stage


@pytest.fixture(scope="module")
def loads(spark, english_model, tmp_path_factory):
    """A committed 240-turn load, the batch that edits two of its
    conversations and adds 60 new turns, and the one-shot state of the
    final 300 turns."""
    base = synth_transcripts(spark, 240, seed=71, heaps_vocab=0.5)
    edited = sorted(r.conv_id for r in base.select("conv_id").distinct().collect())[:2]
    batch = (
        base.where(F.col("conv_id").isin(edited))
        .withColumn("text", F.concat("text", F.lit(" Paris")))
        .unionByName(
            synth_transcripts(spark, 60, seed=72, heaps_vocab=0.5).withColumn(
                "conv_id", F.concat(F.lit("n_"), "conv_id")
            )
        )
    )
    final = base.where(~F.col("conv_id").isin(edited)).unionByName(batch)
    root = tmp_path_factory.mktemp("crash")
    _pipe(spark, english_model, root / "base").run(base)
    one = _pipe(spark, english_model, root / "one")
    one.run(final)
    return root / "base", base, batch, _state(one.io)


def _fail_write(stage):
    """The data write of ``stage``'s commit raises."""

    def install(monkeypatch, pipe):
        target = os.path.join(pipe.io.base_dir, stage, "data")
        real = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            if path == target:
                raise Crash(f"write of {stage}")
            return real(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    return install


def _fail_rename(stage):
    """The manifest rename of ``stage``'s commit raises, after its data
    write."""

    def install(monkeypatch, pipe):
        target = os.path.join(pipe.io.base_dir, stage, "_manifest.json")
        real = os.replace

        def replace(src, dst, *args, **kwargs):
            if dst == target:
                raise Crash(f"manifest rename of {stage}")
            return real(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "replace", replace)

    return install


def _fail_rebalance_after_first_stage(monkeypatch, pipe):
    real = pipe.io.write_bucketed

    def write_bucketed(stage, df, inputs, run_id, **kwargs):
        if run_id.endswith(".rebalance") and stage != "decoded":
            raise Crash(f"rebalance of {stage}")
        return real(stage, df, inputs, run_id, **kwargs)

    monkeypatch.setattr(pipe.io, "write_bucketed", write_bucketed)


@pytest.mark.parametrize(
    "fault, auto_rebalance",
    [
        pytest.param(_fail_write("mentions"), None, id="write_job"),
        pytest.param(_fail_rename("triples"), None, id="manifest_rename"),
        pytest.param(_fail_write(CONVS), None, id="digest_state"),
        pytest.param(_fail_rebalance_after_first_stage, 1, id="rebalance"),
    ],
)
def test_crash_then_rerun_matches_one_shot(
    spark, english_model, loads, tmp_path, monkeypatch, fault, auto_rebalance
):
    base_dir, _base, batch, want = loads
    work = tmp_path / "w"
    shutil.copytree(base_dir, work)
    pipe = _pipe(
        spark, english_model, work, auto_rebalance_generations=auto_rebalance
    )
    with monkeypatch.context() as mp:
        fault(mp, pipe)
        with pytest.raises(Crash):
            pipe.run_append(batch)
    pipe.run_append(batch)

    assert _state(pipe.io) == want
    _assert_committed(pipe, work)


def test_ingest_finishes_interrupted_rebalance(
    spark, english_model, loads, tmp_path, monkeypatch
):
    """A rebalance that dies after folding ``decoded`` leaves ``_convs``
    mapping the appended conversations to their generation partition
    while ``decoded`` holds them in hash buckets. The next ingest finishes
    the fold before it plans, so editing such a conversation replaces its
    old rows instead of leaving them in the hash bucket."""
    base_dir, _base, batch, want = loads
    work = tmp_path / "w"
    shutil.copytree(base_dir, work)
    pipe = _pipe(spark, english_model, work, auto_rebalance_generations=None)
    pipe.run_append(
        batch.where(F.col("conv_id").startswith("n_")).withColumn(
            "text", F.concat("text", F.lit(" Berlin"))
        )
    )
    with monkeypatch.context() as mp:
        _fail_rebalance_after_first_stage(mp, pipe)
        with pytest.raises(Crash):
            pipe.rebalance()
    pipe.run_append(batch)

    assert _state(pipe.io) == want
    _assert_committed(pipe, work)


def test_append_rewrites_key_bucketed_states(spark, english_model, loads, tmp_path):
    """A store whose triple_counts, candidates and link_pairs are bucketed
    by a hash of their key, as stores written before those states were
    committed whole are: the next ingest rewrites them whole and lands on
    the one-shot state."""
    base_dir, _base, batch, want = loads
    work = tmp_path / "w"
    shutil.copytree(base_dir, work)
    pipe = _pipe(spark, english_model, work)
    io = pipe.io
    keys = {
        "triple_counts": ("subj_type", "subj", "pred", "obj_type", "obj"),
        "candidates": ("entity_type", "surface"),
        "link_pairs": ("block",),
    }
    for stage, key in keys.items():
        m = io.manifest(stage)
        bucket = F.pmod(F.xxhash64(*key), F.lit(pipe.n_buckets)).cast("int")
        snap = io.write_bucketed(
            stage, io.read(stage).withColumn("bucket", bucket), m["inputs"],
            m["run_id"], n_buckets=pipe.n_buckets,
        )
        assert snap == m["snapshot_id"] and io.manifest(stage)["bucketed"], stage
    pipe.run_append(batch)

    assert _state(io) == want
    for stage in keys:
        assert not io.manifest(stage).get("bucketed"), stage
    _assert_committed(pipe, work)


def test_run_removes_pre_stage_digest_layout(spark, english_model, loads, tmp_path):
    """A store written before ``_convs`` was a bucketed stage kept its
    digests in ``_convs/bucket=*`` plus a ``_SUCCESS`` marker; the next
    ``run`` deletes them and leaves the committed state as it was."""
    base_dir, base, _batch, _want = loads
    work = tmp_path / "w"
    shutil.copytree(base_dir, work)
    pipe = _pipe(spark, english_model, work)
    snap = pipe.io.snapshot_id(CONVS)
    pipe.io.read(CONVS).write.mode("append").partitionBy("bucket").parquet(
        str(work / CONVS)
    )
    legacy = [p for p in (work / CONVS).iterdir() if p.name.startswith("bucket=")]
    assert legacy and (work / CONVS / "_SUCCESS").exists()

    pipe.run(base)
    assert sorted(p.name for p in (work / CONVS).iterdir()) == [
        "_manifest.json", "data"
    ]
    assert pipe.io.snapshot_id(CONVS) == snap and pipe.io.audit(CONVS)
    assert _stored_files(work / CONVS / "data") == set(
        pipe.io.manifest(CONVS)["files"]
    )
