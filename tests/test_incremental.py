"""Incremental ingest gate: delta decode, bucket-scoped commits, and
convergence to the one-shot result (identical content-defined snapshots).
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.graph import build_graph
from hmm_crf_ner_fromscratch_spark.operators.relations import template_triples
from hmm_crf_ner_fromscratch_spark.plans.incremental import (
    IncrementalKGPipeline,
    conv_digests,
)
from hmm_crf_ner_fromscratch_spark.sources.transcripts import synth_transcripts


def _edges_set(io):
    return {
        (r.src, r.pred, r.dst, r.weight) for r in io.read("edges").collect()
    }


def _mk_inputs(spark):
    tx1 = synth_transcripts(spark, 400, seed=21, heaps_vocab=0.5)
    # ingest 2: new conversations, one modified conversation, one removed
    extra = synth_transcripts(spark, 120, seed=77).withColumn(
        "conv_id", F.concat(F.lit("x_"), F.col("conv_id"))
    )
    # the quartic skew generator leaves low conv ranks empty; pick
    # conversations that actually exist
    convs = [
        r.conv_id
        for r in tx1.select("conv_id").distinct().orderBy("conv_id").collect()
    ]
    modified_id, removed_id = convs[0], convs[3]
    tx2 = (
        tx1.where(F.col("conv_id") != removed_id)
        .withColumn(
            "text",
            F.when(
                F.col("conv_id") == modified_id,
                F.concat(F.col("text"), F.lit(" Paris")),
            ).otherwise(F.col("text")),
        )
        .unionByName(extra)
    )
    return tx1, tx2, modified_id, removed_id, extra


def test_incremental_delta_and_convergence(spark, english_model, tmp_path):
    tx1, tx2, modified_id, removed_id, extra = _mk_inputs(spark)

    inc = IncrementalKGPipeline(
        spark, str(tmp_path / "inc"), english_model, salt_bucket=64, n_buckets=16
    )
    r1 = inc.run(tx1)
    assert r1.full_load
    assert r1.executed == ["decoded", "mentions", "triples", "triple_counts", "candidates", "link_pairs", "nodes", "edges"]

    # no-change re-run: every stage skips, zero decode work -- the digest
    # diff is one plan action, so only its few jobs run
    got = {}
    assert _jobs_in_group(spark, lambda: got.update(r=inc.run(tx1))) <= 6
    r1b = got["r"]
    assert r1b.executed == []
    assert r1b.skipped == ["decoded", "mentions", "triples", "triple_counts", "candidates", "link_pairs", "nodes", "edges"]

    # ingest 2: only the changed conversations are decoded
    r2 = inc.run(tx2)
    assert not r2.full_load
    n_extra_convs = extra.select("conv_id").distinct().count()
    assert r2.n_changed == n_extra_convs + 1  # new convs + the modified one
    assert r2.n_removed == 1
    delta_rows = r2.metrics["decoded"]["delta_rows"]
    expected_delta = tx2.where(
        F.col("conv_id").startswith("x_") | (F.col("conv_id") == modified_id)
    ).count()
    assert delta_rows == expected_delta
    # bucket-scoped commit: only a subset of buckets rewritten
    assert 0 < len(r2.affected_buckets) <= 16

    # state correctness: removed conv gone, modified conv reflects new text
    mentions = inc.io.read("mentions")
    assert mentions.where(F.col("conv_id") == removed_id).count() == 0
    assert (
        mentions.where(
            (F.col("conv_id") == modified_id)
            & (F.col("surface") == "Paris")
        ).count()
        > 0
    )

    # convergence: a fresh one-shot run over tx2 lands on IDENTICAL
    # content-defined snapshots for the five stages below; triple_counts,
    # nodes and edges carry sampled provenance, so only their edge content
    # is compared
    oneshot = IncrementalKGPipeline(
        spark, str(tmp_path / "oneshot"), english_model, salt_bucket=64, n_buckets=16
    )
    r_one = oneshot.run(tx2)
    for stage in ("decoded", "mentions", "triples", "candidates", "link_pairs"):
        assert r2.snapshots[stage] == r_one.snapshots[stage], stage

    # and the graph matches the batch build over the same mentions
    m = oneshot.io.read("mentions").drop("bucket")
    _, batch_edges = build_graph(m, template_triples(m, cross_turn_window=2))
    assert _edges_set(inc.io) == {
        (r.src, r.pred, r.dst, r.weight) for r in batch_edges.collect()
    }


def test_run_append_matches_full_run(spark, english_model, tmp_path):
    """CDC-style run_append (no full-input scan) lands on the IDENTICAL
    stage snapshots as a full-table run() over the same final content --
    including the derived full-input snapshot id, which run_append
    reconstructs from the digest state alone."""
    tx1 = synth_transcripts(spark, 300, seed=31, heaps_vocab=0.5)
    extra = synth_transcripts(spark, 100, seed=55).withColumn(
        "conv_id", F.concat(F.lit("y_"), F.col("conv_id"))
    )
    full = tx1.unionByName(extra)

    appender = IncrementalKGPipeline(
        spark, str(tmp_path / "app"), english_model, salt_bucket=64, n_buckets=16
    )
    a1 = appender.run_append(tx1)  # first batch = full load
    assert a1.full_load
    a2 = appender.run_append(extra)  # second batch: only new convs decoded
    assert not a2.full_load
    assert a2.n_changed == extra.select("conv_id").distinct().count()
    assert a2.n_removed == 0
    assert a2.metrics["decoded"]["delta_rows"] == extra.count()

    # re-delivering the same batch is a no-op: digests unchanged -> the
    # derived input snapshot matches -> every stage skips
    got = {}
    assert _jobs_in_group(spark, lambda: got.update(r=appender.run_append(extra))) <= 6
    a3 = got["r"]
    assert a3.executed == []
    assert a3.skipped == ["decoded", "mentions", "triples", "triple_counts", "candidates", "link_pairs", "nodes", "edges"]

    oneshot = IncrementalKGPipeline(
        spark, str(tmp_path / "one"), english_model, salt_bucket=64, n_buckets=16
    )
    r_one = oneshot.run(full)
    for stage in ("decoded", "mentions", "triples", "candidates", "link_pairs"):
        assert a2.snapshots[stage] == r_one.snapshots[stage], stage
    assert _edges_set(appender.io) == _edges_set(oneshot.io)
    # the digest state converges too: its content XOR is layout-blind
    assert a2.snapshots["_convs"] == r_one.snapshots["_convs"]

    # maintenance: rebalance folds the generation partition back into the
    # hash layout WITHOUT changing any snapshot; state stays consistent
    # (a follow-up no-op ingest still skips everything)
    assert 16 in a2.affected_buckets  # the append created generation 16
    snaps = appender.rebalance()
    for stage, s in snaps.items():
        assert s == a2.snapshots[stage], stage
    decoded_buckets = {
        int(b) for b in appender.io.manifest("decoded")["buckets"]
    }
    assert max(decoded_buckets) < 16  # generations folded away
    assert appender.io.audit("_convs")
    a4 = appender.run_append(extra)
    assert a4.executed == []
    assert _edges_set(appender.io) == _edges_set(oneshot.io)


def test_stream_kg_ingest(spark, english_model, tmp_path):
    """Transcript stream -> foreachBatch -> incremental KG: after two
    conversation-snapshot micro-batches the KG equals a one-shot run over
    the union."""
    from hmm_crf_ner_fromscratch_spark.streaming.decode_stream import (
        read_transcript_stream,
        stream_kg_ingest,
    )

    tx = synth_transcripts(spark, 300, seed=41, heaps_vocab=0.5).persist()
    # conversation-disjoint chunks (the conversation-snapshot contract)
    in_batch1 = tx.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    in_batch2 = tx.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    pipe = IncrementalKGPipeline(
        spark, str(tmp_path / "kg"), english_model, salt_bucket=64, n_buckets=16
    )

    in_batch1.write.mode("append").parquet(in_dir)
    q = stream_kg_ingest(read_transcript_stream(spark, in_dir), pipe, ckpt)
    q.awaitTermination(600)
    in_batch2.write.mode("append").parquet(in_dir)
    q2 = stream_kg_ingest(read_transcript_stream(spark, in_dir), pipe, ckpt)
    q2.awaitTermination(600)

    oneshot = IncrementalKGPipeline(
        spark, str(tmp_path / "one"), english_model, salt_bucket=64, n_buckets=16
    )
    oneshot.run(tx)
    assert _edges_set(pipe.io) == _edges_set(oneshot.io)
    tx.unpersist()


def test_compaction_preserves_snapshot(spark, tmp_path):
    """Delta commits accumulate files; compact() rewrites buckets to one
    file each and must land on the IDENTICAL content-defined snapshot."""
    import glob

    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("v", F.col("id") * 3)
            .withColumn(
                "bucket", F.pmod(F.xxhash64("id"), F.lit(4)).cast("int")
            )
            .repartition(6)
        )

    io.write_bucketed("s", batch(0, 2000), ["i1"], "r1", n_buckets=4)
    delta = batch(2000, 3000).localCheckpoint(eager=True)
    affected = [r.bucket for r in delta.select("bucket").distinct().collect()]
    merged = (
        io.read_buckets("s", affected)
        .select("id", "v", "bucket")
        .unionByName(delta.select("id", "v", "bucket"))
        .localCheckpoint(eager=True)
    )
    snap = io.write_bucketed("s", merged, ["i2"], "r2", affected_buckets=affected)

    files_before = glob.glob(str(tmp_path / "t" / "s" / "data" / "bucket=*" / "*.parquet"))
    assert len(files_before) > 4  # multiple files per bucket after 2 commits
    assert io.compact("s") == snap
    files_after = glob.glob(str(tmp_path / "t" / "s" / "data" / "bucket=*" / "*.parquet"))
    assert len(files_after) == 4  # one file per bucket
    # content untouched; full-scan audit agrees with the ledger-derived
    # checksum both before and after the layout change
    assert io.read("s").count() == 3000
    assert io.manifest("s")["snapshot_id"] == snap
    assert io.audit("s") is True


def test_empty_bucketed_stage_commits_and_reads(spark, tmp_path):
    """A bucketed commit with no rows (link_pairs of a corpus with no
    link pair) writes no data files; it still reads back with its columns
    from the schema the manifest records, audits clean, and takes a delta
    commit on top."""
    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    ddl = "id long, v string, bucket int"
    empty = spark.createDataFrame([], ddl)
    snap0 = io.write_bucketed("s", empty, ["i1"], "r1", n_buckets=4)
    got = io.read("s")
    assert got.count() == 0
    assert got.dtypes == empty.dtypes
    assert io.audit("s") is True

    delta = spark.createDataFrame([(1, "a", 1), (2, "b", 3)], ddl)
    snap1 = io.write_bucketed("s", delta, ["i2"], "r2", affected_buckets=[1, 3])
    assert snap1 != snap0 and io.snapshot_id("s") == snap1
    assert sorted(r.id for r in io.read("s").collect()) == [1, 2]
    assert io.manifest("s")["row_count"] == 2
    assert io.audit("s") is True


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted by a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = "commit-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "commit under test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_runs_one_spark_job(spark, tmp_path):
    """Every commit of a checkpointed frame is ONE Spark job, the data
    write: the checksum and bucket ledger ride it via observe and the
    lineage goes into the manifest (no read-back, no lineage table). The
    delta commit keeps the untouched bucket's lineage entries."""
    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    full = (
        spark.range(0, 400)
        .withColumn("v", F.col("id") * 5)
        .withColumn("bucket", F.pmod(F.col("id"), F.lit(4)).cast("int"))
        .localCheckpoint(eager=True)
    )
    assert _jobs_in_group(
        spark, lambda: io.write_bucketed("s", full, ["i1"], "r1", n_buckets=4)
    ) == 1
    before = io.manifest("s")["files"]
    delta = (
        io.read_buckets("s", [1, 2])
        .withColumn("v", F.col("v") + 1)
        .localCheckpoint(eager=True)
    )
    assert _jobs_in_group(
        spark,
        lambda: io.write_bucketed("s", delta, ["i2"], "r2", affected_buckets=[1, 2]),
    ) == 1
    assert _jobs_in_group(
        spark, lambda: io.write("p", full.drop("bucket"), ["i1"], "r1")
    ) == 1

    m = io.manifest("s")
    assert "n_files" not in m and m["row_count"] == 400 and io.audit("s")
    assert not (tmp_path / "t" / "s" / "_lineage.parquet").exists()
    untouched = {f: e for f, e in before.items() if f.startswith(("bucket=0", "bucket=3"))}
    assert untouched and all(m["files"][f] == e for f, e in untouched.items())
    assert all(
        e["run_id"] == "r2" for f, e in m["files"].items() if f not in untouched
    )
    assert sum(e["rows"] for e in m["files"].values()) == 400


def test_commit_rejects_rows_outside_declared_buckets(spark, tmp_path):
    """The declared buckets -- affected_buckets for a delta, range(n_buckets)
    for a full commit -- bound what a commit may write: a row outside them
    raises and nothing is published; a delta commit keeps the previous
    snapshot. A first full commit must name n_buckets (no previous
    manifest records one)."""
    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    ddl = "id long, bucket int"
    rows = spark.createDataFrame([(1, 0), (2, 5)], ddl)
    with pytest.raises(ValueError, match="n_buckets"):
        io.write_bucketed("s", rows, ["i1"], "r1")
    with pytest.raises(ValueError, match="outside the declared buckets"):
        io.write_bucketed("s", rows, ["i1"], "r1", n_buckets=4)
    assert io.manifest("s") is None

    io.write_bucketed("d", spark.createDataFrame([(1, 0)], ddl), ["i1"], "r1", n_buckets=4)
    committed = io.manifest("d")
    with pytest.raises(ValueError, match="outside the declared buckets"):
        io.write_bucketed("d", rows, ["i2"], "r2", affected_buckets=[0])
    # the failed delta commit keeps the previous snapshot and its files
    assert io.manifest("d") == committed
    assert io.audit("d") is True
    data = tmp_path / "t" / "d" / "data"
    assert sorted(
        str(p.relative_to(data)) for p in data.rglob("*.parquet")
    ) == sorted(committed["files"])


def test_manifest_without_file_lineage_reads_as_absent(spark, tmp_path):
    """A manifest with no per-file ``files`` map (written before lineage
    moved into the manifest) reads as no commit: the stage is not
    complete, so it is recomputed, and a delta commit over it raises
    instead of stamping its untouched files with the new run_id."""
    import json

    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )

    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, 0), (2, 1)], "id long, bucket int")
    io.write_bucketed("s", df, ["i1"], "r1", n_buckets=2)
    assert io.is_complete("s", ["i1"])
    path = tmp_path / "t" / "s" / "_manifest.json"
    m = json.loads(path.read_text())
    del m["files"]
    path.write_text(json.dumps(m))
    assert io.manifest("s") is None
    assert not io.is_complete("s", ["i1"])
    with pytest.raises(ValueError, match="without a prior full commit"):
        io.write_bucketed("s", df.where("bucket = 0"), ["i2"], "r2", affected_buckets=[0])


@pytest.mark.parametrize("seed", [3, 11])
def test_random_ingest_sequences_converge(spark, english_model, seed, tmp_path):
    """Property-style: a random sequence of ingests (each adding new
    conversations, modifying existing ones, and removing some) always
    converges to the one-shot snapshots over the final table state."""
    import random

    rng = random.Random(seed)
    pipe = IncrementalKGPipeline(
        spark, str(tmp_path / "rnd"), english_model, salt_bucket=64, n_buckets=8
    )

    def mk(tag, n, s):
        return synth_transcripts(spark, n, seed=s).withColumn(
            "conv_id", F.concat(F.lit(f"{tag}_"), F.col("conv_id"))
        )

    current = mk("g0", 120, seed).persist()
    pipe.run(current)
    for step in range(1, 4):
        ops = []
        # add a fresh generation of conversations
        current = current.unionByName(mk(f"g{step}", 60, seed + step))
        ops.append("add")
        convs = [r.conv_id for r in current.select("conv_id").distinct().collect()]
        if rng.random() < 0.8 and len(convs) > 2:
            victim = rng.choice(convs)
            current = current.where(F.col("conv_id") != victim)
            ops.append(f"remove:{victim}")
        if rng.random() < 0.8:
            target = rng.choice(convs)
            current = current.withColumn(
                "text",
                F.when(
                    F.col("conv_id") == target,
                    F.concat(F.col("text"), F.lit(" Berlin")),
                ).otherwise(F.col("text")),
            )
            ops.append(f"modify:{target}")
        current = current.persist()
        r = pipe.run(current)
        assert not r.full_load, ops

    oneshot = IncrementalKGPipeline(
        spark, str(tmp_path / "one"), english_model, salt_bucket=64, n_buckets=8
    )
    r_one = oneshot.run(current)
    r_last = pipe.run(current)  # no-op pass exposes current snapshots
    assert r_last.executed == []
    for stage in ("decoded", "mentions", "triples", "candidates", "link_pairs"):
        assert r_last.snapshots[stage] == r_one.snapshots[stage], stage
    assert r_last.snapshots["_convs"] == r_one.snapshots["_convs"]
    assert _edges_set(pipe.io) == _edges_set(oneshot.io)
    # the whole-table states are rewritten by every ingest, not appended to
    for stage in ("triple_counts", "candidates", "link_pairs"):
        assert len(pipe.io.manifest(stage)["files"]) <= pipe.n_buckets, stage


def test_changed_parameters_recompute_the_invalidated_suffix(
    spark, english_model, tmp_path
):
    """State built with other pipeline parameters never takes the delta
    path (which would keep the old content under a new snapshot id):
    run_append refuses, and run folds the generation partitions and takes
    the full-load path, so exactly the invalidated suffix recomputes."""
    base = synth_transcripts(spark, 100, seed=51, heaps_vocab=0.5)
    extra = synth_transcripts(spark, 40, seed=52, heaps_vocab=0.5).withColumn(
        "conv_id", F.concat(F.lit("a_"), F.col("conv_id"))
    )
    tx = base.unionByName(extra)

    def pipe(**kw):
        return IncrementalKGPipeline(
            spark, str(tmp_path / "kg"), english_model, salt_bucket=64,
            n_buckets=4, **kw,
        )

    w2 = pipe()
    w2.run(base)
    w2.run_append(extra)
    assert w2._generation_count() == 1
    before = {s: w2.io.snapshot_id(s) for s in ("decoded", "mentions", "candidates")}

    w5 = pipe(cross_turn_window=5)
    with pytest.raises(ValueError, match="triples"):
        w5.run_append(extra)
    r = w5.run(tx)
    assert r.full_load and r.executed == ["triples", "triple_counts", "nodes", "edges"]
    assert r.skipped == ["decoded", "mentions", "candidates", "link_pairs"]
    assert {s: r.snapshots[s] for s in before} == before
    assert w5._generation_count() == 0
    mentions = w5.io.read("mentions").drop("bucket")
    want = template_triples(mentions, cross_turn_window=5)
    got = w5.io.read("triples").select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    _, want_edges = build_graph(mentions, want)
    assert _edges_set(w5.io) == {
        (e.src, e.pred, e.dst, e.weight) for e in want_edges.collect()
    }

    # the link threshold is an input of link_pairs
    r_t = pipe(cross_turn_window=5, link_threshold=0.5).run(tx)
    assert r_t.executed == ["link_pairs", "nodes", "edges"]


def test_conv_digests_order_insensitive(spark):
    tx = synth_transcripts(spark, 60, seed=5)
    d1 = {r.conv_id: r.digest for r in conv_digests(tx).collect()}
    d2 = {
        r.conv_id: r.digest
        for r in conv_digests(tx.orderBy(F.rand(7))).collect()
    }
    assert d1 == d2


def test_resample_provenance(spark, english_model, tmp_path):
    """kg_admin resample: stale provenance pointers are cleared (every
    entry points into the live triples table afterwards), counts are
    unchanged, and a count mismatch (real corruption) refuses loudly."""
    from hmm_crf_ner_fromscratch_spark.plans.incremental import PROVENANCE_CAP

    tx = synth_transcripts(spark, 150, seed=5, heaps_vocab=0.5)
    inc = IncrementalKGPipeline(
        spark, str(tmp_path / "rs"), english_model, salt_bucket=64, n_buckets=8
    )
    inc.run(tx)
    io = inc.io
    m0 = io.manifest("triple_counts")
    key_cols = ["subj_type", "subj", "pred", "obj_type", "obj"]

    # inject a stale provenance pointer (a superseded turn) on one key,
    # counts untouched -- exactly the staleness the delta contract allows
    state = io.read("triple_counts")
    # snapshot the pre-tamper counts eagerly (the overwrites below
    # invalidate this DataFrame's file listing)
    before = {
        tuple(r[c] for c in key_cols): r.n for r in state.collect()
    }
    first = state.orderBy(*key_cols).limit(1).collect()[0]
    cond = (
        (F.col("subj_type") == first.subj_type)
        & (F.col("subj") == first.subj)
        & (F.col("pred") == first.pred)
        & (F.col("obj_type") == first.obj_type)
        & (F.col("obj") == first.obj)
    )
    ghost = F.array(
        F.struct(
            F.lit("GHOST").alias("conv_id"),
            F.lit(999).cast("int").alias("turn_idx"),
        )
    )
    tampered = state.withColumn(
        "prov", F.when(cond, ghost).otherwise(F.col("prov"))
    ).localCheckpoint(eager=True)
    io.write("triple_counts", tampered, m0["inputs"], "tamper")
    assert (
        io.read("triple_counts").where(cond).collect()[0].prov[0].conv_id
        == "GHOST"
    )

    out = inc.resample_provenance()
    assert out["rows"] == m0["row_count"]  # counts (and keys) unchanged
    got = io.read("triple_counts")
    assert got.where(cond).collect()[0].prov[0].conv_id != "GHOST"
    # contract: EVERY provenance entry points into the live triples table
    live = io.read("triples").select(*key_cols, "conv_id", "turn_idx").distinct()
    exploded = got.select(*key_cols, F.explode("prov").alias("e")).select(
        *key_cols,
        F.col("e.conv_id").alias("conv_id"),
        F.col("e.turn_idx").alias("turn_idx"),
    )
    assert exploded.join(live, key_cols + ["conv_id", "turn_idx"], "left_anti").count() == 0
    # counts key-for-key unchanged vs the pre-tamper state
    after = {tuple(r[c] for c in key_cols): r.n for r in got.collect()}
    assert before == after
    # prov stays within the cap
    assert got.where(F.size("prov") > PROVENANCE_CAP).count() == 0

    # refusal path: a count that disagrees with the triples re-aggregate
    # is corruption, not staleness -- the op must not paper over it
    m1 = io.manifest("triple_counts")
    corrupt = (
        io.read("triple_counts")
        .withColumn("n", F.when(cond, F.col("n") + 1).otherwise(F.col("n")))
        .localCheckpoint(eager=True)
    )
    io.write("triple_counts", corrupt, m1["inputs"], "corrupt")
    with pytest.raises(RuntimeError, match="disagree"):
        inc.resample_provenance()


def test_auto_rebalance_bounds_generations(spark, english_model, tmp_path):
    """Round-7 default-on state bounding: an append chain folds its
    generation partitions back into the hash layout once the threshold
    is reached, without changing any snapshot or the edge content, and
    the incremental lineage path (untouched files keep their recorded
    rows/checksums/run_id) stays audit-clean throughout."""
    inc = IncrementalKGPipeline(
        spark,
        str(tmp_path / "auto"),
        english_model,
        salt_bucket=64,
        n_buckets=8,
        auto_rebalance_generations=2,  # fold on every 2nd generation
    )
    batches = [
        synth_transcripts(spark, 80, seed=500 + k).withColumn(
            "conv_id", F.concat(F.lit(f"g{k}_"), F.col("conv_id"))
        )
        for k in range(4)
    ]
    for k, b in enumerate(batches):
        inc.run_append(b)
        if k == 2:
            # the fold ran after this batch: rebalance repartitions each
            # stage by bucket, so every bucket lists exactly one file
            assert inc._generation_count() == 0
            for stage in ("decoded", "mentions", "triples", "_convs"):
                files = inc.io.manifest(stage)["files"]
                per_bucket = Counter(f.split(os.sep, 1)[0] for f in files)
                assert set(per_bucket.values()) == {1}, (stage, per_bucket)
    # generation count stays bounded below the threshold: the fold at
    # batch 3 cleared generations 8 and 9; only the post-fold batch's
    # fresh generation may remain
    decoded_buckets = {int(k) for k in inc.io.manifest("decoded")["buckets"]}
    assert 8 not in decoded_buckets and 9 not in decoded_buckets, decoded_buckets
    assert inc._generation_count() < 2
    # lineage stayed consistent through delta commits + rebalances
    assert inc.io.audit("decoded") and inc.io.audit("mentions")
    # converges to the one-shot result over the same content
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    one = IncrementalKGPipeline(
        spark, str(tmp_path / "one"), english_model, salt_bucket=64, n_buckets=8
    )
    one.run(full)
    assert _edges_set(inc.io) == _edges_set(one.io)


def test_incremental_lineage_reuses_untouched_rows(spark, english_model, tmp_path):
    """A delta commit must re-read footers ONLY for files in rewritten
    partitions: rows for untouched files keep the run_id that wrote them
    (and their recorded checksums), while every row carries the new
    snapshot id."""
    inc = IncrementalKGPipeline(
        spark,
        str(tmp_path / "lin"),
        english_model,
        salt_bucket=64,
        n_buckets=8,
        auto_rebalance_generations=None,  # opt-out keeps generations
    )
    b0 = synth_transcripts(spark, 120, seed=600)
    b1 = synth_transcripts(spark, 60, seed=601).withColumn(
        "conv_id", F.concat(F.lit("n_"), F.col("conv_id"))
    )
    r0 = inc.run_append(b0)
    lin0 = {r.file: r for r in inc.io.lineage("decoded").collect()}
    r1 = inc.run_append(b1)
    lin1 = {r.file: r for r in inc.io.lineage("decoded").collect()}
    snap1 = inc.io.snapshot_id("decoded")
    assert r0.run_id != r1.run_id
    untouched = set(lin0) & set(lin1)
    assert untouched, "second append should leave first-load buckets alone"
    for f in untouched:
        assert lin1[f].run_id == lin0[f].run_id  # original writer kept
        assert lin1[f].checksum == lin0[f].checksum
        assert lin1[f].snapshot_id == snap1  # but snapshot advanced
    new_files = set(lin1) - set(lin0)
    assert new_files and all(lin1[f].run_id == r1.run_id for f in new_files)
    assert inc.io.audit("decoded")
