"""Which public functions are wrapped as layer spans, and their counts.

Each entry wraps the attribute its caller resolves: modules that import a
function by name at import time (``graph``, ``incremental``) are patched
on that module; callers that import at call time (``entry_queries``) see
the patched defining module. Counts run only in the traced run.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from spans import COUNTS_SPAN


def _rows(out) -> dict:
    return {"rows_out": out.count()}


def _decode_counts(token_col_default="tokens"):
    def counts(args, kwargs, out):
        df = args[0]
        col = kwargs.get("token_col", token_col_default)
        tokens = df.select(F.sum(F.size(col))).first()[0] or 0
        return {"tokens": tokens, "rows_out": out.count()}

    return counts


def _block_stats(blocked, max_block: int) -> dict:
    """Attempted pairs under the size guard, and the blocks it drops."""
    sizes = blocked.groupBy("block").agg(F.count(F.lit(1)).alias("bn"))
    r = sizes.agg(
        F.sum(F.when(F.col("bn") <= max_block, F.col("bn") * (F.col("bn") - 1) / 2)).alias("p"),
        F.sum(F.when(F.col("bn") > max_block, 1)).alias("dropped"),
    ).first()
    return {
        "candidates": blocked.select("key").distinct().count(),
        "pairs_scored": int(r.p or 0),
        "guard_dropped_blocks": int(r.dropped or 0),
    }


def _score_counts(args, kwargs, out):
    from hmm_crf_ner_fromscratch_spark.operators.linking import DEFAULT_MAX_BLOCK

    blocked = args[0]
    st = _block_stats(blocked, kwargs.get("max_block", DEFAULT_MAX_BLOCK))
    # a rescoring call sees only the changed blocks; the guard applied
    # to full block sizes, which ``sizes`` carries
    sizes = kwargs.get("sizes")
    if sizes is not None:
        max_block = kwargs.get("max_block", DEFAULT_MAX_BLOCK)
        st["guard_dropped_blocks"] = (
            blocked.select("block").distinct()
            .join(sizes.where(F.col("bn") > max_block), "block").count()
        )
    st["pairs_linked"] = out.count()
    return st


def _link_edges_counts(args, kwargs, out):
    from hmm_crf_ner_fromscratch_spark.operators import linking

    blocked = linking.blocked_candidates(linking.candidate_features(args[0]))
    st = _block_stats(blocked, kwargs.get("max_block", linking.DEFAULT_MAX_BLOCK))
    st["pairs_linked"] = out.count()
    return st


def _cc_counts(args, kwargs, out):
    return {
        "edges_in": args[0].count(),
        "nontrivial_components": out.select("component").distinct().count(),
    }


def _graph_counts(args, kwargs, out):
    nodes, edges = out
    return {"nodes": nodes.count(), "edges": edges.count()}


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _write_counts(args, kwargs, out):
    io, stage = args[0], args[1]
    data = os.path.join(io.base_dir, stage, "data")
    affected = kwargs.get("affected_buckets", args[5] if len(args) > 5 else None)
    bucket_col = kwargs.get("bucket_col", "bucket")
    if affected is None:
        dirs = [data]
        touched = len([d for d in os.listdir(data) if d.startswith(bucket_col + "=")])
    else:
        dirs = [os.path.join(data, f"{bucket_col}={int(b)}") for b in affected]
        touched = len(affected)
    n = size = 0
    for d in dirs:
        a, b = _dir_files(d)
        n, size = n + a, size + b
    return {"commits": 1, "files_written": n, "bytes_written": size, "buckets_touched": touched}


def _plain_write_counts(args, kwargs, out):
    io, stage = args[0], args[1]
    n, size = _dir_files(os.path.join(io.base_dir, stage, "data"))
    return {"commits": 1, "files_written": n, "bytes_written": size}


def _dedup_candidates(df, kind: str, kwargs) -> int:
    """Candidate pairs before the exact-Jaccard confirm, rebuilt from the
    operator's public helpers."""
    from hmm_crf_ner_fromscratch_spark.operators import dedup

    sh = dedup.shingle_sets(df)
    if kind == "minhash":
        n_hashes = kwargs.get("n_hashes", dedup.N_MINHASH)
        keys = sh.select(
            "doc_id", *dedup.minhash_signature_cols(n_hashes)
        ).select(
            "doc_id", dedup.minhash_band_col(n_hashes, kwargs.get("band_size", dedup.BAND_SIZE))
        ).select("doc_id", F.concat_ws(":", "bk.band", "bk.bh").alias("k"))
    else:
        ex = sh.select("doc_id", F.explode("shingles").alias("k"))
        cap = kwargs.get("df_cap", 20)
        rare = ex.groupBy("k").agg(F.count("*").alias("df")).where(F.col("df") <= cap)
        keys = ex.join(rare.select("k"), "k")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, [F.col("a.k") == F.col("b.k"), F.col("a.doc_id") < F.col("b.doc_id")])
        .select("a.doc_id", "b.doc_id").distinct().count()
    )


def _dedup_counts(kind):
    def counts(args, kwargs, out):
        cands = _dedup_candidates(args[0], kind, kwargs)
        confirmed = out.count()
        return {"candidate_pairs": cands, "confirmed_pairs": confirmed}

    return counts


def install(tracer) -> None:
    from hmm_crf_ner_fromscratch_spark.operators import (
        components, dedup, fused, graph, hmm,
    )
    from hmm_crf_ner_fromscratch_spark.plans import incremental, lineage

    w = tracer.wrap
    w(hmm, "train_hmm", "hmm.train_hmm")
    w(fused, "decode_and_extract", "fused.decode_and_extract", _decode_counts())
    w(incremental, "decode_hmm", "hmm.decode_hmm", _decode_counts())
    w(incremental, "extract_mentions", "mentions.extract_mentions", lambda a, k, o: _rows(o))
    w(incremental, "template_triples", "relations.template_triples", lambda a, k, o: _rows(o))
    w(graph, "link_edges", "linking", _link_edges_counts)
    w(incremental, "score_block_pairs", "linking", _score_counts)
    w(components, "connected_components", "components", _cc_counts)
    w(graph, "connected_components", "components", _cc_counts)
    w(graph, "build_graph", "graph.build_graph", _graph_counts)
    w(incremental, "materialize_graph_from_counts", "graph.materialize", _graph_counts)
    w(lineage.ParquetManifestTableIO, "write_bucketed", "lineage.write_bucketed", _write_counts)
    w(lineage.ParquetManifestTableIO, "write", "lineage.write", _plain_write_counts)
    w(incremental, "conv_digests", "incremental.conv_digests")
    w(incremental.IncrementalKGPipeline, "run", "incremental.run")
    w(dedup, "minhash_near_duplicates", "dedup.minhash", _dedup_counts("minhash"))
    w(dedup, "jaccard_near_duplicates", "dedup.jaccard", _dedup_counts("jaccard"))


# layer span names, each reported with LAYER_FIELDS and its COUNTS
LAYERS = [
    "hmm.train_hmm", "fused.decode_and_extract", "hmm.decode_hmm",
    "mentions.extract_mentions", "relations.template_triples", "linking",
    "components", "graph.build_graph", "graph.materialize",
    "lineage.write_bucketed", "lineage.write", "incremental.conv_digests",
    "incremental.run", "dedup.minhash", "dedup.jaccard",
]
LAYER_FIELDS = {
    "self_s": "s", "jobs": "count", "exec_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "codegen_ms": "ms",
}
COUNTS = {
    "fused.decode_and_extract": {"tokens": "count", "rows_out": "count"},
    "hmm.decode_hmm": {"tokens": "count", "rows_out": "count"},
    "mentions.extract_mentions": {"rows_out": "count"},
    "relations.template_triples": {"rows_out": "count"},
    "linking": {"candidates": "count", "pairs_scored": "count",
                "pairs_linked": "count", "guard_dropped_blocks": "count"},
    "components": {"edges_in": "count", "nontrivial_components": "count"},
    "graph.build_graph": {"nodes": "count", "edges": "count"},
    "graph.materialize": {"nodes": "count", "edges": "count"},
    "lineage.write_bucketed": {"commits": "count", "files_written": "count",
                               "bytes_written": "bytes", "buckets_touched": "count"},
    "dedup.minhash": {"candidate_pairs": "count", "confirmed_pairs": "count"},
    "dedup.jaccard": {"candidate_pairs": "count", "confirmed_pairs": "count"},
}
ENGINE_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count", "exec_run_s": "s",
    "exec_cpu_s": "s", "gc_s": "s", "spill_bytes": "bytes",
}


def per_layer(agg: dict) -> dict:
    """Flatten span aggregates into the per-layer metric set: every name
    is present on every workload (0 where the layer did not run)."""
    out: dict = {}

    def put(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    for layer in LAYERS:
        a = agg.get(layer, {})
        for f, unit in LAYER_FIELDS.items():
            put(f"{layer}.{f}", a.get(f, 0.0), unit)
        for c, unit in COUNTS.get(layer, {}).items():
            put(f"{layer}.{c}", a.get(c, 0), unit)
        if "tokens" in COUNTS.get(layer, {}):
            put(f"{layer}.tokens_per_s", a["tokens"] / a["wall_s"] if a else 0.0, "1/s")
    lk = agg.get("linking", {})
    put("linking.linked_frac", lk.get("pairs_linked", 0) / lk["pairs_scored"] if lk.get("pairs_scored") else 0.0, "share")
    for layer in ("dedup.minhash", "dedup.jaccard"):
        d = agg.get(layer, {})
        put(f"{layer}.confirm_frac",
            d.get("confirmed_pairs", 0) / d["candidate_pairs"] if d.get("candidate_pairs") else 0.0, "share")
    # engine totals are the program's work: the benchmark's own counting
    # queries are reported only under trace.*
    program = [a for k, a in agg.items() if k != COUNTS_SPAN]
    for f, unit in ENGINE_FIELDS.items():
        put(f"spark.{f}", sum(a.get(f, 0) for a in program), unit)
    put("spark.codegen_ms", sum(a["codegen_ms"] for a in program), "ms")
    put("spark.planning_ms", sum(a["planning_ms"] for a in program), "ms")
    ops = {k: a for k, a in agg.items() if k.startswith("op.")}
    # self times of properly nested spans partition each operation's
    # wall time: the layer share is what the named layers account for
    layer_self = sum(a["self_s"] for k, a in agg.items() if k not in ops and k != COUNTS_SPAN)
    op_self = sum(a["self_s"] for a in ops.values())
    put("trace.layer_coverage", layer_self / (layer_self + op_self) if layer_self + op_self else 0.0, "share")
    counts = agg.get(COUNTS_SPAN, {})
    put("trace.counts_s", counts.get("wall_s", 0.0), "s")
    put("trace.counts_jobs", counts.get("jobs", 0), "count")
    # per kind mean, summed: one kg_full load or one flagship round, as op_s
    put("trace.op_s", sum(a["wall_s"] / a["n"] for a in ops.values() if a["n"]), "s")
    return out
