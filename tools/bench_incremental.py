"""Incremental-ingest benchmark: full load vs delta append at scale.

Builds an n-turn transcript corpus, times (1) the initial full load
through IncrementalKGPipeline, (2) a run_append of a ~pct% batch of new
conversations, and (3) what a one-shot build of the grown corpus into a
fresh work dir costs (the cost incremental ingest avoids). Prints one JSON line.

Usage: python tools/bench_incremental.py [n_turns] [pct] [cores]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    pct = float(sys.argv[2]) if len(sys.argv) > 2 else 5.0
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from pyspark.sql import functions as F

    from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
    from hmm_crf_ner_fromscratch_spark.plans.incremental import (
        IncrementalKGPipeline,
    )
    from hmm_crf_ner_fromscratch_spark.session import get_spark
    from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
    from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
        synth_transcripts,
    )

    spark = get_spark(app_name="bench_incr", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    model = train_hmm(
        read_conll(spark, "/root/reference/English/train.txt", doc_id="en")
    )

    base_dir = "/tmp/bench_incr"
    shutil.rmtree(base_dir, ignore_errors=True)
    tx = synth_transcripts(spark, n_turns, seed=5).persist()
    tx.count()
    delta_turns = int(n_turns * pct / 100)
    delta = (
        synth_transcripts(spark, delta_turns, seed=99)
        .withColumn("conv_id", F.concat(F.lit("new_"), F.col("conv_id")))
        .persist()
    )
    delta.count()

    pipe = IncrementalKGPipeline(
        spark, os.path.join(base_dir, "inc"), model, n_buckets=64
    )
    t0 = time.time()
    r_full = pipe.run(tx)
    full_sec = time.time() - t0

    t0 = time.time()
    r_app = pipe.run_append(delta)
    append_sec = time.time() - t0

    # what the append avoided: a one-shot build of the grown corpus
    grown = tx.unionByName(delta)
    batch = IncrementalKGPipeline(spark, os.path.join(base_dir, "batch"), model)
    t0 = time.time()
    batch.run(grown)
    recompute_sec = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "incremental_ingest_speedup",
                "n_turns": n_turns,
                "delta_pct": pct,
                "cores": cores,
                "full_load_sec": round(full_sec, 1),
                "append_sec": round(append_sec, 1),
                "batch_recompute_sec": round(recompute_sec, 1),
                "speedup_vs_recompute": round(recompute_sec / append_sec, 1),
                "delta_rows": r_app.metrics.get("decoded", {}).get(
                    "delta_rows"
                ),
                "affected_buckets": len(r_app.affected_buckets),
                "full_executed": r_full.executed,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
