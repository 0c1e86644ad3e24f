"""spark-submit entry point for the KG pipeline (north-rule deployment
path: ``spark-submit --py-files kgsparkle.zip tools/submit_pipeline.py``).

Builds the package zip if needed, trains the HMM from a CoNLL path, runs
the checkpointed pipeline over synthetic (or parquet) transcripts, prints
stage row counts. Exercised in this sandbox as:

  /opt/spark/bin/spark-submit --master 'local[8]' \
      --py-files /tmp/kgsparkle.zip tools/submit_pipeline.py \
      --n-turns 20000 --work-dir /tmp/submit_run
"""

from __future__ import annotations

import argparse
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-turns", type=int, default=20000)
    ap.add_argument("--work-dir", default="/tmp/submit_run")
    ap.add_argument("--train-conll", default="/root/reference/English/train.txt")
    ap.add_argument("--transcripts-parquet", default=None,
                    help="read transcripts from parquet instead of synthesizing")
    args = ap.parse_args()

    # under spark-submit the session comes from the submit conf; the
    # package arrives via --py-files
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
    from hmm_crf_ner_fromscratch_spark.plans.incremental import (
        IncrementalKGPipeline,
    )
    from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
    from hmm_crf_ner_fromscratch_spark.sources.transcripts import synth_transcripts

    model = train_hmm(read_conll(spark, args.train_conll, doc_id="train"))
    if args.transcripts_parquet:
        tx = spark.read.parquet(args.transcripts_parquet)
    else:
        tx = synth_transcripts(spark, args.n_turns, seed=42)
    pipe = IncrementalKGPipeline(spark, args.work_dir, model)
    res = pipe.run(tx)
    print(f"run_id={res.run_id} executed={res.executed} skipped={res.skipped}")
    for stage in res.snapshots:
        rows = pipe.io.manifest(stage)["row_count"]
        m = res.metrics.get(stage)
        if m:
            rate = round(rows / m["sec"]) if m["sec"] > 0 else None
            print(f"stage={stage} rows={rows} sec={m['sec']} rows/s={rate}")
        else:
            print(f"stage={stage} rows={rows} (skipped)")
    spark.stop()


if __name__ == "__main__":
    main()
