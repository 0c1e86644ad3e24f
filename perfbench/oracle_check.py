"""Confirms and pins the flagship correctness check.

Default mode generates a small documents table with the benchmark's
generator, builds the registered kg_pipeline query on Spark, and compares
its edge table with the repository's DuckDB oracle for the same query
(order-insensitive, full precision). The oracle is a recursive-CTE
Viterbi: ~20 s at 50 documents, and out of reach at the benchmark's
5000 (minutes, and more than 9 GB of memory).

``--pin A:B`` builds kg_pipeline at the benchmark's size for seeds A..B-1
and writes their (edge count, order-insensitive edges hash) to
``edges_pinned.json``, which every flagship run checks its builds
against. Pin from code that passes the oracle comparison.

    python3 perfbench/oracle_check.py [--docs 50] [--seed 1]
    python3 perfbench/oracle_check.py --pin 0:128

Exits 0 when Spark and DuckDB agree (or the pins are written), 1
otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin(bench, gen, seeds) -> int:
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

    edges = {}
    spark = bench.start_spark(trace=False)
    try:
        for seed in seeds:
            pdf, _ = gen.documents(bench.DOCS, seed, dup_frac=bench.DUP_FRAC)
            docs = bench._write_docs(pdf, f"pin_{seed}")
            edges[str(seed)] = list(bench._edges_hash(QUERIES["kg_pipeline"](spark, docs)))
            shutil.rmtree(docs)
            print(f"seed {seed}: {edges[str(seed)]}", flush=True)
            with open(bench.PINNED, "w", encoding="utf-8") as f:
                json.dump({"docs": bench.DOCS, "dup_frac": bench.DUP_FRAC, "edges": edges}, f)
                f.write("\n")
    finally:
        bench.stop_spark(spark)
    return 0


def confirm(bench, gen, n_docs: int, seed: int) -> int:
    import duckdb
    from validate_oracles import frame_signature

    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import ORACLES, QUERIES

    pdf, _ = gen.documents(n_docs, seed, dup_frac=bench.DUP_FRAC)
    docs = bench._write_docs(pdf, "oracle_docs")
    spark = bench.start_spark(trace=False)
    try:
        spark_df = QUERIES["kg_pipeline"](spark, docs)
        edges_hash = bench._edges_hash(spark_df)
        spark_sig = frame_signature(spark_df.toPandas())
    finally:
        bench.stop_spark(spark)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}/documents.parquet'")
    duck_sig = frame_signature(con.sql(ORACLES["kg_pipeline"]).df())
    ok = spark_sig == duck_sig
    print(f"kg_pipeline docs={n_docs} seed={seed} edges={len(spark_sig[1])} "
          f"hash={edges_hash} duckdb_oracle={'MATCH' if ok else 'MISMATCH'}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=50)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pin", help="seed range A:B to pin at the benchmark's size")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    import gen
    import run as bench

    shutil.rmtree(bench.WORK, ignore_errors=True)
    os.makedirs(bench.WORK)
    try:
        if args.pin:
            a, b = map(int, args.pin.split(":"))
            return pin(bench, gen, range(a, b))
        return confirm(bench, gen, args.docs, args.seed)
    finally:
        shutil.rmtree(bench.WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
