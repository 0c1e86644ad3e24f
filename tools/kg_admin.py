"""Operational CLI for checkpointed/incremental KG stage stores.

Usage:
  python tools/kg_admin.py status  <work_dir>             # stage manifests
  python tools/kg_admin.py lineage <work_dir> <stage>     # per-file lineage
  python tools/kg_admin.py audit   <work_dir> <stage>     # full content verify
  python tools/kg_admin.py compact <work_dir> <stage>     # rewrite small files
  python tools/kg_admin.py rebalance <work_dir> [n_buckets]  # fold generations
  python tools/kg_admin.py resample  <work_dir> [n_buckets]  # refresh triple-count provenance

`audit` re-reads the stage and re-derives the content checksum (the
per-commit path is single-pass and does not re-scan); `compact` is the
rewrite-data-files maintenance job and must preserve the snapshot id.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    cmd, work_dir = sys.argv[1], sys.argv[2]
    stage = sys.argv[3] if len(sys.argv) > 3 else None

    from hmm_crf_ner_fromscratch_spark.plans.lineage import (
        ParquetManifestTableIO,
    )
    from hmm_crf_ner_fromscratch_spark.session import get_spark

    spark = get_spark(app_name="kg_admin", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    io = ParquetManifestTableIO(spark, work_dir)

    if cmd == "status":
        for name in sorted(os.listdir(work_dir)):
            m = io.manifest(name)
            if m is None:
                continue
            print(
                json.dumps(
                    {
                        "stage": name,
                        "snapshot": m["snapshot_id"],
                        "rows": m["row_count"],
                        "files": len(m["files"]),
                        "bucketed": bool(m.get("bucketed")),
                        "complete": m["complete"],
                    }
                )
            )
        return 0
    def stored_n_buckets() -> int | None:
        """The bucketing modulus recorded in the state's own manifests
        (any complete bucketed stage; they all share the pipeline's
        n_buckets). None for pre-round-5 states that predate the field."""
        for name in sorted(os.listdir(work_dir)):
            m = io.manifest(name)
            if m and m.get("complete") and m.get("bucketed"):
                if m.get("n_buckets") is not None:
                    return int(m["n_buckets"])
        return None

    if cmd in ("rebalance", "resample"):
        from hmm_crf_ner_fromscratch_spark.plans.incremental import (
            IncrementalKGPipeline,
        )

        stored = stored_n_buckets()
        cli = int(sys.argv[3]) if len(sys.argv) > 3 else None
        if cmd == "resample":
            # resample must keep the state's modulus: a different one
            # silently rebuckets and breaks read_buckets pruning
            if cli is not None and stored is not None and cli != stored:
                print(json.dumps({
                    "error": f"state is bucketed mod {stored}, refusing "
                             f"resample at {cli}"}))
                return 1
            n_buckets = stored if stored is not None else (cli or 64)
        else:
            # rebalance's JOB is changing the modulus; default = keep it
            n_buckets = cli if cli is not None else (stored or 64)
        # these ops never decode, so no model is needed
        pipe = IncrementalKGPipeline(spark, work_dir, None, n_buckets=n_buckets)
        if cmd == "rebalance":
            print(json.dumps({"rebalanced": pipe.rebalance()}))
        else:
            print(json.dumps(pipe.resample_provenance()))
        return 0
    if stage is None:
        print(__doc__)
        return 2
    if cmd == "lineage":
        for r in io.lineage(stage).orderBy("file").collect():
            print(json.dumps({"file": os.path.basename(r.file), "rows": r.rows,
                              "checksum": r.checksum, "snapshot": r.snapshot_id}))
        return 0
    if cmd == "audit":
        ok = io.audit(stage)
        print(json.dumps({"stage": stage, "audit": "PASS" if ok else "FAIL"}))
        return 0 if ok else 1
    if cmd == "compact":
        m = io.manifest(stage)
        if m is None:
            print(json.dumps({"stage": stage, "error": "no committed manifest"}))
            return 1
        before = len(m["files"])
        snap = io.compact(stage)
        after = len(io.manifest(stage)["files"])
        print(json.dumps({"stage": stage, "snapshot": snap,
                          "files_before": before, "files_after": after}))
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
