"""Operational CLI for checkpointed/incremental KG stage stores.

Usage:
  python tools/kg_admin.py status  <work_dir>             # stage manifests
  python tools/kg_admin.py lineage <work_dir> <stage>     # per-file lineage
  python tools/kg_admin.py audit   <work_dir> <stage>     # full content verify
  python tools/kg_admin.py compact <work_dir> <stage>     # rewrite small files
  python tools/kg_admin.py rebalance <work_dir> [n_buckets]  # fold generations
  python tools/kg_admin.py resample  <work_dir>           # refresh triple-count provenance

`audit` re-reads the stage and re-derives the content checksum (the
per-commit path is single-pass and does not re-scan); `compact` is the
rewrite-data-files maintenance job of a bucketed stage (decoded, mentions,
triples, _convs) and must preserve the snapshot id. `rebalance` defaults
to the bucket count the stage manifests record.
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

        # these ops never decode, so no model is needed
        if cmd == "resample":
            pipe = IncrementalKGPipeline(spark, work_dir, None)
            print(json.dumps(pipe.resample_provenance()))
            return 0
        # rebalance's JOB is changing the modulus; default = keep it
        cli = int(sys.argv[3]) if len(sys.argv) > 3 else None
        n_buckets = cli if cli is not None else (stored_n_buckets() or 64)
        pipe = IncrementalKGPipeline(spark, work_dir, None, n_buckets=n_buckets)
        print(json.dumps({"rebalanced": pipe.rebalance()}))
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
        if not m.get("bucketed"):
            print(json.dumps({"stage": stage, "error": "not a bucketed stage"}))
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
