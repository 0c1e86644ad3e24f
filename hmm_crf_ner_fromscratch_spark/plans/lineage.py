"""K9 support: table IO with snapshot manifests + per-partition lineage.

The one table layer is ``ParquetManifestTableIO``: Hive-layout Parquet
plus a JSON manifest per stage emulating the snapshot/commit metadata the
pipeline needs for exact resume, with no Iceberg runtime jar. What it does
and does not replicate is explicit: snapshot-id-addressed reads and commit
atomicity via rename -> yes; Iceberg's snapshot isolation / time travel
-> no.

Lineage: after each stage commit, one row per output file (= output
partition) is appended to ``<stage>/_lineage.parquet``: stage, run_id,
snapshot_id, file, rows, checksum (a parquet-footer fingerprint; the
content-defined global checksum lives in the manifest as ``content_xor``).
Resume correctness = manifest complete AND input snapshot ids unchanged.

Single-pass commit: the content checksum (order-insensitive xxhash XOR over
all rows) and row count are computed *during the write job* via
``df.observe`` -- no second scan of the written data. Per-file row counts
come from the parquet footers (metadata-only reads, threadpooled on the
driver: the same listing+footer work an Iceberg commit does when building
its manifest, O(n_files) not O(rows)). ``audit(stage)`` re-reads the data
and re-derives the content XOR for integrity verification on demand --
that full-scan path is opt-in instead of paid on every stage commit.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LINEAGE_SCHEMA = (
    "stage string, run_id string, file string, rows bigint, "
    "checksum bigint, snapshot_id string"
)
_LINEAGE_COLS = ["stage", "run_id", "file", "rows", "checksum", "snapshot_id"]


def _write_lineage(spark: SparkSession, lineage_rows: list, path: str) -> None:
    """One-file lineage-table write. Goes through pandas so the plan is an
    Arrow LocalTableScan: createDataFrame on a plain Python list builds a
    pickled RDD with defaultParallelism partitions, and coalesce(1) then
    makes ONE task drain all of those python-worker partitions
    sequentially -- measured ~4.3 s per commit for a 13-row table at
    local[32] vs 0.16 s on the Arrow path."""
    import pandas as pd

    pdf = pd.DataFrame(lineage_rows, columns=_LINEAGE_COLS)
    spark.createDataFrame(pdf, schema=_LINEAGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _stable_hash(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


def _footer_meta(path: str) -> tuple[int, int, int]:
    """(num_rows, file_bytes, fingerprint) for one parquet file.

    The fingerprint hashes the raw footer bytes (schema, per-column
    statistics, row-group offsets) + file size -- metadata-only I/O that
    still changes whenever file content meaningfully changes.
    """
    import pyarrow.parquet as pq

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(0, size - 8))
        tail = f.read(8)
        flen = int.from_bytes(tail[:4], "little") if len(tail) == 8 else 0
        flen = min(flen, max(0, size - 8))
        f.seek(size - 8 - flen)
        footer = f.read(flen + 8)
    digest = hashlib.sha256(footer + str(size).encode()).digest()
    fingerprint = int.from_bytes(digest[:8], "big", signed=True)
    num_rows = pq.ParquetFile(path).metadata.num_rows
    return num_rows, size, fingerprint


def _list_parquet_files(data_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out.append(os.path.join(root, name))
    return sorted(out)


class ParquetManifestTableIO:
    """Stage-addressed table store under ``base_dir`` with manifest-based
    commit/resume."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- paths --
    def _dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    # -- manifest --
    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            return json.load(f)

    def snapshot_id(self, stage: str) -> str | None:
        m = self.manifest(stage)
        return m["snapshot_id"] if m and m.get("complete") else None

    def is_complete(self, stage: str, input_snapshots: list[str]) -> bool:
        m = self.manifest(stage)
        return bool(
            m
            and m.get("complete")
            and m.get("inputs") == input_snapshots
            and os.path.isdir(os.path.join(self._dir(stage), "data"))
        )

    # -- IO --
    def write(
        self,
        stage: str,
        df: DataFrame,
        input_snapshots: list[str],
        run_id: str,
    ) -> str:
        """Write stage output + lineage, then commit the manifest (the
        manifest write is the atomic commit point: written to a temp file
        and renamed).

        One data scan total: the content checksum (order-insensitive
        xxhash64 XOR over all rows -- layout-independent, so the snapshot
        id is identical under any partitioning) rides the write job via
        ``observe``; per-file lineage comes from parquet footers.
        """
        from pyspark.sql import Observation

        data_dir = os.path.join(self._dir(stage), "data")
        cols = [f.name for f in df.schema.fields]
        obs = Observation(f"lineage_{stage}_{run_id}")
        observed = df.observe(
            obs,
            # bit_xor: no ANSI overflow, any accumulation order
            F.bit_xor(F.xxhash64(*cols)).alias("content_xor"),
            F.count(F.lit(1)).alias("rows"),
        )
        observed.write.mode("overwrite").parquet(data_dir)
        got = obs.get
        global_xor = int(got["content_xor"]) if got["content_xor"] is not None else 0
        total_rows = int(got["rows"])

        snapshot = _stable_hash(
            stage, *input_snapshots, str(total_rows), str(global_xor)
        )

        files = _list_parquet_files(data_dir)
        with ThreadPoolExecutor(max_workers=min(32, max(1, len(files)))) as ex:
            metas = list(ex.map(_footer_meta, files))
        lineage_rows = [
            (stage, run_id, path, int(n), int(fp), snapshot)
            for path, (n, _size, fp) in zip(files, metas)
        ]
        _write_lineage(
            self.spark,
            lineage_rows,
            os.path.join(self._dir(stage), "_lineage.parquet"),
        )

        manifest = {
            "stage": stage,
            "snapshot_id": snapshot,
            "inputs": input_snapshots,
            "run_id": run_id,
            "row_count": total_rows,
            "content_xor": global_xor,
            "columns": cols,
            "schema": df.schema.jsonValue(),
            "n_files": len(lineage_rows),
            "complete": True,
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(stage))
        return snapshot

    def read(self, stage: str) -> DataFrame:
        m = self.manifest(stage)
        return self._read_data(stage, m.get("schema") if m else None)

    def _read_data(self, stage: str, schema: dict | None) -> DataFrame:
        """Read a stage's data dir with its recorded schema: a commit of an
        empty partitioned frame writes no files, so inference has nothing
        to read. Manifests without a schema fall back to inference."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(os.path.join(self._dir(stage), "data"))

    # -- bucketed commits (incremental ingest) --
    def write_bucketed(
        self,
        stage: str,
        df: DataFrame,
        input_snapshots: list[str],
        run_id: str,
        affected_buckets: list[int] | None = None,
        bucket_col: str = "bucket",
        n_buckets: int | None = None,
    ) -> str:
        """Bucket-partitioned stage commit with a per-bucket content ledger.

        ``n_buckets`` records the bucketing MODULUS in the manifest so
        later maintenance jobs (rebalance/resample) can derive it from
        state instead of trusting a CLI default -- running those with a
        different modulus silently rebuckets the state and breaks
        read_buckets pruning (round-4 ADVICE). Omitted -> inherited from
        the stage's previous manifest when one exists.

        ``affected_buckets is None`` -> full overwrite of the stage.
        Otherwise ``df`` must hold the *complete new content of exactly
        those buckets*; they are replaced via dynamic partition overwrite
        (untouched buckets keep their files AND their ledger entries, so
        commit I/O is proportional to the delta, not the table).

        The ledger maps bucket -> (rows, content XOR). The global row
        count / XOR -- and therefore the snapshot id -- are derived from
        the ledger, so an incremental commit chain converges to the
        IDENTICAL snapshot id a one-shot write of the same content
        produces (XOR is associative; layout never enters the hash).
        """
        data_dir = os.path.join(self._dir(stage), "data")
        prev = self.manifest(stage) if affected_buckets is not None else None
        if affected_buckets is not None and not (prev and prev.get("complete")):
            raise ValueError(f"delta commit on {stage} without a prior full commit")
        cols = (
            prev["columns"]
            if prev
            else [c for c in df.columns if c != bucket_col]
        )
        # data columns first, then the partition column, as partition
        # discovery orders them on read-back
        schema = df.select(*cols, bucket_col).schema.jsonValue()

        if affected_buckets is not None:
            # the caller materialized df (eager checkpoint) so it no longer
            # reads these files; dropping the affected partition dirs up
            # front (a) makes an all-rows-removed bucket disappear -- a
            # dynamic overwrite would never touch a partition it writes no
            # rows for -- and (b) guarantees the ledger read-back below
            # sees only fresh content, never stale files
            import shutil

            for b in affected_buckets:
                stale = os.path.join(data_dir, f"{bucket_col}={int(b)}")
                if os.path.isdir(stale):
                    shutil.rmtree(stale)

        conf = self.spark.conf
        prev_mode = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        conf.set(
            "spark.sql.sources.partitionOverwriteMode",
            "dynamic" if affected_buckets is not None else "static",
        )
        try:
            df.write.mode("overwrite").partitionBy(bucket_col).parquet(data_dir)
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        # per-bucket ledger refresh: scan ONLY the (re)written buckets
        # (partition pruning on the read-back), hash in the recorded
        # column order so delta and full commits agree bit-for-bit
        out = self._read_data(stage, schema)
        if affected_buckets is not None:
            out = out.where(F.col(bucket_col).isin([int(b) for b in affected_buckets]))
        agg = (
            out.groupBy(bucket_col)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64(*cols)).alias("xor"),
            )
            .collect()
        )
        ledger: dict = dict(prev["buckets"]) if prev else {}
        written = {int(r[bucket_col]): r for r in agg}
        for b in affected_buckets if affected_buckets is not None else []:
            ledger.pop(str(int(b)), None)
        for b, r in written.items():
            ledger[str(b)] = {
                "rows": int(r["rows"]),
                "xor": int(r["xor"]) if r["xor"] is not None else 0,
            }

        total_rows = sum(e["rows"] for e in ledger.values())
        global_xor = 0
        for e in ledger.values():
            global_xor ^= e["xor"]
        snapshot = _stable_hash(
            stage, *input_snapshots, str(total_rows), str(global_xor)
        )

        # incremental lineage (round 7): a delta commit used to re-read
        # the parquet footer of EVERY file in the stage -- O(total files)
        # metadata I/O per micro-batch, one of the growing terms in the
        # streaming-soak drift. Untouched files are untouched: their
        # (rows, checksum, run_id) rows from the previous lineage table
        # are still valid, so only files under the (re)written bucket
        # dirs (plus any file the previous table somehow missed) get a
        # fresh footer read. Every row still records the NEW snapshot id;
        # untouched files keep the run_id that actually wrote them.
        files = _list_parquet_files(data_dir)
        lineage_path = os.path.join(self._dir(stage), "_lineage.parquet")
        prev_lineage: dict = {}
        if affected_buckets is not None and os.path.isdir(lineage_path):
            rewritten = tuple(
                os.path.join(data_dir, f"{bucket_col}={int(b)}") + os.sep
                for b in affected_buckets
            )
            prev_lineage = {
                r.file: (r.run_id, int(r.rows), int(r.checksum))
                for r in self.spark.read.parquet(lineage_path).collect()
                if not r.file.startswith(rewritten)
            }
        fresh = [p for p in files if p not in prev_lineage]
        with ThreadPoolExecutor(
            max_workers=min(32, max(1, len(fresh)))
        ) as ex:
            metas = list(ex.map(_footer_meta, fresh))
        fresh_meta = {
            p: (run_id, int(n), int(fp))
            for p, (n, _size, fp) in zip(fresh, metas)
        }
        lineage_rows = [
            (stage, rid, path, n, fp, snapshot)
            for path in files
            for rid, n, fp in [prev_lineage.get(path) or fresh_meta[path]]
        ]
        _write_lineage(self.spark, lineage_rows, lineage_path)

        if n_buckets is None:
            inherit = prev if prev is not None else self.manifest(stage)
            n_buckets = (inherit or {}).get("n_buckets")
        manifest = {
            "stage": stage,
            "snapshot_id": snapshot,
            "inputs": input_snapshots,
            "run_id": run_id,
            "row_count": total_rows,
            "content_xor": global_xor,
            "columns": cols,
            "schema": schema,
            "bucketed": True,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
            "buckets": ledger,
            "n_files": len(lineage_rows),
            "complete": True,
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(stage))
        return snapshot

    def read_buckets(
        self, stage: str, buckets: list[int], bucket_col: str = "bucket"
    ) -> DataFrame:
        """Partition-pruned read of a bucketed stage (only the listed
        bucket directories are scanned)."""
        return self.read(stage).where(
            F.col(bucket_col).isin([int(b) for b in buckets])
        )

    def compact(
        self,
        stage: str,
        buckets: list[int] | None = None,
        run_id: str | None = None,
    ) -> str:
        """Rewrite bucket partitions into one file each (delta commits
        accumulate a file per commit per bucket; this is the
        rewrite-data-files maintenance job). Because snapshot ids are
        content-defined and layout-independent, compaction MUST return
        the identical snapshot id -- verified after the rewrite commits;
        a mismatch raises so orchestration halts at the damaged stage
        (recoverable: upstream manifests + lineage pin what to rebuild)
        instead of silently proceeding with changed content.
        """
        m = self.manifest(stage)
        if not (m and m.get("complete") and m.get("bucketed")):
            raise ValueError(f"{stage} is not a committed bucketed stage")
        bucket_col = m.get("bucket_col", "bucket")
        buckets = (
            [int(b) for b in m["buckets"]] if buckets is None else list(buckets)
        )
        if not buckets:
            return m["snapshot_id"]
        # one shuffle partition per bucket value -> one file per bucket
        # dir after partitionBy; eager checkpoint cuts lineage to the old
        # files so the overwrite below is safe
        df = (
            self.read_buckets(stage, buckets, bucket_col=bucket_col)
            .repartition(len(buckets), F.col(bucket_col))
            .localCheckpoint(eager=True)
        )
        snap = self.write_bucketed(
            stage,
            df,
            m["inputs"],
            run_id or (m["run_id"] + ".compact"),
            affected_buckets=buckets,
            bucket_col=bucket_col,
        )
        if snap != m["snapshot_id"]:
            raise RuntimeError(
                f"compaction changed content of {stage}: "
                f"{m['snapshot_id']} -> {snap}"
            )
        return snap

    def lineage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self._dir(stage), "_lineage.parquet")
        )

    def audit(self, stage: str) -> bool:
        """Full content-integrity verification: re-read the committed data
        and re-derive the order-insensitive content XOR + row count; True
        iff both match the manifest recorded at commit time. This is the
        on-demand full-scan path the per-commit lineage no longer pays.
        """
        m = self.manifest(stage)
        if not m or not m.get("complete"):
            return False
        out = self.read(stage)
        # hash in the column order recorded at commit time (partitionBy
        # reorders partition columns to the end on read-back)
        cols = m.get("columns") or [f.name for f in out.schema.fields]
        row = out.select(
            F.bit_xor(F.xxhash64(*cols)).alias("x"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        got_xor = int(row.x) if row.x is not None else 0
        return got_xor == m.get("content_xor") and int(row.n) == m["row_count"]


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
