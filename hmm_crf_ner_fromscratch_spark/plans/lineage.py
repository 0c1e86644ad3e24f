"""K9 support: table IO with snapshot manifests + per-file lineage.

The one table layer is ``ParquetManifestTableIO``: Hive-layout Parquet
plus a JSON manifest per stage emulating the snapshot/commit metadata the
pipeline needs for exact resume, with no Iceberg runtime jar. What it does
and does not replicate is explicit: snapshot-id-addressed reads and commit
atomicity via rename -> yes; Iceberg's snapshot isolation / time travel
-> no.

Commits are write-once, as in Iceberg: a commit appends fresh files to
the stage's data dir (Spark names them by job UUID, so they never collide
with committed ones), renames in a manifest listing the kept files plus
the fresh ones, and only then deletes the files that manifest superseded.
A stage's contents change only at that rename. A commit that fails
in-process deletes its fresh files; the previous manifest and data stay
as they were. What a killed process leaves behind -- unlisted files, a
``_temporary`` dir -- is deleted by ``remove_orphans``, which every
writer entry point of the pipeline calls first; until then a directory
read sees it and ``audit()`` reports the mismatch. Reads stay directory
reads (one listing, no Spark job); read-only calls never delete anything.

One Spark job per commit: the stage's data write. The content checksum
(order-insensitive xxhash XOR over all rows) and row count -- and, for a
bucketed commit, the per-bucket XORs of its ledger -- ride that job via
``df.observe``; nothing reads the written data back. Everything else is
driver-side metadata work: list the stage's files, read the parquet
footers of the files this commit wrote (threadpooled, metadata-only: the
same listing+footer work an Iceberg commit does when building its
manifest, O(new files) not O(rows); they also give the ledger's
per-bucket row counts) and rename the manifest in (``_publish``). The
manifest is the only commit record: it carries the per-file
lineage (file -> run_id, rows, footer fingerprint) next to the snapshot
id, so the one atomic rename commits data checksum and lineage together.
Resume correctness = manifest complete AND input snapshot ids unchanged.
``audit(stage)`` re-reads the data and re-derives the content XOR for
integrity verification on demand -- that full-scan path is opt-in instead
of paid on every stage commit.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LINEAGE_SCHEMA = (
    "stage string, run_id string, file string, rows bigint, "
    "checksum bigint, snapshot_id string"
)
_ROW_HASH = "__row_hash"


def _stable_hash(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


def _xor(v) -> int:
    # bit_xor over no rows is NULL
    return int(v) if v is not None else 0


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
    """Data files under ``data_dir``, as paths relative to it."""
    out = []
    for root, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out.append(os.path.relpath(os.path.join(root, name), data_dir))
    return sorted(out)


def _footers(data_dir: str, files: list[str], run_id: str) -> dict:
    """Lineage entries of freshly written ``files`` (relative to
    ``data_dir``): ``run_id`` plus their footers' row count and
    fingerprint (threadpooled, footers only)."""
    with ThreadPoolExecutor(max_workers=min(32, max(1, len(files)))) as ex:
        metas = ex.map(_footer_meta, [os.path.join(data_dir, f) for f in files])
        return {
            f: {"run_id": run_id, "rows": int(n), "checksum": int(fp)}
            for f, (n, _size, fp) in zip(files, metas)
        }


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

    def _data_dir(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "data")

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    # -- manifest --
    def manifest(self, stage: str) -> dict | None:
        """The stage's manifest; None if it has none. A manifest without
        the per-file ``files`` map predates lineage-in-manifest and also
        reads as None: the pipeline then recomputes the stage instead of
        attributing its files to a later run."""
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            m = json.load(f)
        return m if "files" in m else None

    def snapshot_id(self, stage: str) -> str | None:
        m = self.manifest(stage)
        return m["snapshot_id"] if m and m.get("complete") else None

    def is_complete(self, stage: str, input_snapshots: list[str]) -> bool:
        m = self.manifest(stage)
        return bool(
            m
            and m.get("complete")
            and m.get("inputs") == input_snapshots
            and os.path.isdir(self._data_dir(stage))
        )

    def _publish(
        self,
        stage: str,
        input_snapshots: list[str],
        run_id: str,
        fields: dict,
        files: dict,
    ) -> str:
        """The commit point shared by every write: rename the manifest --
        snapshot id, ``fields`` and the per-file lineage ``files`` -- in
        from a temp file."""
        snapshot = _stable_hash(
            stage,
            *input_snapshots,
            str(fields["row_count"]),
            str(fields["content_xor"]),
        )
        manifest = {
            "stage": stage,
            "snapshot_id": snapshot,
            "inputs": input_snapshots,
            "run_id": run_id,
            **fields,
            "files": files,
            "complete": True,
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(stage))
        return snapshot

    def _commit(self, stage: str, run_id: str, write, publish) -> str:
        """The write-once commit shared by every write: ``write(data_dir)``
        appends fresh files next to the committed ones, ``publish(written)``
        renames in the manifest that lists them, given their lineage
        entries. Either way the stage then holds exactly its manifest's
        files: after the rename the superseded ones are deleted, after a
        failure the fresh ones."""
        data_dir = self._data_dir(stage)
        before = set(_list_parquet_files(data_dir))
        try:
            write(data_dir)
            fresh = [f for f in _list_parquet_files(data_dir) if f not in before]
            return publish(_footers(data_dir, fresh, run_id))
        finally:
            self.remove_orphans(stage)

    def remove_orphans(self, stage: str) -> None:
        """Delete every file of the stage its manifest does not list, and
        the dirs that leaves empty: unlisted data files, Spark's
        ``_temporary`` dir, ``_SUCCESS``, a manifest temp file, and the
        ``bucket=*`` dirs a digest state written before ``_convs`` became
        a stage left next to ``data/``. Without a manifest nothing is
        listed. Listed files keep their ``.crc`` sidecars."""
        stage_dir, data_dir = self._dir(stage), self._data_dir(stage)
        keep = {self._manifest_path(stage)}
        for f in (self.manifest(stage) or {}).get("files", {}):
            head, name = os.path.split(os.path.join(data_dir, f))
            keep |= {os.path.join(head, name), os.path.join(head, f".{name}.crc")}
        for root, _dirs, files in os.walk(stage_dir, topdown=False):
            for name in files:
                if os.path.join(root, name) not in keep:
                    os.remove(os.path.join(root, name))
            if root not in (stage_dir, data_dir) and not os.listdir(root):
                os.rmdir(root)

    # -- IO --
    def write(
        self,
        stage: str,
        df: DataFrame,
        input_snapshots: list[str],
        run_id: str,
    ) -> str:
        """Replace the stage's content with ``df``: write fresh files, then
        commit the manifest listing only them (the manifest rename is the
        atomic commit point; the previous files are deleted after it).

        One Spark job: the content checksum (order-insensitive xxhash64
        XOR over all rows -- layout-independent, so the snapshot id is
        identical under any partitioning) rides the write via
        ``observe``; per-file lineage comes from parquet footers.
        """
        cols = [f.name for f in df.schema.fields]
        obs = Observation()
        observed = df.observe(
            obs,
            # bit_xor: no ANSI overflow, any accumulation order
            F.bit_xor(F.xxhash64(*cols)).alias("content_xor"),
            F.count(F.lit(1)).alias("rows"),
        )

        def publish(written: dict) -> str:
            got = obs.get
            return self._publish(
                stage,
                input_snapshots,
                run_id,
                {
                    "row_count": int(got["rows"]),
                    "content_xor": _xor(got["content_xor"]),
                    "columns": cols,
                    "schema": df.schema.jsonValue(),
                },
                written,
            )

        return self._commit(
            stage, run_id, observed.write.mode("append").parquet, publish
        )

    def read(self, stage: str) -> DataFrame:
        """Read a stage's data dir with its recorded schema: a commit of an
        empty partitioned frame writes no files, so inference has nothing
        to read. Manifests without a schema fall back to inference."""
        m = self.manifest(stage)
        reader = self.spark.read
        if m and m.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(self._data_dir(stage))

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
        maintenance (``kg_admin rebalance``) derives it from state
        instead of trusting a CLI default. Omitted -> inherited from
        the stage's previous manifest; a full commit with neither raises.

        ``affected_buckets is None`` -> the commit replaces the whole
        stage, whose rows must lie in ``range(n_buckets)``. Otherwise ``df``
        must hold the *complete new content of exactly those buckets*; the
        new manifest keeps every other bucket's files AND their ledger and
        lineage entries, so commit I/O is proportional to the delta, not
        the table. Either way the write appends fresh files and the
        manifest rename publishes them (module docstring), so ``df`` may
        read the files it replaces, and a bucket whose rows are all gone
        simply lists no file. A row outside the declared buckets raises
        ValueError; nothing is published and the previous snapshot
        stands.

        The ledger maps bucket -> (rows, content XOR). The XORs are computed
        during the write job by one ``observe``: the row hash is projected
        once, and each declared bucket gets a conditional XOR, so the
        observe costs O(declared buckets) per row -- a full commit declares
        all ``n_buckets`` (see docs/SCALE.md for the measured cost), a
        delta commit only the buckets it replaces. The rows come from the
        footers of the files the commit wrote. The global row count / XOR
        -- and therefore the snapshot id -- are derived from the ledger,
        so an incremental commit chain converges to the IDENTICAL
        snapshot id a one-shot write of the same content produces (XOR is
        associative; layout never enters the hash).
        """
        prev = self.manifest(stage)
        delta = affected_buckets is not None
        if delta and not (prev and prev.get("complete")):
            raise ValueError(f"delta commit on {stage} without a prior full commit")
        if n_buckets is None:
            n_buckets = (prev or {}).get("n_buckets")
        if delta:
            declared = sorted({int(b) for b in affected_buckets})
        elif n_buckets is None:
            raise ValueError(
                f"full commit on {stage} needs n_buckets: no previous "
                "manifest records one"
            )
        else:
            declared = list(range(n_buckets))
        cols = prev["columns"] if delta else [c for c in df.columns if c != bucket_col]
        # data columns first, then the partition column, as partition
        # discovery orders them on read-back
        schema = df.select(*cols, bucket_col).schema.jsonValue()

        # hash in the recorded column order so delta and full commits
        # agree bit-for-bit
        b, h = F.col(bucket_col), F.col(_ROW_HASH)
        obs = Observation()
        observed = (
            df.withColumn(_ROW_HASH, F.xxhash64(*cols))
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                *(F.bit_xor(F.when(b == k, h)).alias(f"x{k}") for k in declared),
            )
            .drop(_ROW_HASH)
        )
        dirs = {f"{bucket_col}={k}": k for k in declared}
        kept = {
            f: e
            for f, e in (prev["files"] if delta else {}).items()
            if f.split(os.sep, 1)[0] not in dirs
        }

        def publish(written: dict) -> str:
            # per-bucket row counts from the footers of the fresh files;
            # rows written anywhere else make the observed total exceed
            # their sum
            counts = dict.fromkeys(declared, 0)
            for f, e in written.items():
                k = dirs.get(f.split(os.sep, 1)[0])
                if k is not None:
                    counts[k] += e["rows"]
            got = obs.get
            outside = int(got["rows"]) - sum(counts.values())
            if outside:
                raise ValueError(
                    f"{stage}: {outside} rows lie outside the declared "
                    "buckets; nothing published"
                )
            ledger: dict = dict(prev["buckets"]) if delta else {}
            for k in declared:
                ledger.pop(str(k), None)
                if counts[k]:
                    ledger[str(k)] = {"rows": counts[k], "xor": _xor(got[f"x{k}"])}
            global_xor = 0
            for e in ledger.values():
                global_xor ^= e["xor"]
            return self._publish(
                stage,
                input_snapshots,
                run_id,
                {
                    "row_count": sum(e["rows"] for e in ledger.values()),
                    "content_xor": global_xor,
                    "columns": cols,
                    "schema": schema,
                    "bucketed": True,
                    "bucket_col": bucket_col,
                    "n_buckets": n_buckets,
                    "buckets": ledger,
                },
                dict(sorted({**kept, **written}.items())),
            )

        write = observed.write.mode("append").partitionBy(bucket_col).parquet
        return self._commit(stage, run_id, write, publish)

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
        rewrite-data-files maintenance job). The rewrite reads the old
        files while it writes their replacements, which the manifest
        rename publishes. Because snapshot ids are content-defined and
        layout-independent, compaction MUST return the identical
        snapshot id -- verified after the rewrite commits; a mismatch
        raises so orchestration halts at the damaged stage (recoverable:
        upstream manifests + lineage pin what to rebuild) instead of
        silently proceeding with changed content.
        """
        m = self.manifest(stage)
        if not (m and m.get("complete") and m.get("bucketed")):
            raise ValueError(f"{stage} is not a committed bucketed stage")
        self.remove_orphans(stage)
        bucket_col = m.get("bucket_col", "bucket")
        buckets = (
            [int(b) for b in m["buckets"]] if buckets is None else list(buckets)
        )
        if not buckets:
            return m["snapshot_id"]
        # one shuffle partition per bucket value -> one file per bucket
        # dir after partitionBy
        df = self.read_buckets(stage, buckets, bucket_col=bucket_col).repartition(
            len(buckets), F.col(bucket_col)
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
        """One row per data file of the committed stage, from its
        manifest: (stage, run_id, file, rows, checksum, snapshot_id)."""
        import pandas as pd

        m = self.manifest(stage)
        data_dir = self._data_dir(stage)
        pdf = pd.DataFrame(
            [
                (stage, e["run_id"], os.path.join(data_dir, f), e["rows"],
                 e["checksum"], m["snapshot_id"])
                for f, e in m["files"].items()
            ],
            columns=["stage", "run_id", "file", "rows", "checksum", "snapshot_id"],
        )
        return self.spark.createDataFrame(pdf, schema=_LINEAGE_SCHEMA)

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
        return _xor(row.x) == m.get("content_xor") and int(row.n) == m["row_count"]


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
