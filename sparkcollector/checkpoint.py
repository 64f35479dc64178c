"""Snapshot catalog: Iceberg-style checkpointed resume over parquet.

The reference's filelog receiver checkpoints per-file offsets in the
``file_storage`` extension so a restart resumes where it left off
(cmd/otelcol/config/collector/splunk_logs_config_linux.yaml:21-27,50).
The north rule maps that to Iceberg snapshot-based resume with
per-partition lineage + throughput metrics.

This container ships no Iceberg runtime jar, so we implement the same
*semantics* as a small, append-only JSON snapshot log over parquet
directories — deliberately shaped like Iceberg's metadata model
(snapshots → manifests → data files) so swapping in a real Iceberg
catalog on a cluster is a one-line change in job.py:

* :meth:`SnapshotCatalog.append` writes a data directory and commits a
  snapshot entry recording every file (path, rows) — the per-partition
  lineage manifest — plus phase metrics (rows, bytes, rows/sec).
* :meth:`SnapshotCatalog.read_since` reads only files committed after a
  given snapshot id — incremental consumption, the ``start_at:
  beginning`` vs resume distinction (yaml:49).
* Commits are atomic (write-temp + ``os.replace``), so a failed job
  never corrupts the log — mirroring Iceberg's optimistic commit.

File format: every table (routed, agg_counts, fan-out sinks, streaming
epochs, compactions) is Parquet compressed with zstd at Spark's default
level — Iceberg's default ``write.parquet.compression-codec``, so both
catalog backends write the same codec.  Encodings are Parquet's own:
dictionary first, falling back to PLAIN where a dictionary does not pay
(the near-unique free text).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    ts: float
    files: list[dict]  # [{path, rows, <partition cols...>}]
    metrics: dict = field(default_factory=dict)
    data_dir: str | None = None  # set for hive-partitioned snapshots


class SnapshotCatalog:
    """A minimal snapshot log for one logical table."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.meta_path = os.path.join(table_dir, "_snapshots.json")
        os.makedirs(table_dir, exist_ok=True)

    # -- log IO --------------------------------------------------------
    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self.meta_path):
            return []
        with open(self.meta_path) as f:
            raw = json.load(f)
        return [Snapshot(**s) for s in raw]

    def _commit(self, snaps: list[Snapshot]) -> None:
        tmp = self.meta_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f, indent=1)
        os.replace(tmp, self.meta_path)

    def current_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1].snapshot_id if snaps else None

    # -- write path ----------------------------------------------------
    def append(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Write ``df`` as a new data directory + snapshot commit.

        ``partition_by`` writes hive-style partition dirs (the Iceberg
        identity-partition analog); lineage records each file with its
        partition values.  Per-file row counts come from parquet
        footers and the snapshot's ``bytes`` from the file system —
        metadata-only, no data scan.  Files are zstd Parquet (module
        docstring).
        """
        t0 = time.time()
        snap_id = (self.current_snapshot_id() or 0) + 1
        data_dir = os.path.join(self.table_dir, f"data-{snap_id:06d}")
        w = df.write.mode("overwrite").option("compression", "zstd")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)

        import pyarrow.parquet as pq

        files = []
        total_rows = total_bytes = 0
        for root, _dirs, names in sorted(os.walk(data_dir)):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    p = os.path.join(root, name)
                    rows = pq.ParquetFile(p).metadata.num_rows
                    entry = {"path": p, "rows": rows}
                    rel = os.path.relpath(root, data_dir)
                    if rel != ".":
                        for part in rel.split(os.sep):
                            k, _, v = part.partition("=")
                            entry[k] = v
                    files.append(entry)
                    total_rows += rows
                    total_bytes += os.path.getsize(p)

        elapsed = time.time() - t0
        m = {
            "rows": total_rows,
            "bytes": total_bytes,
            "files": len(files),
            "write_sec": round(elapsed, 3),
            "rows_per_sec": round(total_rows / elapsed, 1) if elapsed else None,
        }
        if metrics:
            m.update(metrics)
        snap = Snapshot(
            snapshot_id=snap_id,
            ts=time.time(),
            files=files,
            metrics=m,
            data_dir=data_dir if partition_by else None,
        )
        snaps = self.snapshots()
        snaps.append(snap)
        self._commit(snaps)
        return snap

    # -- read path -----------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        """Full-table scan of all committed snapshots."""
        return self.read_since(spark, since_snapshot_id=0)

    def read_since(
        self, spark: SparkSession, since_snapshot_id: int
    ) -> DataFrame:
        """Incremental read: files committed strictly after a snapshot.

        This is the resume primitive: a consumer persists the last
        snapshot id it processed and passes it here on restart.
        Hive-partitioned snapshots read through their data-dir root so
        partition columns (directory-encoded) resolve.  Snapshots
        superseded by a compaction are skipped; an incremental read
        whose watermark falls INSIDE a compacted range would re-deliver
        consumed rows, so it raises instead (same caveat as Iceberg
        incremental reads across a rewrite).  A compaction snapshot
        itself is a REWRITE of already-committed rows, never new data,
        so incremental readers whose watermark covers the compacted
        range skip it (Iceberg incremental reads skip replace/rewrite
        snapshots the same way) — a consumer fully caught up at
        ``since == compacted_through`` must not re-receive the whole
        table.
        """
        live = self._live_since(self.snapshots(), since_snapshot_id)
        return self._union(
            spark, live,
            f"no data after snapshot {since_snapshot_id} in {self.table_dir}",
        )

    @staticmethod
    def _live_since(
        all_snaps: list[Snapshot], since_snapshot_id: int
    ) -> list[Snapshot]:
        snaps = [s for s in all_snaps if "superseded_by" not in s.metrics]
        for s in snaps:
            ct = s.metrics.get("compacted_through")
            if ct and 0 < since_snapshot_id < ct:
                raise ValueError(
                    f"snapshot {since_snapshot_id} was compacted away "
                    f"(through {ct}); re-read from 0 or resume from "
                    f"{s.snapshot_id}"
                )
        return [
            s
            for s in snaps
            if s.snapshot_id > since_snapshot_id
            and not (
                since_snapshot_id > 0
                and (ct := s.metrics.get("compacted_through"))
                and ct <= since_snapshot_id
            )
        ]

    def incremental_read(
        self, spark: SparkSession, since_snapshot_id: int
    ) -> tuple[DataFrame | None, int]:
        """Race-free resume primitive: ONE listing of the snapshot log
        yields both the incremental DataFrame and the watermark to
        persist (the max snapshot id actually included in the read).

        Calling ``current_snapshot_id()`` and ``read_since()``
        separately is racy: a snapshot committed between the two calls
        would be processed by the read but excluded from the watermark,
        so the next run re-delivers it.  Returns ``(None, since)`` when
        there is nothing new to consume.
        """
        all_snaps = self.snapshots()
        live = self._live_since(all_snaps, since_snapshot_id)
        if not live:
            return None, since_snapshot_id
        through = max(s.snapshot_id for s in live)
        return self._union(spark, live, "unreachable: live is non-empty"), through

    def _union(
        self, spark: SparkSession, snaps: list[Snapshot], empty_msg: str
    ) -> DataFrame:
        from functools import reduce

        parts: list[DataFrame] = []
        plain_paths: list[str] = []
        for s in snaps:
            if s.data_dir:
                parts.append(
                    spark.read.option("basePath", s.data_dir).parquet(s.data_dir)
                )
            else:
                plain_paths.extend(f["path"] for f in s.files)
        if plain_paths:
            parts.append(spark.read.parquet(*plain_paths))
        if not parts:
            raise ValueError(empty_msg)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def read_at(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Time travel: the table as of ``snapshot_id`` (inclusive) —
        Iceberg's ``VERSION AS OF`` analog.  A snapshot superseded by a
        compaction is still readable as long as the compaction itself
        is outside the as-of range."""
        live = [
            s
            for s in self.snapshots()
            if s.snapshot_id <= snapshot_id
            and not (
                (sb := s.metrics.get("superseded_by")) and sb <= snapshot_id
            )
        ]
        return self._union(
            spark, live, f"no snapshot <= {snapshot_id} in {self.table_dir}"
        )

    def compact(self, spark: SparkSession, target_partitions: int = 4) -> Snapshot:
        """Rewrite the table's live files into one coalesced snapshot
        (the file_storage checkpoint's compaction analog,
        splunk_logs_config_linux.yaml:25-27; Iceberg rewrite_data_files).

        Old snapshots stay in the log for time travel; the compacted
        snapshot becomes the current one and records which snapshot
        range it replaces, so ``read()``/``read_since`` skip the
        superseded files.
        """
        current = self.current_snapshot_id()
        if current is None:
            raise ValueError(f"nothing to compact in {self.table_dir}")
        df = self.read(spark).coalesce(target_partitions)
        snap = self.append(df, metrics={"compacted_through": current})
        snaps = self.snapshots()
        # mark superseded snapshots so readers skip them
        for s in snaps:
            if s.snapshot_id <= current:
                s.metrics["superseded_by"] = snap.snapshot_id
        self._commit(snaps)
        return snap

    def expire_snapshots(self, older_than_id: int) -> int:
        """Table maintenance (Iceberg ``expire_snapshots`` analog):
        physically delete the data files of snapshots that are BOTH
        superseded by a compaction AND at or below ``older_than_id``,
        then drop them from the log.  Live (non-superseded) snapshots
        are never touched — they ARE the table.  Time travel to expired
        ids stops working, exactly like Iceberg's expiry contract.
        Returns the number of snapshots expired.
        """
        import shutil

        snaps = self.snapshots()
        expired = [
            s
            for s in snaps
            if "superseded_by" in s.metrics and s.snapshot_id <= older_than_id
        ]
        for s in expired:
            if s.data_dir:
                shutil.rmtree(s.data_dir, ignore_errors=True)
            else:
                for f in s.files:
                    try:
                        os.remove(f["path"])
                    except OSError:
                        pass
        keep = [s for s in snaps if s not in expired]
        self._commit(keep)
        return len(expired)

    def has_epoch(self, epoch_id: int) -> bool:
        """True when a snapshot already records this streaming epoch —
        the foreachBatch retry-idempotency check."""
        return any(s.metrics.get("epoch") == epoch_id for s in self.snapshots())

    def lineage(self) -> list[dict]:
        """Flattened per-partition lineage: snapshot → file → rows."""
        return [
            {"snapshot_id": s.snapshot_id, **f}
            for s in self.snapshots()
            for f in s.files
        ]


class ResumeState:
    """Consumer-side watermark: last processed snapshot per table
    (the file_storage offset-store analog)."""

    def __init__(self, path: str):
        self.path = path

    def get(self, table: str) -> int:
        if not os.path.exists(self.path):
            return 0
        with open(self.path) as f:
            return json.load(f).get(table, 0)

    def set(self, table: str, snapshot_id: int) -> None:
        state = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                state = json.load(f)
        state[table] = snapshot_id
        tmp = self.path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)
