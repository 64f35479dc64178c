"""Pluggable table catalog: snapshot-log parquet OR real Iceberg.

The north rule names Iceberg tables; this container ships no
``iceberg-spark-runtime`` jar (documented in checkpoint.py:9-23), so
the default backend is :class:`~sparkcollector.checkpoint.
SnapshotCatalog` — a parquet directory + JSON snapshot log shaped like
Iceberg's metadata model.  This module makes the swap a URI, not a
code change:

    make_catalog("/data/out/routed")            -> SnapshotCatalog
    make_catalog("iceberg:local.db.routed")     -> IcebergCatalog

Both implement the same protocol (append / read / read_since /
incremental_read / current_snapshot_id), so ``job.py`` runs unmodified
against either.  ``tests/test_catalog.py`` carries an integration test
that is skipped unless the Iceberg classes are on the session's
classpath (spark-submit --packages org.apache.iceberg:
iceberg-spark-runtime-4.0_2.13:<ver> on a real cluster).

Semantics parity notes (what IcebergCatalog maps onto):
* append        -> ``df.writeTo(ident).append()`` (optimistic commit)
* read          -> ``spark.table(ident)``
* read_since    -> incremental append scan: ``spark.read.format(
  "iceberg").option("start-snapshot-id", since).load(ident)`` —
  Iceberg skips replace/rewrite snapshots exactly like
  SnapshotCatalog.read_since skips compactions.
* current_snapshot_id -> newest row of the ``<ident>.snapshots``
  metadata table.
* lineage       -> the ``<ident>.files`` metadata table (path, rows,
  partition) of every live file, the per-partition lineage manifest;
  a commit record lists only its own ADDED files, from
  ``<ident>.entries``.

File format: both backends write zstd-compressed Parquet.  Iceberg's
default ``write.parquet.compression-codec`` is zstd (since 1.4), and
SnapshotCatalog sets the same codec on every write.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession


@runtime_checkable
class TableCatalog(Protocol):
    """What the pipeline needs from a table backend."""

    def append(self, df: DataFrame, metrics: dict | None = None,
               partition_by: list[str] | None = None): ...

    def read(self, spark: SparkSession) -> DataFrame: ...

    def read_since(self, spark: SparkSession, since_snapshot_id) -> DataFrame: ...

    def incremental_read(
        self, spark: SparkSession, since_snapshot_id
    ) -> tuple[DataFrame | None, object]: ...

    def current_snapshot_id(self): ...

    def has_epoch(self, epoch_id: int) -> bool: ...


ICEBERG_PREFIX = "iceberg:"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def make_catalog(uri: str) -> TableCatalog:
    """Backend factory: ``iceberg:<catalog.db.table>`` or a directory
    path (snapshot-log parquet).  The ONLY place the backend choice
    lives — job.py and the streaming sink call this and nothing else.
    """
    if uri.startswith(ICEBERG_PREFIX):
        return IcebergCatalog(uri[len(ICEBERG_PREFIX):])
    from .checkpoint import SnapshotCatalog

    return SnapshotCatalog(uri)


class IcebergCatalog:
    """Real-Iceberg implementation of the catalog protocol.

    Requires an active session with the Iceberg extensions configured::

        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.x
        --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
        --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.local.type=hadoop
        --conf spark.sql.catalog.local.warehouse=<dir>

    Snapshot ids are Iceberg's opaque longs (not sequential); the
    resume watermark stores them verbatim, which is all job.py needs.
    """

    def __init__(self, ident: str):
        self.ident = ident

    # -- write path ----------------------------------------------------
    def append(self, df: DataFrame, metrics: dict | None = None,
               partition_by: list[str] | None = None):
        """Commit ``df`` and return a Snapshot-shaped commit record
        (snapshot_id, metrics with ``rows`` and ``bytes`` added by the
        commit, the per-partition ``files`` it added) assembled from the
        ``.snapshots`` / ``.entries`` metadata tables — the same duck
        type job.py consumes from SnapshotCatalog."""
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath; submit with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-..."
            )
        w = df.writeTo(self.ident)
        exists = spark.catalog.tableExists(self.ident)
        if exists:
            w.append()
        elif partition_by:
            from pyspark.sql import functions as F

            w.partitionedBy(*[F.col(c) for c in partition_by]).create()
        else:
            w.create()
        if metrics and metrics.get("epoch") is not None:
            # epoch bookkeeping rides in a table property so the
            # foreachBatch idempotency check can see it.
            spark.sql(
                f"ALTER TABLE {self.ident} SET TBLPROPERTIES "
                f"('sparkcollector.last_epoch'='{int(metrics['epoch'])}')"
            )
        row = spark.sql(
            f"SELECT snapshot_id, summary FROM {self.ident}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()[0]
        summary = dict(row["summary"] or {})
        m = {
            "rows": int(summary.get("added-records", 0)),
            "bytes": int(summary.get("added-files-size", 0)),
            **(metrics or {}),
        }
        # this commit's files only: its ADDED (status 1) manifest
        # entries; ``.files`` would list every live file of the table
        files = [
            {"path": r["path"], "rows": r["rows"],
             **(r["partition"].asDict() if r["partition"] is not None else {})}
            for r in spark.sql(
                "SELECT data_file.file_path AS path, "
                "data_file.record_count AS rows, "
                f"data_file.partition AS partition FROM {self.ident}.entries "
                f"WHERE snapshot_id = {int(row['snapshot_id'])} AND status = 1"
            ).collect()
        ]
        from .checkpoint import Snapshot

        return Snapshot(
            snapshot_id=row["snapshot_id"], ts=0.0, files=files, metrics=m
        )

    # -- read path -----------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.ident)

    def read_since(self, spark: SparkSession, since_snapshot_id) -> DataFrame:
        # Iceberg's incremental append scan: rows from snapshots AFTER
        # the watermark, rewrite/replace snapshots skipped — the same
        # contract as SnapshotCatalog.read_since.  A falsy watermark
        # (fresh consumer) is a full-table read.
        if not since_snapshot_id:
            return self.read(spark)
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", int(since_snapshot_id))
            .load(self.ident)
        )

    def incremental_read(
        self, spark: SparkSession, since_snapshot_id
    ) -> tuple[DataFrame | None, object]:
        current = self.current_snapshot_id()
        if current is None or current == since_snapshot_id:
            return None, since_snapshot_id
        df = (
            self.read_since(spark, since_snapshot_id)
            if since_snapshot_id
            else self.read(spark)
        )
        return df, current

    def current_snapshot_id(self):
        spark = SparkSession.getActiveSession()
        if not spark.catalog.tableExists(self.ident):
            return None
        rows = spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return rows[0][0] if rows else None

    def has_epoch(self, epoch_id: int) -> bool:
        """foreachBatch retry check: a retry re-runs the SAME epoch id,
        so equality with the last committed epoch property suffices."""
        spark = SparkSession.getActiveSession()
        if not spark.catalog.tableExists(self.ident):
            return False
        rows = spark.sql(f"SHOW TBLPROPERTIES {self.ident}").collect()
        props = {r["key"]: r["value"] for r in rows}
        return props.get("sparkcollector.last_epoch") == str(int(epoch_id))

    def lineage(self) -> list[dict]:
        spark = SparkSession.getActiveSession()
        return [
            r.asDict()
            for r in spark.sql(
                f"SELECT file_path AS path, record_count AS rows, "
                f"partition FROM {self.ident}.files"
            ).collect()
        ]


def table_uri(base: str, name: str) -> str:
    """Join an output base and a logical table name in either scheme:
    ``iceberg:local.db`` + routed -> ``iceberg:local.db.routed``;
    ``/data/out`` + routed -> ``/data/out/routed``."""
    if base.startswith(ICEBERG_PREFIX):
        return f"{base}.{name}"
    return f"{base}/{name}"
