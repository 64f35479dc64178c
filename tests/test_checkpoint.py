"""Snapshot catalog: Iceberg-style append/incremental-read/resume
semantics (the file_storage checkpoint analog,
splunk_logs_config_linux.yaml:21-27,50)."""

from __future__ import annotations

import pytest

from sparkcollector.checkpoint import ResumeState, SnapshotCatalog


def test_append_and_incremental_read(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    df1 = spark.range(0, 100).withColumnRenamed("id", "v")
    df2 = spark.range(100, 150).withColumnRenamed("id", "v")

    s1 = cat.append(df1)
    s2 = cat.append(df2)
    assert s1.snapshot_id == 1 and s2.snapshot_id == 2
    assert s1.metrics["rows"] == 100 and s2.metrics["rows"] == 50

    assert cat.read(spark).count() == 150
    inc = cat.read_since(spark, since_snapshot_id=1)
    vals = {r["v"] for r in inc.collect()}
    assert vals == set(range(100, 150))


def test_read_since_empty_raises(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(3))
    with pytest.raises(ValueError):
        cat.read_since(spark, since_snapshot_id=1)


def test_lineage_rows_sum(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(10))
    cat.append(spark.range(20))
    assert sum(f["rows"] for f in cat.lineage()) == 30


def test_time_travel_read_at(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(10))
    cat.append(spark.range(10, 30))
    assert cat.read_at(spark, 1).count() == 10
    assert cat.read_at(spark, 2).count() == 30
    with pytest.raises(ValueError):
        cat.read_at(spark, 0)


def test_compact_preserves_data_and_time_travel(spark, tmp_path, assert_zstd):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(10))
    cat.append(spark.range(10, 30))
    snap = cat.compact(spark, target_partitions=1)
    assert snap.metrics["compacted_through"] == 2
    assert_zstd(snap)  # the rewrite keeps the table's codec
    # current read sees the single compacted snapshot, same data
    assert cat.read(spark).count() == 30
    live = [s for s in cat.snapshots() if "superseded_by" not in s.metrics]
    assert [s.snapshot_id for s in live] == [snap.snapshot_id]
    # time travel to before the compaction still works off old files
    assert cat.read_at(spark, 1).count() == 10
    # appends after compaction read incrementally
    cat.append(spark.range(30, 35))
    assert cat.read(spark).count() == 35
    assert cat.read_since(spark, snap.snapshot_id).count() == 5
    # a watermark strictly inside the compacted range is unusable
    with pytest.raises(ValueError):
        cat.read_since(spark, 1)


def test_run_pipeline_resume(spark, turns_df, tmp_path):
    from sparkcollector.job import run_pipeline

    src = SnapshotCatalog(str(tmp_path / "src"))
    half = turns_df.count() // 2
    ordered = turns_df.orderBy("conv_id", "turn_idx")
    first = ordered.limit(half)
    src.append(first)

    state = str(tmp_path / "state.json")
    out = str(tmp_path / "out")
    m1 = run_pipeline(
        spark, None, out, input_table=src.table_dir, resume_state=state
    )
    assert m1["turns"] == half and m1["resumed_from_snapshot"] == 0

    # no new data -> skipped, nothing written
    m_skip = run_pipeline(
        spark, None, out, input_table=src.table_dir, resume_state=state
    )
    assert m_skip.get("skipped") is True

    # second batch -> only the delta is processed; sinks accumulate
    src.append(ordered.subtract(first))
    m2 = run_pipeline(
        spark, None, out, input_table=src.table_dir, resume_state=state
    )
    assert m2["turns"] == turns_df.count() - half
    assert m2["resumed_from_snapshot"] == 1

    routed = SnapshotCatalog(f"{out}/routed").read(spark)
    assert routed.count() == turns_df.count()
    # agg partials across epochs sum to the total
    from pyspark.sql import functions as F

    agg = SnapshotCatalog(f"{out}/agg_counts").read(spark)
    assert agg.agg(F.sum("n")).collect()[0][0] == turns_df.count()


def test_resume_state_roundtrip(tmp_path):
    rs = ResumeState(str(tmp_path / "state.json"))
    assert rs.get("t") == 0
    rs.set("t", 7)
    rs.set("u", 3)
    assert rs.get("t") == 7 and rs.get("u") == 3


def test_compaction_snapshot_skipped_by_caught_up_reader(spark, tmp_path):
    """A consumer whose watermark == compacted_through must NOT be
    re-delivered the compaction snapshot (it rewrites only rows the
    consumer already processed — Iceberg incremental reads skip
    rewrite snapshots the same way)."""
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(0, 10))
    cat.append(spark.range(10, 30))
    cat.compact(spark)  # snapshot 3, compacted_through=2

    # fully caught-up reader (watermark 2): compaction is not new data
    with pytest.raises(ValueError, match="no data after"):
        cat.read_since(spark, since_snapshot_id=2)
    df, through = cat.incremental_read(spark, 2)
    assert df is None and through == 2

    # rows appended AFTER the compaction still flow, without the
    # compaction's rewrite of rows 0..29
    cat.append(spark.range(30, 35))
    inc = cat.read_since(spark, since_snapshot_id=2)
    assert {r["id"] for r in inc.collect()} == set(range(30, 35))

    # a watermark INSIDE the compacted range still raises
    with pytest.raises(ValueError, match="compacted away"):
        cat.read_since(spark, since_snapshot_id=1)


def test_incremental_read_returns_covered_watermark(spark, tmp_path):
    """incremental_read derives data and watermark from ONE listing —
    the returned watermark is the max snapshot actually read."""
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(0, 5))
    cat.append(spark.range(5, 9))
    df, through = cat.incremental_read(spark, 0)
    assert through == 2
    assert df.count() == 9
    df2, through2 = cat.incremental_read(spark, through)
    assert df2 is None and through2 == 2


def test_expire_snapshots_removes_only_superseded(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "tbl"))
    cat.append(spark.range(0, 10))
    cat.append(spark.range(10, 30))
    cat.compact(spark)  # snapshot 3 supersedes 1-2
    cat.append(spark.range(30, 35))  # live snapshot 4

    n = cat.expire_snapshots(older_than_id=2)
    assert n == 2
    # full read unaffected: live data = compaction + later appends
    assert cat.read(spark).count() == 35
    # expired snapshots are gone from the log (time travel broken there)
    ids = {s.snapshot_id for s in cat.snapshots()}
    assert ids == {3, 4}
    # nothing live was deleted: incremental read still works
    assert cat.read_since(spark, 3).count() == 5
