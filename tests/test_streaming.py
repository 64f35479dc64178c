"""Structured Streaming pipeline: stream/batch sink interchangeability,
watermarked counts, and the custom stateful session operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcollector.checkpoint import SnapshotCatalog
from sparkcollector.config import compile_pipeline
from sparkcollector.streaming import (
    conversation_sessions,
    stream_dedup_once,
    stream_transcripts,
    windowed_counts,
    write_stream_sinks,
)


@pytest.fixture(scope="module")
def stream_input(spark, turns_path, tmp_path_factory):
    """A directory the file source watches, seeded with the synth data."""
    import shutil

    d = tmp_path_factory.mktemp("stream_in")
    shutil.copy(turns_path, d / "batch-000.parquet")
    return str(d)


def test_stream_matches_batch_sinks(
    spark, stream_input, turns_df, tmp_path, assert_zstd
):
    routed = compile_pipeline()(stream_transcripts(spark, stream_input))
    q = write_stream_sinks(
        routed, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    cat = SnapshotCatalog(str(tmp_path / "out") + "/routed")
    assert_zstd(cat.snapshots()[-1], "role")  # the epoch's files
    got = cat.read(spark)
    assert got.count() == turns_df.count()
    sinks = {
        r["sink"]: r["n"]
        for r in got.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    # the same compiled pipeline over the batch input gives identical
    # per-sink counts
    expected = {
        r["sink"]: r["n"]
        for r in compile_pipeline()(turns_df)
        .groupBy("sink")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sinks == expected


def test_windowed_counts_stream(spark, stream_input, turns_df, tmp_path):
    """The streaming counts are the batch job's agg_counts rows:
    ``count_connector`` over the same compiled pipeline."""
    from sparkcollector.aggregate import count_connector

    routed = compile_pipeline()(stream_transcripts(spark, stream_input))
    counts = windowed_counts(routed)
    q = (
        counts.writeStream.format("memory")
        .queryName("wc_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.table("wc_test")
    want = count_connector(compile_pipeline()(turns_df))
    assert got.columns == want.columns
    # the file stream reads ts as TIMESTAMP, the flat batch read as
    # TIMESTAMP_NTZ: compare window starts as instants in session time
    want = want.withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.agg(F.sum("n")).collect()[0][0] == turns_df.count()


def test_conversation_sessions_state(spark, stream_input, turns_pdf, tmp_path):
    turns = stream_transcripts(spark, stream_input)
    sessions = conversation_sessions(turns)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        ended = q.awaitTermination(180)
    finally:
        q.stop()
    assert ended, "the availableNow session query did not end"
    rows = spark.sql(
        "select conv_id, max(n_turns) as n_turns, max(n_errors) as n_errors "
        "from sess_test group by conv_id"
    ).collect()
    got = {r["conv_id"]: (r["n_turns"], r["n_errors"]) for r in rows}
    exp_turns = turns_pdf.groupby("conv_id").size()
    exp_errors = (
        turns_pdf.assign(e=turns_pdf.text.str.contains("level=ERROR", regex=False))
        .groupby("conv_id")["e"]
        .sum()
    )
    assert len(got) == exp_turns.size
    for conv, (n, ne) in got.items():
        assert n == exp_turns[conv], conv
        assert ne == int(exp_errors[conv]), conv


def test_stream_dedup_once_drops_cross_batch_duplicates(spark, tmp_path):
    """Re-delivered (conv_id, turn_idx, ts) rows across micro-batches
    are dropped by the stateful dedup (at-least-once upstream -> one
    row downstream)."""
    from datetime import datetime

    from sparkcollector.schema import TRANSCRIPTS_SCHEMA

    rows = [
        ("c1", 0, "user", "hello", "none", datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "hi", "none", datetime(2024, 1, 1, 0, 0, 5)),
    ]
    import glob as _glob
    import shutil as _shutil

    src = tmp_path / "in"
    src.mkdir()

    def _drop_flat(df, name):
        # the file stream source watches FLAT files; extract the part
        # file from the directory a DataFrame write produces
        d = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = _glob.glob(str(d / "part-*.parquet"))[0]
        _shutil.copy(part, src / f"{name}.parquet")

    _drop_flat(spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA), "batch0")
    # second file re-delivers row 0 plus one new row
    dup_rows = [
        rows[0],
        ("c1", 2, "user", "more", "none", datetime(2024, 1, 1, 0, 0, 9)),
    ]
    _drop_flat(
        spark.createDataFrame(dup_rows, schema=TRANSCRIPTS_SCHEMA), "batch1"
    )

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch
        .parquet(str(src))
    )
    out: list = []
    q = (
        stream_dedup_once(stream)
        .writeStream.foreachBatch(lambda df, _eid: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["conv_id"], r["turn_idx"]) for r in out)
    assert got == [("c1", 0), ("c1", 1), ("c1", 2)]


def test_stream_interval_join_matches_batch(spark, tmp_path):
    import datetime as dt

    from sparkcollector.streaming import stream_interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    req_rows = [("c1", 1, ts(0)), ("c1", 2, ts(20)), ("c2", 3, ts(0))]
    rsp_rows = [
        ("c1", 10, ts(3)),   # matches req 1 (within 5 min)
        ("c1", 11, ts(21)),  # matches req 2
        ("c1", 12, ts(40)),  # matches nothing
        ("c2", 13, ts(4)),   # matches req 3 (key-scoped)
    ]
    req_schema = "conv_id string, req_id int, req_ts timestamp"
    rsp_schema = "conv_id string, rsp_id int, rsp_ts timestamp"
    req_dir, rsp_dir = tmp_path / "req", tmp_path / "rsp"
    spark.createDataFrame(req_rows, req_schema).coalesce(1).write.parquet(
        str(req_dir)
    )
    spark.createDataFrame(rsp_rows, rsp_schema).coalesce(1).write.parquet(
        str(rsp_dir)
    )
    left = spark.readStream.schema(req_schema).parquet(str(req_dir))
    right = spark.readStream.schema(rsp_schema).parquet(str(rsp_dir))
    joined = stream_interval_join(
        left, right, keys=["conv_id"], left_ts="req_ts",
        right_ts="rsp_ts", lower_sec=0, upper_sec=300,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sij_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["req_id"], r["rsp_id"])
        for r in spark.sql("select * from sij_test").collect()
    )
    assert got == [(1, 10), (2, 11), (3, 13)]


class _TailHarness:
    """Deterministic driver for the tail-sample stream.

    Uses the operator's EVENT-time mode (``ts_col``): decisions fire
    off the watermark, which advances only when we feed rows — so the
    test is a pure function of the data it feeds, with NO sleeps and
    no wall-clock deadlines (the round-2 flake was polling loops that
    required processing-time micro-batches to land within a
    deadline).  Each ``step`` feeds one batch file and blocks on
    ``processAllAvailable()``, which with event-time timeouts also
    runs the follow-up batch that fires newly-expired timers.
    (Processing-time-timeout state can't be driven to a barrier at
    all on Spark 4.1: ``availableNow``/``processAllAvailable`` spin
    'no new data but cleaning up state' forever.)
    """

    SCHEMA = "conv_id string, turn_idx bigint, text string, ts timestamp"
    T0 = 1_700_000_000  # any fixed epoch; offsets below are seconds

    def __init__(self, spark, tmp_path, name, decision_wait_ms=1500):
        from sparkcollector.streaming import stream_tail_sample

        self.spark = spark
        self.name = name
        self.in_dir = tmp_path / "in"
        self.in_dir.mkdir()
        self._n = 0
        turns = spark.readStream.schema(self.SCHEMA).parquet(
            str(self.in_dir / "*")
        )
        out = stream_tail_sample(
            turns, decision_wait_ms=decision_wait_ms, ts_col="ts"
        )
        self.q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 second")
            .start()
        )

    def step(self, rows):
        """Feed one batch (rows = (conv_id, turn_idx, text, offset_s))
        and block until fully processed; the watermark advances to the
        batch max ts, firing any event-time timers it passes."""
        import datetime

        self._n += 1
        stamped = [
            (c, i, t, datetime.datetime.fromtimestamp(
                self.T0 + off, datetime.timezone.utc))
            for (c, i, t, off) in rows
        ]
        self.spark.createDataFrame(stamped, self.SCHEMA).coalesce(
            1
        ).write.parquet(str(self.in_dir / f"b{self._n}.parquet"))
        self.q.processAllAvailable()

    def result(self, conv_id=None):
        rows = self.spark.sql(f"select * from {self.name}").collect()
        if conv_id is not None:
            rows = [r for r in rows if r["conv_id"] == conv_id]
        return rows

    def stop(self):
        self.q.stop()


def test_stream_tail_sample_emits_only_kept_conversations(spark, tmp_path):
    h = _TailHarness(spark, tmp_path, "tail_test")
    try:
        h.step(
            [
                ("keep", 0, "hello", 0),
                ("keep", 1, "boom level=ERROR here", 0),
                ("drop", 0, "all fine", 0),
                ("drop", 1, "still fine", 0),
            ]
        )  # buffered; decision timers armed at T0+1.5s
        assert h.result() == []  # nothing emitted before the decision
        # advance the watermark past the decision timers (event time)
        h.step([("dummy", 0, "nothing", 60)])
        got = sorted((r["conv_id"], r["turn_idx"]) for r in h.result())
        # the matching conversation is emitted COMPLETE; the clean one never
        assert got == [("keep", 0), ("keep", 1)], got
    finally:
        h.stop()


def test_stream_tail_sample_tombstone_drops_late_rows(spark, tmp_path):
    h = _TailHarness(spark, tmp_path, "tomb_test")
    try:
        h.step([("keep", 0, "boom level=ERROR", 0)])  # buffered
        h.step([("x", 0, "n", 60)])  # watermark passes T0+1.5s: decision
        assert sorted(r["turn_idx"] for r in h.result("keep")) == [0]
        # LATE row for the already-decided conversation — would previously
        # rebuild state and re-emit a partial duplicate at its timeout
        h.step([("keep", 9, "late level=ERROR", 61)])  # tombstone absorbs
        # advance far past where the duplicate's own decision timer
        # (and the tombstone's eviction) would fire
        h.step([("y", 0, "n", 600)])
        got = sorted(r["turn_idx"] for r in h.result("keep"))
        assert got == [0], got  # late turn 9 was dropped by the tombstone
    finally:
        h.stop()
