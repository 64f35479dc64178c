"""Structured Streaming pipeline: the collector's always-on mode.

The reference is a streaming dataflow engine (receivers push batches
through a synchronous consumer chain, SURVEY.md §3.1); our batch job
is the axes-A+B graft of it.  This module re-expresses the SAME
logical stages on Structured Streaming so the engine also covers the
reference's native shape:

* file-source ingest (the filelog receiver analog — new files under a
  directory are discovered and checkpointed exactly-once, matching the
  ``file_storage`` offset store, splunk_logs_config_linux.yaml:21-27),
* identical exclude/parse/enrich/transform/route stages: a streaming
  input goes through the SAME ``config.compile_pipeline`` function as
  the batch job, which leaves out only the repartition and the sort
  (Structured Streaming rejects the sort; :func:`write_stream_sinks`
  orders each epoch) — one logical plan, two execution modes,
* watermarked 1-minute windowed counts (the batch job's count
  connector under late data; the watermark bounds state like the
  batch processor's timeout),
* ``foreachBatch`` fan-out appends into the same SnapshotCatalog sink
  tables (idempotent per epoch — the HEC exporter's retry-safe queue),
* :func:`conversation_sessions` — a custom stateful operator via
  ``applyInPandasWithState``: per-conversation running counters with
  event-time idle-timeout finalization (the discovery receiver's
  correlation state, endpoint_tracker.go:243-293, is the reference's
  analog of keyed session state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..aggregate import count_connector
from ..schema import TRANSCRIPTS_SCHEMA

# Event-time lateness windowed_counts and conversation_sessions
# accept: a turn older than (max event time seen - WATERMARK) is
# dropped, and state keyed on older time is finalized and evicted.
WATERMARK = "10 minutes"


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript turns (schema fixed up front —
    streaming scans can't infer)."""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )


def windowed_counts(routed: DataFrame) -> DataFrame:
    """The batch job's :func:`~sparkcollector.aggregate.count_connector`
    grouping over a routed stream, with late-data bounds.

    The watermark caps state: windows older than (max event time −
    ``WATERMARK``) finalize and evict — the streaming analog of the
    batch processor's flush timeout."""
    return count_connector(routed.withWatermark("ts", WATERMARK))


def write_stream_sinks(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Fan-out the routed stream into the SnapshotCatalog sink tables.

    ``foreachBatch`` gives the batch writer per epoch: each micro-batch
    is sorted (conv_id, turn_idx) and appended partitioned-by-sink —
    the same single-pass layout as the batch job, so batch and
    streaming runs produce interchangeable sink tables.

    Idempotent per epoch: Structured Streaming re-runs ``foreachBatch``
    with the SAME ``epoch_id`` when a micro-batch is retried after a
    failure between the catalog commit and the streaming-checkpoint
    commit.  ``write_epoch`` therefore skips the append when the
    snapshot log already records this epoch — the standard foreachBatch
    idempotency check — so a retry cannot double-append.
    """
    from ..catalog import make_catalog, table_uri

    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        cat = make_catalog(table_uri(out_dir, "routed"))
        if cat.has_epoch(epoch_id):
            return  # epoch already committed; retried micro-batch
        ordered = df.repartition(F.col("conv_id")).sortWithinPartitions(
            "sink", "conv_id", "turn_idx"
        )
        cat.append(
            ordered, metrics={"epoch": epoch_id}, partition_by=["sink"]
        )

    w = (
        routed.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------
# custom stateful operator: per-conversation session tracking
# ---------------------------------------------------------------------

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("last_ts", T.DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def conversation_sessions(
    turns: DataFrame, idle_timeout_ms: int = 300_000
) -> DataFrame:
    """Keyed running session state per conversation.

    ``applyInPandasWithState`` keeps (n_turns, n_errors, last_ts) per
    conv_id; each micro-batch emits the updated totals.  The idle clock
    is EVENT time behind the ``WATERMARK`` that :func:`windowed_counts`
    uses: a conversation closes once event time (the watermark) passes
    its last turn plus ``idle_timeout_ms``, emits a final ``closed``
    row and drops its state (bounded memory at 10^12-turn scale: state
    is one tiny tuple per LIVE conversation, not per turn).  Turns
    later than the watermark are dropped.  An event-time clock gives
    the same sessions on every replay, and, unlike pending
    processing-time timeouts (see :func:`stream_tail_sample`), lets an
    ``availableNow`` query end once its input is consumed.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        conv_id = key[0]
        if state.hasTimedOut:
            n_turns, n_errors, _ = state.get
            state.remove()
            yield pd.DataFrame(
                [{"conv_id": conv_id, "n_turns": n_turns,
                  "n_errors": n_errors, "closed": True}]
            )
            return
        n_turns, n_errors, last_ts = state.get if state.exists else (0, 0, 0.0)
        for pdf in pdf_iter:
            n_turns += len(pdf)
            n_errors += int(
                pdf["text"].str.contains("level=ERROR", regex=False).sum()
            )
            ts_max = pdf["ts"].max()
            if pd.notna(ts_max):
                last_ts = max(last_ts, ts_max.timestamp())
        state.update((n_turns, n_errors, last_ts))
        state.setTimeoutTimestamp(
            max(state.getCurrentWatermarkMs(), int(last_ts * 1000))
            + idle_timeout_ms
        )
        yield pd.DataFrame(
            [{"conv_id": conv_id, "n_turns": n_turns,
              "n_errors": n_errors, "closed": False}]
        )

    return (
        turns.withWatermark("ts", WATERMARK)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup_once(
    turns: DataFrame,
    keys: list[str] | None = None,
    watermark_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same record
    across micro-batches.  ``dropDuplicates`` keeps one state entry
    per key; the watermark bounds that state (a key older than the
    watermark can be evicted because a duplicate that late would be
    dropped by the watermark anyway) — the streaming twin of the batch
    ``dedup_once`` entry and the at-scale answer to at-least-once
    upstream delivery (the HEC exporter's retry queue semantics).
    """
    keys = keys or ["conv_id", "turn_idx"]
    return turns.withWatermark(watermark_col, watermark).dropDuplicates(
        keys + [watermark_col]
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lower_sec: int = 0,
    upper_sec: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    match right rows with ``right_ts`` in
    ``[left_ts + lower_sec, left_ts + upper_sec]`` on equal ``keys`` —
    the streaming twin of :func:`sparkcollector.enrich.interval_join`
    (error-burst correlation, request/response pairing, trace
    stitching as the events arrive).

    Both sides carry a watermark and the join condition bounds event
    time in BOTH directions, which is exactly what Spark's
    stream-stream join needs to EVICT buffered state: a left row older
    than (watermark + upper_sec) can never match future right rows and
    is dropped, so state is O(rows inside the watermark horizon), not
    O(stream).  ``left_ts``/``right_ts`` must be distinct column names
    (rename upstream) so the joined schema is unambiguous.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = " and ".join(
        [f"l.{k} = r.{k}" for k in keys]
        + [
            f"r.{right_ts} >= l.{left_ts} + interval {lower_sec} seconds",
            f"r.{right_ts} <= l.{left_ts} + interval {upper_sec} seconds",
        ]
    )
    joined = lw.join(rw, F.expr(cond), "inner")
    # project the key columns once (qualified) + both payloads
    dedup_keys = [F.col(f"l.{k}").alias(k) for k in keys]
    payload = [
        F.col(f"l.{c}") for c in left.columns if c not in keys
    ] + [F.col(f"r.{c}") for c in right.columns if c not in keys]
    return joined.select(*dedup_keys, *payload)


TAIL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

TAIL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("turn_idxs", T.ArrayType(T.LongType())),
        T.StructField("texts", T.ArrayType(T.StringType())),
        T.StructField("matched", T.BooleanType()),
        T.StructField("decided", T.BooleanType()),
    ]
)


def stream_tail_sample(
    turns: DataFrame,
    needle: str = "level=ERROR",
    decision_wait_ms: int = 300_000,
    ts_col: str | None = None,
) -> DataFrame:
    """Streaming tail sampling (the tailsampling processor's actual
    shape): buffer each conversation's turns in keyed state for
    ``decision_wait_ms`` (the processor's ``decision_wait``); when the
    conversation goes idle, evaluate the policy over the COMPLETE
    buffer and emit ALL its rows iff any turn contains ``needle`` —
    otherwise emit nothing.  Nothing is emitted before the decision,
    exactly like the processor (late spans would otherwise escape the
    policy).

    State is the buffered conversation — inherent to tail sampling and
    identical to the reference's memory model: bounded by
    decision_wait x arrival rate, NOT by stream length.  A decided
    conversation leaves an empty TOMBSTONE (the processor's
    decided-trace cache) for 10x the decision wait, so rows arriving
    after the decision are dropped rather than re-emitted as a
    partial duplicate conversation; the tombstone's own timeout then
    evicts it.

    Timeout clock: with ``ts_col=None`` the decision wait runs on
    PROCESSING time (the reference's wall-clock ``decision_wait``).
    Passing an event-time column switches to EVENT-time timeouts
    keyed on the stream's watermark — deterministic under replay
    (the same input always yields the same decisions, independent of
    host speed), which is both the replayable-at-scale configuration
    and what the tests drive.  On Spark 4.1, pending
    processing-time-timeout state also makes ``availableNow`` /
    ``processAllAvailable`` spin forever ("no new data but cleaning
    up state"), so only the event-time mode can be driven to a
    barrier.  Both modes share the same update logic; only the
    timeout registration differs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    event_time = ts_col is not None

    def arm(state, wait_ms, base_ms=None):
        """Register the next timeout on whichever clock is in use.
        Event-time mode counts the wait from ``base_ms`` (the
        conversation's latest turn timestamp) when given, else from
        the current watermark; the result must sit strictly beyond
        the watermark or Spark rejects it."""
        if event_time:
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(wm, base_ms or 0) + wait_ms)
        else:
            state.setTimeoutDuration(wait_ms)

    def update(key, pdf_iter, state):
        conv_id = key[0]
        if state.hasTimedOut:
            idxs, texts, matched, decided = state.get
            if decided:
                state.remove()  # tombstone eviction
                return
            # decision point: emit the complete kept conversation,
            # then tombstone
            state.update(([], [], False, True))
            arm(state, decision_wait_ms * 10)
            if matched:
                yield pd.DataFrame(
                    {
                        "conv_id": conv_id,
                        "turn_idx": list(idxs),
                        "text": list(texts),
                    }
                )
            return
        idxs, texts, matched, decided = (
            state.get if state.exists else ([], [], False, False)
        )
        if decided:
            # late rows for an already-decided conversation: drop them,
            # keep the tombstone alive
            for _ in pdf_iter:
                pass
            state.update(([], [], False, True))
            arm(state, decision_wait_ms * 10)
            yield from ()
            return
        idxs, texts = list(idxs), list(texts)
        max_ts_ms = 0
        for pdf in pdf_iter:
            idxs += [int(x) for x in pdf["turn_idx"]]
            texts += list(pdf["text"])
            matched = matched or bool(
                pdf["text"].str.contains(needle, regex=False).any()
            )
            if event_time and len(pdf):
                max_ts_ms = max(
                    max_ts_ms,
                    int(pdf[ts_col].max().value // 1_000_000),
                )
        state.update((idxs, texts, matched, False))
        arm(state, decision_wait_ms, max_ts_ms)
        yield from ()

    src = turns.withWatermark(ts_col, "0 seconds") if event_time else turns
    return src.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=TAIL_OUTPUT_SCHEMA,
        stateStructType=TAIL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if event_time
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
