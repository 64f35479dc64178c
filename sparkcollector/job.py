"""End-to-end pipeline: scan → parse → enrich → route → aggregate → sinks.

The dataflow template is the reference's monitor datapoint path
(SURVEY.md §3.2: filter → enrich → translate → route → sink,
pkg/receiver/smartagentreceiver/output.go:248-315) re-expressed as one
declarative Spark plan.  Designed as a ``spark-submit --py-files``
entrypoint:

    spark-submit --master <cluster> --py-files sparkcollector.zip \
        -m sparkcollector.job --input <transcripts> --out <dir>

Phases (one plan, the default config of ``config.compile_pipeline``;
Catalyst pipelines them, so they are not timed one by one):
  1. scan       parquet/snapshot-catalog read of transcripts
  2. spread     repartition(conv_id) of the narrow input, the one
                exchange (none on a conv_id-bucketed input)
  3. parse      regexp_extract field extraction in Catalyst (parse.py)
  4. enrich     broadcast role/tool lookups (enrich.py)
  5. route      first-match-wins sink tagging (route.py)
  6. order      sortWithinPartitions(sink, conv_id, turn_idx) — stable
                turn ordering before writes
  7. write      partitioned (or fan-out) sink writes + agg_counts table

What ``run_pipeline`` records (its return value, the CLI's JSON line):
``route_sec`` (call start until the routed rows are written, or
counted with ``--no-write``), ``total_sec`` (the whole call, so it
adds the agg_counts aggregate), ``turns``/``turns_per_sec``,
``sink_<name>_rows`` per sink from the written files, and
``written_bytes``: the on-disk size of the parquet files this run
committed to the routed (or fan-out sink) tables and agg_counts, the
sum of those snapshots' ``bytes`` with no extra scan (0 with
``--no-write``).
Each snapshot commit also logs its own ``write_sec`` (the routed write,
which runs phases 1-7 except the agg_counts table) and ``bytes``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import count_connector
from .catalog import make_catalog, table_uri
from .checkpoint import SnapshotCatalog
from .config import compile_pipeline
from .route import SINK_PROJECTIONS
from .session import get_spark


def read_sink(spark: SparkSession, out_dir: str, sink: str) -> DataFrame:
    """Read one routed sink with its exporter-shaped projection applied
    (partition-pruned scan of the single-pass routed table).  This is
    the reader of the ``partitioned`` layout that route.py describes:
    each sink is a partition of one table, projected at read time."""
    proj, _schema = SINK_PROJECTIONS[sink]
    routed = make_catalog(table_uri(out_dir, "routed")).read(spark)
    return proj(routed.filter(F.col("sink") == sink))


def run_pipeline(
    spark: SparkSession,
    input_path: str | None,
    out_dir: str,
    write: bool = True,
    strategy: str = "partitioned",
    warmup: bool = False,
    input_table: str | None = None,
    resume_state: str | None = None,
    bucketed_input: str | None = None,
    buckets: int = 32,
    _limit: int | None = None,
) -> dict:
    """Execute the full job; returns phase metrics (turns/sec etc.).

    The plan is ``compile_pipeline()`` — the default config — run with
    ``prepartitioned=True`` on a conv_id-bucketed input.

    ``partitioned`` (default, the at-scale path): ONE pass over the
    data — parse/enrich/route/order, then ``partitionBy("sink")``
    into the routed table; no persist, no recompute.  Row counts come
    from parquet footers (metadata only) and the aggregate table is
    computed from the written columnar data, where column pruning
    reads just the 5 grouping columns instead of the whole record.

    ``fanout``: collector-shaped N independent exporter writes with
    distinct physical schemas (persist + N filtered projected writes).

    ``warmup`` runs the same plan on a small slice before the timer
    starts, so one-time driver costs (codegen + JIT compilation,
    broadcast setup) are excluded and ``turns_per_sec``
    reflects steady-state throughput — the regime that matters at
    10^12-turn scale, where planning amortizes to zero.
    """
    if warmup:
        import shutil as _shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="sparkcollector-warmup-")
        try:
            run_pipeline(
                spark,
                input_path,
                wdir,
                write=write,
                strategy=strategy,
                warmup=False,
                input_table=input_table,  # no resume_state: never advance it
                bucketed_input=bucketed_input,
                buckets=buckets,
                # Default 20k rows is enough to warm a thread-local JVM;
                # fresh executor JVMs (local-cluster, pinned campaigns)
                # need ~10x more before C2 has compiled the hot loops —
                # the scaling harness raises it via env.
                _limit=int(os.environ.get("SPARK_GRAFT_WARMUP_ROWS", "20000")),
            )
        finally:
            _shutil.rmtree(wdir, ignore_errors=True)

    t0 = time.time()
    rs = last_snap = src_current = None
    if input_table:
        # Checkpointed resume: consume only snapshots committed after
        # the persisted watermark (the file_storage offset-store
        # analog); the watermark advances only after a successful run.
        # incremental_read lists the snapshot log ONCE and returns the
        # watermark actually covered by the read — a snapshot committed
        # mid-listing is neither processed-but-unrecorded (duplicate on
        # the next run) nor skipped.
        from .checkpoint import ResumeState

        src = make_catalog(input_table)
        rs = ResumeState(resume_state) if resume_state else None
        last_snap = rs.get(input_table) if rs else 0
        turns, src_current = src.incremental_read(spark, last_snap)
        if turns is None:
            return {
                "turns": 0,
                "skipped": True,
                "total_sec": 0.0,
                "turns_per_sec": 0.0,
                "resumed_from_snapshot": last_snap,
            }
    elif bucketed_input:
        # Production table layout: conv_id-bucketed (Iceberg
        # bucket(B, conv_id) write distribution).  The scan itself
        # delivers conversation-whole, hash-placed partitions, so the
        # pipeline runs with ZERO exchanges — the decisive shape at
        # 100 TB, where re-shuffling the text column per run is the
        # single largest cost in the whole job.
        from .synth import register_bucketed_table

        # Without a downstream operator REQUIRING the hash
        # distribution, Spark's auto-bucketed-scan silently falls back
        # to a split-by-size scan — which can split a conversation
        # across tasks.  Force one-task-per-bucket reads: the bucket
        # placement IS the ordering guarantee here.
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        name = register_bucketed_table(spark, bucketed_input, buckets)
        turns = spark.table(name)
    else:
        turns = spark.read.parquet(input_path)
    if _limit:
        turns = turns.limit(_limit)
    routed = compile_pipeline()(
        turns, prepartitioned=bool(bucketed_input) and not _limit
    )

    metrics: dict = {}
    written = 0
    if not write:
        n_turns = routed.count()
        t_routed = time.time()
        count_connector(routed).count()
    elif strategy == "partitioned":
        cat = make_catalog(table_uri(out_dir, "routed"))
        # Snapshot ids are opaque (Iceberg's are not sequential):
        # remember the pre-commit watermark instead of doing id
        # arithmetic, so the epoch read-back works on any backend.
        pre_commit = cat.current_snapshot_id() or 0
        snap = cat.append(routed, partition_by=["sink"])
        n_turns = snap.metrics["rows"]
        for s in SINK_PROJECTIONS:
            metrics[f"sink_{s}_rows"] = sum(
                f["rows"] for f in snap.files if f.get("sink") == s
            )
        t_routed = time.time()
        # Aggregate THIS epoch's data only (read back just the snapshot
        # we wrote) — on resume, agg_counts accumulates per-epoch
        # partials exactly like the count connector emits per batch.
        counts = count_connector(
            cat.read_since(spark, pre_commit).select(
                "sink", "conv_id", "role", "tool", "ts"
            )
        )
        agg = make_catalog(table_uri(out_dir, "agg_counts")).append(counts)
        written = snap.metrics["bytes"] + agg.metrics["bytes"]
    else:  # fanout
        routed.persist()
        try:
            n_turns = routed.count()
            t_routed = time.time()
            for s, (proj, _) in SINK_PROJECTIONS.items():
                cat = make_catalog(table_uri(out_dir, f"sink_{s}"))
                snap = cat.append(proj(routed.filter(F.col("sink") == s)))
                metrics[f"sink_{s}_rows"] = snap.metrics["rows"]
                written += snap.metrics["bytes"]
            agg = make_catalog(table_uri(out_dir, "agg_counts")).append(
                count_connector(routed)
            )
            written += agg.metrics["bytes"]
        finally:
            routed.unpersist()

    if rs is not None and src_current is not None:
        rs.set(input_table, src_current)

    elapsed = time.time() - t0
    metrics.update(
        {
            "turns": n_turns,
            "route_sec": round(t_routed - t0, 3),
            "total_sec": round(elapsed, 3),
            "turns_per_sec": round(n_turns / elapsed, 1),
            "written_bytes": written,
        }
    )
    if last_snap is not None:
        metrics["resumed_from_snapshot"] = last_snap
        metrics["processed_through_snapshot"] = src_current
    return metrics


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument(
        "--run-query",
        metavar="NAME",
        help="run one registry query (sparkcollector.queries) against "
        "--sf-dir and print row count + a result sample as JSON; "
        "use NAME=list to list available queries",
    )
    g.add_argument("--input", help="raw parquet transcripts path")
    g.add_argument(
        "--input-table",
        help="SnapshotCatalog table dir (enables checkpointed resume)",
    )
    g.add_argument(
        "--input-bucketed",
        help="conv_id-bucketed transcripts location (CLUSTERED BY "
        "(conv_id), the Iceberg bucket-transform layout); the pipeline "
        "then runs shuffle-free",
    )
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument(
        "--resume-state",
        help="watermark file; with --input-table, only snapshots after "
        "the stored watermark are processed and the watermark advances "
        "on success",
    )
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="table directory for --run-query",
    )
    p.add_argument("--limit", type=int, default=5, help="--run-query sample rows")
    p.add_argument("--out", help="output directory (required for pipeline runs)")
    p.add_argument("--master", default=None)
    p.add_argument("--no-write", action="store_true")
    p.add_argument(
        "--strategy", choices=["partitioned", "fanout"], default="partitioned"
    )
    p.add_argument("--warmup", action="store_true")
    args = p.parse_args()

    if args.run_query:
        from .queries import queries as _registry

        qs = _registry()
        if args.run_query == "list":
            print(json.dumps(sorted(qs)))
            return
        if args.run_query not in qs:
            p.error(f"unknown query {args.run_query!r}; try --run-query list")
        spark = get_spark(master=args.master, app_name="sparkcollector-query")
        df = qs[args.run_query](spark, args.sf_dir).cache()
        n_rows = df.count()  # materializes once; the sample reads the cache
        rows = [r.asDict(recursive=True) for r in df.limit(args.limit).collect()]
        df.unpersist()
        print(
            json.dumps(
                {
                    "query": args.run_query,
                    "rows": n_rows,
                    "columns": df.columns,
                    "sample": rows,
                },
                default=str,
            )
        )
        return
    if not args.out:
        p.error("--out is required unless --run-query is used")

    spark = get_spark(master=args.master, app_name="sparkcollector-job")
    metrics = run_pipeline(
        spark,
        args.input,
        args.out,
        write=not args.no_write,
        strategy=args.strategy,
        warmup=args.warmup,
        input_table=args.input_table,
        resume_state=args.resume_state,
        bucketed_input=args.input_bucketed,
        buckets=args.buckets,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
