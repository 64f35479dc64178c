#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Headline #1 is the flagship end-to-end pipeline (parse -> enrich ->
route -> order -> aggregate, the north rule's job); the rest are
representative operators from the SURVEY.md §2 registry.  Every query
is materialized through the ``noop`` data source so the full result is
computed (a bare ``count()`` would let Catalyst prune projected
columns and under-measure).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    "regex_parse_extract",
    "route_fanout_counts",
    "count_connector_1min",
    "cumulative_to_delta",
    "timestamp_offset",
    "broadcast_enrich",
    "metrics_transform_agg",
    "span_metrics_red",
    "dedup_exact",
    "doc_token_stats",
    "ngram_jaccard_dups",
    "minhash_lsh_dups",
    "ann_cosine_topk",
]


def _calib_chain(_i: int) -> int:
    """One fixed md5-chain work unit (same as the serial calib) —
    mapped across processes for the parallel host anchor."""
    import hashlib

    blob = b"x" * 4096
    for _ in range(20000):
        blob = hashlib.md5(blob).digest() * 256
    return len(blob)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_times() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat — the hypervisor
    steal counter plus total, for the co-tenancy annotation below."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _wait_for_quiet_host(max_wait_s: float = 90.0) -> float:
    """Best-effort co-tenancy guard (round-3 verdict item 2: the r03
    headline regressed 1.33x with byte-identical plans because the
    measurement ran co-tenant).  If the 1-minute loadavg says sibling
    processes are burning CPU, wait — bounded — for the host to go
    quiet before measuring.  Returns the loadavg measurement started
    at; the run is ANNOTATED either way, never refused, so the driver
    always gets its JSON line."""
    deadline = time.time() + max_wait_s
    while True:
        load1 = os.getloadavg()[0]
        if load1 < 4.0 or time.time() >= deadline:
            return load1
        print(
            f"  host busy (load1={load1:.1f}), waiting for quiet...",
            file=sys.stderr,
        )
        time.sleep(5.0)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from sparkcollector.session import get_spark

    load1_start = _wait_for_quiet_host()
    jiffies0, steal0 = _cpu_times()

    spark = get_spark(master=f"local[{cpus}]", app_name="sparkcollector-bench")

    from pyspark.sql import functions as F

    from sparkcollector.aggregate import count_connector
    from sparkcollector.job import build_pipeline
    from sparkcollector.queries import queries as registry
    from sparkcollector.queries import transcripts_from_events

    # Warm up: run the full pipeline on a small slice first so JVM
    # codegen and broadcast machinery are hot — we measure
    # steady-state throughput, not container cold start.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    warm = count_connector(
        build_pipeline(transcripts_from_events(spark, sf_dir).limit(2000))
    )
    warm.agg(F.sum("n")).collect()

    timings: dict[str, float] = {}

    # -- e2e flagship pipeline: one pass, aggregate re-summed so every
    #    stage (regexp_extract parse, broadcast enrich, route, repartition+
    #    sort, windowed grouped counts) actually executes.
    t0 = time.time()
    agg = count_connector(build_pipeline(transcripts_from_events(spark, sf_dir)))
    n_turns = int(agg.agg(F.sum("n").alias("t")).collect()[0]["t"])
    e2e = time.time() - t0
    timings["e2e_pipeline"] = round(e2e, 3)

    qs = registry()
    for name in HEADLINE:
        t0 = time.time()
        _materialize(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)

    # Round-2 flagship operators, timed SEPARATELY so the headline
    # total stays directly comparable round over round.
    extra: dict[str, float] = {}
    for name in [
        "dedup_end_to_end",
        "pq_adc_topk",
        "lm_doc_score",
        "interval_join_error_window",
        "tree_linearize",
        "bm25_retrieval",
    ]:
        if name not in qs:
            continue
        t0 = time.time()
        _materialize(qs[name](spark, sf_dir))
        extra[name] = round(time.time() - t0, 3)
        print(f"  [extra] {name}: {extra[name]}s", file=sys.stderr)

    jiffies1, steal1 = _cpu_times()
    steal_frac = round((steal1 - steal0) / max(jiffies1 - jiffies0, 1), 4)
    # Single-core calibration anchor: fixed deterministic md5-chain
    # work, timed AFTER the measurement.  Rounds run on whatever host
    # the driver gives them — r3/r4 saw uniform ~1.3x spreads across
    # EVERY query with byte-identical plans and steal < 0.4%, i.e.
    # per-core host speed varies round to round.  This anchor lets a
    # reader normalize: headline_sec / cpu_calib_sec is comparable
    # across hosts in a way raw seconds are not.
    import hashlib

    t0 = time.perf_counter()
    blob = b"x" * 4096
    for _ in range(20000):
        blob = hashlib.md5(blob).digest() * 256
    cpu_calib_sec = round(time.perf_counter() - t0, 4)
    # parallel anchor (round-5): the single-core chain can't see
    # memory-bandwidth / SMT contention that slows PARALLEL Spark
    # stages on an otherwise "idle" host (the r4->r5 drift class);
    # 8 concurrent chains in separate processes measure exactly that.
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.get_context("fork").Pool(8) as pool:
        pool.map(_calib_chain, range(8))
    cpu_calib_par8_sec = round(time.perf_counter() - t0, 4)
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "sf": sf,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / e2e, 1),
        # co-tenancy annotations (see _wait_for_quiet_host): a rep with
        # steal_frac > 0.01 or load1_at_start > 4 ran on a contended
        # host and its timings are not plan evidence
        "steal_frac": steal_frac,
        "load1_at_start": round(load1_start, 2),
        "guard_clean": steal_frac <= 0.01 and load1_start <= 4.0,
        "cpu_calib_sec": cpu_calib_sec,
        "cpu_calib_par8_sec": cpu_calib_par8_sec,
        # the recorded DENOMINATOR for round-over-round comparison:
        # raw seconds confound code with host speed (the round-3/4
        # false regressions); headline / calib cancels the per-core
        # host factor, so THIS is the number to trend.
        "headline_per_calib": round(
            sum(timings.values()) / cpu_calib_sec, 2
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
