"""Traced-run instruments: a switchable Spark event log and its harvest.

Tracing is attached from outside the program.  ``EventLog`` adds
Spark's own ``EventLoggingListener`` to the running context (plain
JSON, no compression, no rolling) and removes it again, so one process
can time untraced and traced runs back to back on the same warm JVM;
the difference is the tracing overhead.  Every measured call runs
under a ``perfbench.label`` local property, which Spark copies into
each job's properties, so the harvest can attribute jobs, stages and
task metrics to the call that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LABEL = "perfbench.label"


class EventLog:
    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self._listener = None
        self._name = ""

    def start(self, name: str) -> None:
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        os.makedirs(self.log_dir, exist_ok=True)
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(self.log_dir)}"),
            conf,
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        self._name = name

    def stop(self) -> str:
        """Flush pending events, detach, close; returns the log path."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        (path,) = [
            p for p in glob.glob(os.path.join(self.log_dir, self._name + "*"))
            if not p.endswith(".inprogress")
        ]
        return path


@contextmanager
def labelled(spark, label: str):
    sc = spark.sparkContext
    sc.setLocalProperty(LABEL, label)
    try:
        yield
    finally:
        sc.setLocalProperty(LABEL, None)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


# SQL metric name -> key in the harvest; "max" metrics keep the task
# maximum, the rest are summed over tasks.
SQL_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "shuffle bytes written": "shuffle_bytes",
    "shuffle write time": "shuffle_write_ms",
    "fetch wait time": "fetch_wait_ms",
    "sort time": "sort_ms",
    "peak memory": "sort_peak_bytes",
    "spill size": "spill_bytes",
    "task commit time": "task_commit_ms",
    "time in aggregation build": "agg_build_ms",
    "scan time": "scan_ms",
    # driver-side: reported by the scan node, not by tasks
    "size of files read": "files_read_bytes",
}
_MAX_METRICS = {"sort_peak_bytes"}


def _as_ms_or_bytes(value: float, metric_type: str | None) -> float:
    return value / 1e6 if metric_type == "nsTiming" else value


def harvest(path: str) -> dict[str, dict]:
    """Per-label totals from one event log: job count and intervals,
    task count, task-level engine metrics and the SQL metrics above."""
    plan: dict[int, tuple[str, str]] = {}
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    driver_updates: list[tuple[int, int, float]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(e["sparkPlanInfo"], plan)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates += [(e["executionId"], i, v) for i, v in e["accumUpdates"]]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if label := props.get(LABEL):
                    jobs[e["Job ID"]] = {"label": label, "start": e["Submission Time"]}
                    for sid in e["Stage IDs"]:
                        stage_label[sid] = label
                    if "spark.sql.execution.id" in props:
                        exec_label[int(props["spark.sql.execution.id"])] = label
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_label:
                tasks[stage_label[e["Stage ID"]]].append(e)

    out: dict[str, dict] = {}
    for label in {j["label"] for j in jobs.values()}:
        st: dict = defaultdict(float)
        for exec_id, acc_id, v in driver_updates:
            name, mtype = plan.get(acc_id, ("", ""))
            if exec_label.get(exec_id) == label and name in SQL_METRICS:
                st[SQL_METRICS[name]] += _as_ms_or_bytes(float(v), mtype)
        st["jobs"] = [
            (j["start"] / 1000, j.get("end", j["start"]) / 1000)
            for j in jobs.values()
            if j["label"] == label
        ]
        stage_durations: dict[int, list[float]] = defaultdict(list)
        for e in tasks.get(label, ()):
            tm = e.get("Task Metrics") or {}
            info = e["Task Info"]
            st["tasks"] += 1
            st["executor_run_ms"] += tm.get("Executor Run Time", 0)
            st["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            stage_durations[e["Stage ID"]].append(
                info["Finish Time"] - info["Launch Time"]
            )
            for acc in info.get("Accumulables", ()):
                key = SQL_METRICS.get(acc.get("Name"))
                if key is None or acc.get("Update") is None:
                    continue
                v = _as_ms_or_bytes(float(acc["Update"]), plan.get(acc["ID"], ("", ""))[1])
                st[key] = max(st[key], v) if key in _MAX_METRICS else st[key] + v
        # Skew of the busiest stage: slowest task over the median task.
        if stage_durations:
            busiest = max(stage_durations.values(), key=sum)
            med = statistics.median(busiest)
            st["task_skew"] = max(busiest) / med if med > 0 else 1.0
        out[label] = st
    return out


def busy_union_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by at least one job interval."""
    covered, cursor = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, t1)
        if b > a:
            covered += b - a
            cursor = b
    return covered


def prefix_self_times(
    spark, wl, scratch: str, seconds: float, min_passes: int = 2, max_passes: int = 3
) -> dict[str, float]:
    """Self time of each layer from cumulative prefixes of the job,
    composed from the program's public functions in job order.

    Prefixes 1-6 are materialised through ``noop``; 7 replaces the noop
    with the real ``SnapshotCatalog.append``; 8 adds ``count_connector``
    over ``read_since`` of what 7 wrote, appended to an aggregate table.
    A layer's self time is ``prefix(k) - prefix(k-1)``.  The parse A/B
    swaps ``parse_turns`` for ``parse_turns_builtin`` on the same
    spread prefix.  Passes repeat until ``seconds`` have been spent
    (within ``min_passes``..``max_passes``); each prefix reports its
    fastest pass, the one least disturbed by the host, so small layers
    are less often buried in noise (one can still read slightly
    negative).
    """
    from pyspark.sql import functions as F

    from sparkcollector.aggregate import count_connector
    from sparkcollector.checkpoint import SnapshotCatalog
    from sparkcollector.enrich import enrich_turns
    from sparkcollector.parse import parse_turns, parse_turns_builtin
    from sparkcollector.route import route

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    scan = wl.scan(spark)
    spread = scan.repartition(F.col("conv_id"))
    enriched = enrich_turns(parse_turns(spread))
    routed = route(enriched)
    ordered = routed.sortWithinPartitions("sink", "conv_id", "turn_idx")
    stages = [
        ("scan", scan),
        ("exchange", spread),
        ("parse", parse_turns(spread)),
        ("enrich", enriched),
        ("route", routed),
        ("order", ordered),
        ("parse_builtin", parse_turns_builtin(spread)),
    ]

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    samples: dict[str, list[float]] = defaultdict(list)
    started = time.perf_counter()
    for p in range(max_passes):
        for name, df in stages:
            samples[name].append(timed(lambda: noop(df)))
        routed_cat = SnapshotCatalog(os.path.join(scratch, f"routed-{p}"))
        samples["write"].append(
            timed(lambda: routed_cat.append(ordered, partition_by=["sink"]))
        )
        agg_cat = SnapshotCatalog(os.path.join(scratch, f"agg-{p}"))
        samples["aggregate"].append(samples["write"][-1] + timed(
            lambda: agg_cat.append(count_connector(
                routed_cat.read_since(spark, 0).select("sink", "conv_id", "role", "tool", "ts")
            ))
        ))
        if p + 1 >= min_passes and time.perf_counter() - started >= seconds:
            break
    cum = {name: min(v) for name, v in samples.items()}
    builtin = cum.pop("parse_builtin")

    names = list(cum)
    self_s = {names[0]: cum[names[0]]}
    for prev, name in zip(names, names[1:]):
        self_s[name] = cum[name] - cum[prev]
    self_s["parse_builtin"] = builtin - cum["exchange"]
    self_s["total"] = cum["aggregate"]
    return self_s
