#!/usr/bin/env python3
"""Benchmark of the sparkcollector job, measured from outside the program.

    python3 perfbench/run.py --workload flat_job --seed 1 --seconds 4 --trace 0

Run from the repository root.  One process starts a Spark session on
``local[<usable cores>]``, generates its input from ``--seed`` (cached
per seed and size), warms up with a fixed number of calls, then times
whole calls until ``--seconds`` of measured time have passed and a
minimum count is reached: one ``run_pipeline`` job run (``flat_job``)
or one pass over the registry query mix (``registry_mix``).  Every
measured output is checked outside the timed window (``checks.py``,
``registry.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics instead: tracing overhead from interleaved untraced
and traced calls, Spark task and SQL metrics from an event log attached
to the traced calls, and layer self times from cumulative prefixes of
the job (see ``tracing.py``).  A per-layer metric that does not apply to
the workload (a pipeline layer on the registry mix, a registry query on
a pipeline workload) prints as 0.

Standard output ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds run annotations (host load, steal, md5 anchors, per-sink counts,
warm-up times), which are recorded but not gated.  Everything the run
writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from host import HostWatch, RssSampler, adopt_orphans, anchors, end_children, nproc, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ["flat_job", "registry_mix"]

# Unchecked calls before measuring: for flat_job, cold
# ``run_pipeline`` calls; for the registry, noop passes after the cold
# pass that writes the results.  Spark's generated code keeps getting
# faster for several calls (C2 compiles it in stages); on a 4-core VM a
# flat call goes 9.7, 2.1, 1.9, 1.6, 1.6, 1.5 s and then stays near
# 1.5 s; a mix pass keeps falling for its first four or so.  A fixed
# count, not a "runs agree" rule, puts every run at the same point of
# that curve and keeps set-up time comparable; the median of the
# measured calls absorbs the rest of the curve.  More warm-up would not
# fit the run budget on a contended host.
WARMUP_CALLS = {
    "standard": {"flat_job": 3, "registry_mix": 2},
    "tiny": {"flat_job": 1, "registry_mix": 0},
}
# Measured calls per run: until ``--seconds`` of measured time, and at
# least this many, whose median is reported.
MIN_UNITS = {
    "standard": {"flat_job": 5, "registry_mix": 3},
    "tiny": {"flat_job": 1, "registry_mix": 1},
}
TRACED_PAIRS = 2
MAX_FAILED = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["standard", "tiny"], default="standard",
                   help="input size; tiny is for the self-test")
    p.add_argument("--keep", action="store_true",
                   help="keep the last checked output and print its paths")
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep Spark, its JVM and Python's temp files inside the work
    directory, and fix the engine size so results do not depend on the
    host's memory.  The heap starts at its full 2g, so the JVM's resident
    size follows the pages the job touches, not when the garbage
    collector chose to grow the heap (on a 4-vCPU VM, growth left
    ``peak_rss_mb`` spreading by a quarter of its median between runs)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--conf 'spark.driver.extraJavaOptions=-XX:InitialHeapSize=2g -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    )


def import_program() -> None:
    """Import ``sparkcollector`` from this checkout, never another copy."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import sparkcollector

    found = os.path.dirname(os.path.abspath(sparkcollector.__file__))
    if found != os.path.join(ROOT, "sparkcollector"):
        raise SystemExit(f"sparkcollector imported from {found}, not from {ROOT}")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)


def remove_stale_runs() -> None:
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            pid = int(name[4:])
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
            except PermissionError:
                pass


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit of one section of ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


class Tally:
    """Attempted and failed calls and checks of one run."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def fail(self, count: int = 1) -> None:
        """Count failures; call inside an ``except`` block."""
        self.failed += count
        self.failures.append(traceback.format_exc(limit=3))
        print(self.failures[-1], file=sys.stderr)
        if self.failed >= MAX_FAILED:
            raise


class Runner(Tally):
    """Times, checks and tallies ``run_pipeline`` calls of one workload."""

    def __init__(self, spark, wl, sampler):
        super().__init__()
        self.spark = spark
        self.wl = wl
        self.sampler = sampler
        self.next = 0

    def call(self, label: str | None = None, check: bool = True, keep: bool = False):
        """One timed call + its check; returns the unit, or None when
        it failed."""
        from checks import check_output, layer_ratios
        from tracing import labelled

        i, self.next = self.next, self.next + 1
        if check:
            self.attempted += 1
        unit = None
        try:
            c0 = tree_cpu_s()
            self.sampler.open()
            with labelled(self.spark, label) if label else nullcontext():
                t0 = time.time()
                p0 = time.perf_counter()
                metrics = self.wl.unit(self.spark, i)
                seconds = time.perf_counter() - p0
                t1 = time.time()
            self.sampler.close()
            cpu_s = tree_cpu_s() - c0
            unit = self.wl.finish_unit(i, metrics)
            unit.seconds, unit.t0, unit.t1, unit.cpu_s = seconds, t0, t1, cpu_s
            unit.rss_mb = self.sampler.peak_mb
            if check:
                errs, unit.sinks = check_output(
                    unit.inputs, unit.routed_files, unit.agg_files
                )
                if label:
                    unit.ratios = layer_ratios(unit.routed_files)
                if errs:
                    raise AssertionError("; ".join(errs))
        except Exception:  # one failed call is counted; the run goes on
            self.sampler.close()
            self.fail()
            unit = None
        finally:
            if unit is not None and not keep:
                self.wl.discard(unit)
        return unit


def warm_up(runner: Runner, calls: int) -> list[float]:
    times: list[float] = []
    for _ in range(calls):
        unit = runner.call(check=False)
        if unit is None:
            raise RuntimeError("warm-up run failed")
        times.append(unit.seconds)
    return times


def pipeline_end_to_end(runner: Runner, args, setup_s: float):
    units = []
    measured = 0.0
    while measured < args.seconds or len(units) < MIN_UNITS[args.size][args.workload]:
        unit = runner.call(keep=args.keep)
        if unit is not None:
            units.append(unit)
            measured += unit.seconds
    metrics = {
        "call_s_p50": (statistics.median(u.seconds for u in units), "s"),
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(u.cpu_s for u in units), "s"),
        # median over calls of each call's peak: the heap's slow growth
        # over a run makes a run-wide maximum depend on run length
        "peak_rss_mb": (statistics.median(u.rss_mb for u in units), "MB"),
        "written_bytes_per_row": (
            statistics.median(u.written_bytes / u.turns for u in units), "bytes/row"
        ),
    }
    return metrics, units


def pair_order(j: int) -> tuple[bool, bool]:
    """Untraced then traced call in even pairs, the reverse in odd ones,
    so the calls' warm-up drift cancels out of the tracing overhead."""
    return (False, True) if j % 2 == 0 else (True, False)


def pipeline_per_layer(runner: Runner, args, start_s: float, run_dir: str):
    from tracing import EventLog, busy_union_s, harvest, prefix_self_times

    ev = EventLog(runner.spark, os.path.join(run_dir, "eventlog"))
    plain, traced, stats = [], [], []
    for j in range(TRACED_PAIRS):
        for trace in pair_order(j):
            if not trace:
                if (u := runner.call()) is not None:
                    plain.append(u)
                continue
            ev.start(f"unit{j}")
            u = runner.call(label=f"unit{j}", keep=True)
            stats.append(harvest(ev.stop()).get(f"unit{j}", {}))
            if u is not None:
                traced.append(u)
                u.stats = stats[-1]
    if not plain or not traced:
        raise RuntimeError("no successful untraced/traced pair")
    last = traced[-1]
    for u in traced:
        runner.wl.discard(u)

    passes = (1, 1) if args.size == "tiny" else (2, 3)
    self_s = prefix_self_times(
        runner.spark, runner.wl, os.path.join(run_dir, "prefix"), args.seconds, *passes
    )

    def mean(key: str) -> float:
        return statistics.fmean(float(s.get(key, 0.0)) for s in stats)

    gap = statistics.fmean(
        u.seconds - busy_union_s(u.stats["jobs"], u.t0, u.t1) for u in traced
    )
    match, miss = last.ratios
    m = {
        "session.start_s": (start_s, "s"),
        "inputs.gen_s": (runner.wl.gen_s, "s"),
        "checkpoint.scan_s": (self_s["scan"], "s"),
        "checkpoint.scan_ms": (mean("scan_ms"), "ms"),
        "checkpoint.scan_bytes": (mean("files_read_bytes"), "bytes"),
        "checkpoint.write_s": (self_s["write"], "s"),
        "checkpoint.write_bytes": (statistics.fmean(u.written_bytes for u in traced), "bytes"),
        "checkpoint.write_files": (
            statistics.fmean(len(u.routed_files) + len(u.agg_files) for u in traced), "count"
        ),
        "checkpoint.task_commit_ms": (mean("task_commit_ms"), "ms"),
        "checkpoint.log_bytes": (last.log_bytes, "bytes"),
        "job.exchange_s": (self_s["exchange"], "s"),
        "job.shuffle_bytes": (mean("shuffle_bytes"), "bytes"),
        "job.shuffle_write_ms": (mean("shuffle_write_ms"), "ms"),
        "job.fetch_wait_ms": (mean("fetch_wait_ms"), "ms"),
        "job.order_s": (self_s["order"], "s"),
        "job.sort_ms": (mean("sort_ms"), "ms"),
        "job.sort_peak_mb": (mean("sort_peak_bytes") / 2**20, "MB"),
        "job.spill_bytes": (mean("spill_bytes"), "bytes"),
        "job.task_skew": (mean("task_skew"), "ratio"),
        "job.spark_jobs": (statistics.fmean(len(s.get("jobs", ())) for s in stats), "count"),
        "job.tasks": (mean("tasks"), "count"),
        "job.driver_gap_s": (gap, "s"),
        "job.unattributed_s": (
            statistics.median(u.seconds for u in traced) - self_s["total"], "s"
        ),
        "parse.s": (self_s["parse"], "s"),
        "parse.builtin_s": (self_s["parse_builtin"], "s"),
        "parse.py_sent_bytes": (mean("py_sent_bytes"), "bytes"),
        "parse.py_returned_bytes": (mean("py_returned_bytes"), "bytes"),
        "parse.py_run_ms": (mean("py_run_ms"), "ms"),
        "parse.py_init_ms": (mean("py_init_ms"), "ms"),
        "parse.match_ratio": (match, "ratio"),
        "enrich.s": (self_s["enrich"], "s"),
        "enrich.miss_ratio": (miss, "ratio"),
        "route.s": (self_s["route"], "s"),
        **{
            f"route.rows_{s}": (last.metrics[f"sink_{s}_rows"], "count")
            for s in ("traces", "metrics", "events")
        },
        "aggregate.s": (self_s["aggregate"], "s"),
        "aggregate.build_ms": (mean("agg_build_ms"), "ms"),
        "aggregate.groups": (last.agg_rows, "count"),
        "engine.cpu_s": (mean("executor_cpu_s"), "s"),
        "engine.gc_ms": (mean("gc_ms"), "ms"),
        "engine.executor_run_ms": (mean("executor_run_ms"), "ms"),
        "trace.overhead_frac": (
            statistics.median(u.seconds for u in traced)
            / statistics.median(u.seconds for u in plain) - 1.0,
            "ratio",
        ),
    }
    return m, plain + traced


def run_pipeline_workload(spark, wl, sampler, args, start_s, run_dir, note):
    """Warm up, then measure; returns (metrics, runner)."""
    runner = Runner(spark, wl, sampler)
    t0 = time.perf_counter()
    note["warmup_s"] = warm_up(runner, WARMUP_CALLS[args.size][args.workload])
    note["setup_s"] = setup_s = start_s + time.perf_counter() - t0
    if args.trace:
        metrics, units = pipeline_per_layer(runner, args, start_s, run_dir)
    else:
        metrics, units = pipeline_end_to_end(runner, args, setup_s)
    note.update(
        unit_s=[u.seconds for u in units],
        unit_cpu_s=[u.cpu_s for u in units],
        unit_rss_mb=[u.rss_mb for u in units],
        turns_per_s=statistics.median(u.turns / u.seconds for u in units),
        sink_rows=[getattr(u, "sinks", None) for u in units],
    )
    if args.keep:
        u = units[-1]
        note["kept"] = {"inputs": u.inputs, "routed_files": u.routed_files,
                        "agg_files": u.agg_files, "dir": run_dir}
    return metrics, runner


def registry_pass(spark, wl, sampler, tally: Tally, label: str | None = None) -> dict | None:
    """One timed pass over the query mix; returns its timings, or None
    when a query failed."""
    from registry import MIX
    from tracing import labelled

    tally.attempted += 1
    per_query: dict[str, float] = {}
    try:
        c0 = tree_cpu_s()
        sampler.open()
        with labelled(spark, label) if label else nullcontext():
            t0, p0 = time.time(), time.perf_counter()
            for name in MIX:
                q0 = time.perf_counter()
                wl.run_query(spark, name)
                per_query[name] = time.perf_counter() - q0
            seconds, t1 = time.perf_counter() - p0, time.time()
        sampler.close()
    except Exception:  # one failed pass is counted; the run goes on
        sampler.close()
        tally.fail()
        return None
    return {"seconds": seconds, "t0": t0, "t1": t1, "cpu_s": tree_cpu_s() - c0,
            "rss_mb": sampler.peak_mb, "queries": per_query}


def registry_check(wl, tally: Tally) -> None:
    """Compare every query's written result with its oracle; each query
    is one attempted check."""
    from registry import MIX, compare

    tally.attempted += len(MIX)
    errs: list[str] = []
    try:
        if errs := compare(ROOT, wl.tables, wl.results):
            raise AssertionError("; ".join(errs))
    except Exception:
        tally.fail(max(len(errs), 1))


def run_registry_workload(spark, wl, sampler, args, start_s, run_dir, note):
    """Warm up, then measure; returns (metrics, tally)."""
    from registry import MIX
    from tracing import EventLog, busy_union_s, harvest

    tally = Tally()
    t0 = time.perf_counter()
    # The warm-up is one cold pass that writes each result to Parquet
    # (those outputs are checked after the measured passes), then noop
    # passes like the measured ones.
    written, rows = wl.write_results(spark)
    note["warmup_s"] = [time.perf_counter() - t0]
    for _ in range(WARMUP_CALLS[args.size][args.workload]):
        t1 = time.perf_counter()
        for name in MIX:
            wl.run_query(spark, name)
        note["warmup_s"].append(time.perf_counter() - t1)
    note["setup_s"] = setup_s = start_s + time.perf_counter() - t0

    passes: list[dict] = []
    if args.trace:
        ev = EventLog(spark, os.path.join(run_dir, "eventlog"))
        traced, stats = [], []
        for j in range(TRACED_PAIRS):
            for trace in pair_order(j):
                if not trace:
                    if (p := registry_pass(spark, wl, sampler, tally)) is not None:
                        passes.append(p)
                    continue
                ev.start(f"pass{j}")
                p = registry_pass(spark, wl, sampler, tally, label=f"pass{j}")
                stats.append(harvest(ev.stop()).get(f"pass{j}", {}))
                if p is not None:
                    traced.append(p)
                    p["stats"] = stats[-1]
        if not passes or not traced:
            raise RuntimeError("no successful untraced/traced pair")

        def mean(key: str) -> float:
            return statistics.fmean(float(s.get(key, 0.0)) for s in stats)

        plain_s = statistics.median(p["seconds"] for p in passes)
        query_s = {
            f"queries.{name}_s": (statistics.median(p["queries"][name] for p in passes), "s")
            for name in passes[0]["queries"]
        }
        metrics = {
            "session.start_s": (start_s, "s"),
            "inputs.gen_s": (wl.gen_s, "s"),
            "job.spark_jobs": (statistics.fmean(len(s.get("jobs", ())) for s in stats), "count"),
            "job.tasks": (mean("tasks"), "count"),
            "job.driver_gap_s": (statistics.fmean(
                p["seconds"] - busy_union_s(p["stats"]["jobs"], p["t0"], p["t1"])
                for p in traced), "s"),
            "engine.cpu_s": (mean("executor_cpu_s"), "s"),
            "engine.gc_ms": (mean("gc_ms"), "ms"),
            "engine.executor_run_ms": (mean("executor_run_ms"), "ms"),
            "trace.overhead_frac": (
                statistics.median(p["seconds"] for p in traced) / plain_s - 1.0, "ratio"
            ),
            **query_s,
        }
        passes += traced
    else:
        measured = 0.0
        while measured < args.seconds or len(passes) < MIN_UNITS[args.size][args.workload]:
            if (p := registry_pass(spark, wl, sampler, tally)) is not None:
                passes.append(p)
                measured += p["seconds"]
        metrics = {
            "call_s_p50": (statistics.median(p["seconds"] for p in passes), "s"),
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
            "peak_rss_mb": (statistics.median(p["rss_mb"] for p in passes), "MB"),
            "written_bytes_per_row": (written / max(rows, 1), "bytes/row"),
        }
        note["result_rows"] = rows
    registry_check(wl, tally)
    note.update(
        unit_s=[p["seconds"] for p in passes],
        unit_cpu_s=[p["cpu_s"] for p in passes],
        unit_rss_mb=[p["rss_mb"] for p in passes],
        query_s=[p["queries"] for p in passes],
    )
    if args.keep:
        note["kept"] = {"tables": wl.tables, "results": wl.results, "dir": run_dir}
    return metrics, tally


def main(argv: list[str]) -> int:
    began = time.perf_counter()
    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    import_program()

    watch = HostWatch()
    note = {"workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "seconds": args.seconds, **anchors()}
    inputs = os.path.join(WORK, "inputs")
    if args.workload == "registry_mix":
        from registry import RegistryMix

        wl = RegistryMix(run_dir, inputs, args.seed, args.size)
        run = run_registry_workload
    else:
        from workloads import FlatJob

        wl = FlatJob(run_dir, inputs, args.seed, args.size)
        run = run_pipeline_workload

    from sparkcollector.session import get_spark

    t0 = time.perf_counter()
    note["before_session_s"] = t0 - began
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    try:
        with RssSampler() as sampler:
            metrics, tally = run(spark, wl, sampler, args, start_s, run_dir, note)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        note["stop_s"] = time.perf_counter() - t0

    if args.trace:  # a per-layer metric that does not apply prints as 0
        wanted = declared("per_layer")
        note["not_applicable"] = sorted(set(wanted) - set(metrics))
        for name in note["not_applicable"]:
            metrics[name] = (0.0, wanted[name])

    note.update(watch.finish())
    note.update(
        inputs_gen_s=wl.gen_s,
        failed_frac=tally.failed / max(tally.attempted, 1),
        failures=tally.failures,
    )
    if note["contended"]:
        print("warning: contended host (steal or load1 over limit)", file=sys.stderr)
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    note["wall_s"] = time.perf_counter() - began
    print(json.dumps({"perfbench": note}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main(sys.argv[1:])
    finally:
        # every process the run started has ended before it exits
        if killed := end_children():
            print(f"warning: killed {killed} leftover processes", file=sys.stderr)
    sys.exit(code)
