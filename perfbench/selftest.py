#!/usr/bin/env python3
"""Self-test of the benchmark, run at a tiny input size.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py`` untraced and
traced and fails unless

1. every metric the file names is printed, with the unit it names
   (end-to-end metrics untraced, per-layer metrics traced), and the run
   reports no failed call;
2. the per-layer metrics that print as "does not apply" are the
   ``queries.*`` ones on a pipeline workload and only the pipeline ones
   on ``registry_mix``;
3. the output check passes on the kept output of the untraced run, and
   fails once one row has been dropped from it on purpose (a routed row,
   or a row of one registry query's result).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ] + (["--keep"] if trace == 0 else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    *_, note, result = proc.stdout.splitlines()
    return json.loads(note)["perfbench"], json.loads(result)


def drop_one_row(files: list[str]) -> None:
    import pyarrow.parquet as pq

    for path in files:
        table = pq.read_table(path)
        if table.num_rows:
            pq.write_table(table.slice(1), path)
            return
    raise SystemExit("no row to drop")


def check_kept(workload: str, kept: dict) -> list[str]:
    """The output check on a kept output, then again with one row
    dropped; returns problems."""
    if workload == "registry_mix":
        from registry import MIX, compare

        def check():
            return compare(ROOT, kept["tables"], kept["results"])

        files = [os.path.join(kept["results"], MIX[0], f)
                 for f in sorted(os.listdir(os.path.join(kept["results"], MIX[0])))
                 if f.endswith(".parquet")]
    else:
        from checks import check_output

        def check():
            return check_output(kept["inputs"], kept["routed_files"], kept["agg_files"])[0]

        files = kept["routed_files"]
    problems = []
    if check():
        problems.append(f"{workload}: check fails on untouched output")
    drop_one_row(files)
    if not check():
        problems.append(f"{workload}: check passes with a row dropped")
    return problems


def main() -> int:
    sys.path.insert(0, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            note, result = run(w, trace)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            for name, unit in wanted[trace].items():
                if got.get(name) != unit:
                    problems.append(f"{w} trace={trace}: {name} [{unit}] printed as {got.get(name)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{w} trace={trace}: failed calls {note['failures']}")
            if trace:
                na = note["not_applicable"]
                is_query = [n.startswith("queries.") for n in na]
                if (w == "registry_mix") == any(is_query) or (
                    w != "registry_mix" and not all(is_query)
                ):
                    problems.append(f"{w}: unexpected not-applicable metrics {na}")
                continue
            problems += check_kept(w, note["kept"])
            shutil.rmtree(note["kept"]["dir"], ignore_errors=True)
            print(f"{w}: ok", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
