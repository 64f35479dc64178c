"""The benchmark's pipeline workload, driving ``job.run_pipeline``.

``flat_job`` is the production job over flat parquet: one
``repartition(conv_id)`` exchange, then parse, enrich, route, sort, the
partitioned write and the aggregate.  Most pipeline optimisations show
here.

Inputs come from ``synth.generate_pandas`` seeded by the run's seed and
are cached in the work directory per (size, seed), so they are
generated once and never inside a timed region.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from sparkcollector import synth
from sparkcollector.checkpoint import SnapshotCatalog
from sparkcollector.job import run_pipeline

# turns per run
SIZES = {"standard": 100_000, "tiny": 3_000}
_CACHE_FILES = 48


def cached_parquet(inputs_dir: str, name: str, n_turns: int, seed: int) -> tuple[str, float]:
    """Path of a generated transcripts parquet and the seconds spent
    generating it (0 when it was already cached)."""
    os.makedirs(inputs_dir, exist_ok=True)
    path = os.path.join(inputs_dir, f"{name}.parquet")
    if os.path.exists(path):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp-{os.getpid()}"
    synth.write_parquet(tmp, n_turns, seed=seed)
    os.replace(tmp, path)
    spent = time.perf_counter() - t0
    cached = sorted(glob.glob(os.path.join(inputs_dir, "*.parquet")), key=os.path.getmtime)
    for old in cached[:-_CACHE_FILES]:
        os.remove(old)
    return path, spent


def _dir_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


class Unit:
    """One measured ``run_pipeline`` call and where its output went."""

    def __init__(self, metrics: dict, inputs: list[str], out_dir: str):
        self.metrics = metrics
        self.inputs = inputs
        self.out_dir = out_dir
        self.seconds = 0.0
        self.t0 = self.t1 = 0.0
        routed = SnapshotCatalog(os.path.join(out_dir, "routed")).snapshots()[-1]
        agg = SnapshotCatalog(os.path.join(out_dir, "agg_counts")).snapshots()[-1]
        self.routed_files = [f["path"] for f in routed.files]
        self.agg_files = [f["path"] for f in agg.files]
        self.agg_rows = agg.metrics["rows"]
        self.written_bytes = _dir_bytes(self.routed_files) + _dir_bytes(self.agg_files)
        self.log_bytes = _dir_bytes(
            glob.glob(os.path.join(out_dir, "*", "_snapshots.json"))
        )

    @property
    def turns(self) -> int:
        return self.metrics["turns"]


class FlatJob:
    name = "flat_job"

    def __init__(self, work: str, inputs_dir: str, seed: int, size: str):
        self.work = work
        n = SIZES[size]
        self.input, self.gen_s = cached_parquet(inputs_dir, f"flat-n{n}-s{seed}", n, seed)

    def unit(self, spark, i: int) -> dict:
        return run_pipeline(
            spark, self.input, self._out(i), strategy="partitioned", write=True
        )

    def finish_unit(self, i: int, metrics: dict) -> Unit:
        return Unit(metrics, [self.input], self._out(i))

    def discard(self, unit: Unit) -> None:
        shutil.rmtree(unit.out_dir, ignore_errors=True)

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"out-{i}")

    def scan(self, spark):
        """The scan prefix of the traced run."""
        return spark.read.parquet(self.input)

