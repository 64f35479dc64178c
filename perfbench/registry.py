"""The ``registry_mix`` workload: a fixed list of registry queries.

One measured call is one pass over ``MIX``, each query built by
``sparkcollector.queries.queries()`` and materialised through the
``noop`` sink.  The list takes three of ``bench.py``'s headline queries
and three of the analytics families that the roadmap's twin deletion
and shared-idiom work will rewrite, so the pass runs ``queries.py`` and
``operators/{similarity,promparse,analytics}``.  The tables are
generated from the run's seed (``tables.py``).

The check runs after the measured passes, outside the timed window: each
query's result is written once to Parquet, read back with pyarrow and
compared, through the order-insensitive value hash of
``scripts/check_correctness.py``, with the query's ``oracle_sql()`` run
by DuckDB on the same tables.  When the hashes differ, the rows are
paired in hash order and a float may differ from the oracle's by one
unit in its last decimal place (see ``_same_float``); everything else
must match exactly.
"""

from __future__ import annotations

import glob
import importlib.util
import math
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

from tables import TABLES, write_tables

MIX = [
    "regex_parse_extract",
    "dedup_exact",
    "ann_cosine_topk",
    "croston_intermittent",
    "xmlkv_parse",
    "mcc_best_threshold",
]
SF = {"standard": 0.01, "tiny": 0.001}
_CACHE_DIRS = 8


def _decimals(v: float) -> int:
    text = repr(v)
    if "e" in text:
        return 9
    return len(text.split(".")[1]) if "." in text else 0


def _same_float(a: float, b: float) -> bool:
    """Equal up to one unit in the last decimal place either value
    shows (at most canon's nine places), plus 1e-12 relative.  When a
    result is rounded to k places, the two engines' doubles before the
    rounding can differ by an ulp and fall on either side of a tie:
    0.15625 * 0.95 rounded to 6 places is 0.148438 in Spark and 0.148437
    in DuckDB.  Zero stays exact, as in canon, which tells -0 from 0."""
    if a == 0.0 or b == 0.0 or math.isnan(a) or math.isnan(b):
        return False
    places = min(9, max(_decimals(a), _decimals(b)))
    return abs(a - b) <= 1.000001 * 10.0**-places + 1e-12 * max(abs(a), abs(b))


def _same_values(helpers, got, got_cols, want, want_cols) -> bool:
    if helpers.value_hash(got, got_cols) == helpers.value_hash(want, want_cols):
        return True

    def in_hash_order(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(
            ([r[i] for i in order] for r in rows),
            key=lambda r: "|".join(helpers.canon(v) for v in r),
        )

    for g, w in zip(in_hash_order(got, got_cols), in_hash_order(want, want_cols)):
        for a, b in zip(g, w):
            if helpers.canon(a) != helpers.canon(b) and not (
                isinstance(a, float) and isinstance(b, float) and _same_float(a, b)
            ):
                return False
    return True


def compare(root: str, tables: str, results: str, names=MIX) -> list[str]:
    """Compare the Parquet result of each query under ``results/<name>``
    with its oracle on ``tables``; returns failure messages."""
    from sparkcollector.queries import oracle_sql

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "scripts", "check_correctness.py")
    )
    helpers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(helpers)
    oracles = oracle_sql()
    failures: list[str] = []
    with duckdb.connect() as con:
        con.sql("SET threads = 1")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for name in names:
            got = pq.read_table(os.path.join(results, name))
            res = con.sql(oracles[name])
            want = res.fetch_arrow_table()
            if got.num_rows != want.num_rows or not _same_values(
                helpers,
                helpers.arrow_rows(got), got.column_names,
                helpers.arrow_rows(want), [c.lower() for c in res.columns],
            ):
                failures.append(
                    f"{name}: {got.num_rows} rows, oracle {want.num_rows}; value hash differs"
                )
    return failures


class RegistryMix:
    name = "registry_mix"

    def __init__(self, work: str, inputs_dir: str, seed: int, size: str):
        from sparkcollector.queries import queries

        sf = SF[size]
        self.tables = os.path.join(inputs_dir, f"tables-sf{sf}-s{seed}")
        self.gen_s = 0.0
        if not os.path.isdir(self.tables):
            t0 = time.perf_counter()
            tmp = f"{self.tables}.tmp-{os.getpid()}"
            write_tables(tmp, sf, seed)
            os.replace(tmp, self.tables)
            self.gen_s = time.perf_counter() - t0
            cached = sorted(glob.glob(os.path.join(inputs_dir, "tables-*")),
                            key=os.path.getmtime)
            for old in cached[:-_CACHE_DIRS]:
                shutil.rmtree(old, ignore_errors=True)
        self.results = os.path.join(work, "results")
        qs = queries()
        self.queries = {n: qs[n] for n in MIX}

    def run_query(self, spark, name: str) -> None:
        self.queries[name](spark, self.tables).write.format("noop").mode("overwrite").save()

    def write_results(self, spark) -> tuple[int, int]:
        """Write every query's result to Parquet (untimed); returns
        (bytes written, result rows)."""
        written = rows = 0
        for name in MIX:
            out = os.path.join(self.results, name)
            self.queries[name](spark, self.tables).write.mode("overwrite").parquet(out)
            meta = pq.ParquetDataset(out)
            written += sum(os.path.getsize(f) for f in meta.files)
            rows += sum(pq.ParquetFile(f).metadata.num_rows for f in meta.files)
        return written, rows
