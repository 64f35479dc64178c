#!/usr/bin/env python3
"""Sweep every oracle for driver-unstable FLOAT VALUES.

The round-3 red (`littles_law_audit`) was not a wrong answer but a
rendering divergence: DuckDB's round() preserves IEEE -0.0 while
Spark's (BigDecimal HALF_UP) never emits it, so identical results hash
differently in the driver's canonicalization.  NaN and ±Inf are the
same class — engines disagree on whether 0/0 is NULL or NaN.

This executes every oracle through DuckDB (cheap — the oracles run in
seconds at sf0.01) and reports entries whose OUTPUT contains -0.0,
NaN, or ±Inf anywhere.  Each hit is a latent driver red: fix the entry
to emit `round(..) + 0.0` for signed near-zero columns and NULL-guard
zero denominators on BOTH sides.

Usage: python3 scripts/sweep_signed_zero.py [SF_DIR ...]
Exit 0 = clean; exit 1 = hits listed.
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

from sparkcollector.schema import SF_TABLE_SCHEMAS  # noqa: E402


def scan(tbl) -> dict[str, list[str]]:
    """Column -> list of problem kinds found in an Arrow table."""
    bad: dict[str, list[str]] = {}
    for i in range(tbl.num_columns):
        name = tbl.schema[i].name
        kinds = set()
        for v in tbl.column(i).to_pylist():
            if not isinstance(v, float):
                continue
            if math.isnan(v):
                kinds.add("NaN")
            elif math.isinf(v):
                kinds.add("Inf")
            elif v == 0.0 and math.copysign(1.0, v) < 0:
                kinds.add("-0.0")
        if kinds:
            bad[name] = sorted(kinds)
    return bad


def main() -> None:
    from sparkcollector.queries import REGISTRY

    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    hits = []
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in SF_TABLE_SCHEMAS:
            con.sql(
                f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
            )
        for name, (_fn, sql) in REGISTRY.items():
            if sql is None:
                continue
            try:
                tbl = con.sql(sql).fetch_arrow_table()
            except Exception as e:  # noqa: BLE001
                hits.append((sf_dir, name, {"<error>": [str(e)[:150]]}))
                continue
            bad = scan(tbl)
            if bad:
                hits.append((sf_dir, name, bad))
                print(f"  {name} @ {sf_dir}: {bad}")
    print(
        f"{len(hits)} oracle outputs with driver-unstable float values"
    )
    sys.exit(1 if hits else 0)


if __name__ == "__main__":
    main()
