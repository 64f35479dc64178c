#!/usr/bin/env python3
"""Stability stress for list_reduce-based oracles.

DuckDB 1.0's ``list_reduce`` over a struct-wrapping-list accumulator
(``struct_pack(v := .., s := [..])``) returns NONDETERMINISTIC garbage
on a fraction of groups once the group count is large enough — found at
sf0.1 on ``token_bucket_audit`` (final_tokens ~ -1.8e204 on 15-240 of
1500 keys, varying run to run, ``threads=1`` included).  A single green
sweep therefore does NOT prove such an oracle correct: it may pass by
luck.  This harness runs every oracle whose SQL contains
``list_reduce`` N times and compares a canonical value-hash across
reps; any variation (or astronomical-magnitude float) is a red flag —
rewrite the oracle with a FLAT list-of-doubles accumulator (see
token_bucket_audit, which pins the working pattern).

Usage: python3 scripts/stress_list_reduce.py [SF_DIR] [REPS]
Exit 0 = all stable; 1 = instability listed.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")

from sparkcollector.schema import SF_TABLE_SCHEMAS  # noqa: E402


def row_hash(tbl) -> tuple[str, int]:
    """(order-insensitive md5 of rendered rows, count of absurd floats)."""
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = list(zip(*cols)) if cols else []
    absurd = sum(
        1
        for r in rows
        for v in r
        if isinstance(v, float) and not math.isnan(v) and abs(v) > 1e100
    )
    lines = sorted("|".join(repr(v) for v in r) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), absurd


def main() -> None:
    from sparkcollector.queries import REGISTRY

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    con = duckdb.connect()
    for t in SF_TABLE_SCHEMAS:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    targets = [
        (n, s) for n, (_f, s) in REGISTRY.items() if s and "list_reduce" in s
    ]
    print(f"stressing {len(targets)} list_reduce oracles x {reps} reps "
          f"at {sf_dir}")
    bad = []
    for name, sql in targets:
        hashes, absurds = set(), 0
        try:
            for _ in range(reps):
                h, a = row_hash(con.sql(sql).fetch_arrow_table())
                hashes.add(h)
                absurds += a
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"error: {str(e)[:120]}"))
            continue
        if len(hashes) > 1 or absurds:
            bad.append(
                (name, f"{len(hashes)} distinct hashes over {reps} reps, "
                       f"{absurds} absurd floats")
            )
            print(f"  UNSTABLE {name}: {bad[-1][1]}")
        else:
            print(f"  stable   {name}")
    print(f"\n{len(bad)} unstable of {len(targets)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
