#!/usr/bin/env python3
"""Repeat-run determinism stress for BOTH engines.

The token_bucket_audit lesson (round 4): a nondeterministic oracle can
pass a single sweep by luck, so cross-engine agreement alone is not
evidence of stability.  This harness executes every registry entry N
times per engine, hashes each run canonically, and flags any entry
whose hash varies BETWEEN RUNS of the same engine — catching DuckDB
evaluator nondeterminism (the list_reduce struct-state bug) and Spark
order-sensitivity (an unsorted collect_list, a fold over an
unstably-ordered array) alike.

Usage: python3 scripts/stress_determinism.py [SF_DIR] [REPS] [--duck-only|--spark-only]
Exit 0 = every entry bit-stable on both engines.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

from sparkcollector.schema import SF_TABLE_SCHEMAS  # noqa: E402


def canon_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(repr(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    from sparkcollector.queries import REGISTRY

    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.1"
    reps = int(pos[1]) if len(pos) > 1 else 2
    do_duck = "--spark-only" not in sys.argv
    do_spark = "--duck-only" not in sys.argv

    bad = []

    if do_duck:
        con = duckdb.connect()
        for t in SF_TABLE_SCHEMAS:
            con.sql(
                f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
            )
        print(f"DuckDB: {reps} reps per oracle at {sf_dir}")
        for name, (_fn, sql) in REGISTRY.items():
            if sql is None:
                continue
            hashes = set()
            t0 = time.time()
            try:
                for _ in range(reps):
                    tbl = con.sql(sql).fetch_arrow_table()
                    cols = [tbl.column(i).to_pylist()
                            for i in range(tbl.num_columns)]
                    rows = list(zip(*cols)) if cols else []
                    hashes.add(canon_hash(rows,
                                          [f.name for f in tbl.schema]))
            except Exception as e:  # noqa: BLE001
                bad.append(("duck", name, f"error {str(e)[:100]}"))
                continue
            if len(hashes) > 1:
                bad.append(("duck", name, f"{len(hashes)} hashes/{reps}"))
                print(f"  UNSTABLE duck {name}")
            elif time.time() - t0 > 30:
                print(f"  slow duck {name} ({time.time()-t0:.0f}s)")

    if do_spark:
        from sparkcollector.session import get_spark

        spark = get_spark(master="local[8]", shuffle_partitions=8)
        print(f"Spark: {reps} reps per query at {sf_dir}")
        for name, (fn, _sql) in REGISTRY.items():
            hashes = set()
            t0 = time.time()
            try:
                for _ in range(reps):
                    df = fn(spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    hashes.add(canon_hash(rows, df.columns))
            except Exception as e:  # noqa: BLE001
                bad.append(("spark", name, f"error {str(e)[:100]}"))
                continue
            if len(hashes) > 1:
                bad.append(("spark", name, f"{len(hashes)} hashes/{reps}"))
                print(f"  UNSTABLE spark {name}")
            elif time.time() - t0 > 60:
                print(f"  slow spark {name} ({time.time()-t0:.0f}s)")

    print(f"\n{len(bad)} unstable/errored entries")
    for side, name, msg in bad:
        print(f"  {side} {name}: {msg}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
