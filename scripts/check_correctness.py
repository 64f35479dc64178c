"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01, runs the matching
oracle_sql() through DuckDB on the same parquet, and compares:
row count, sorted column names, and an order-insensitive value hash
(rows rendered to canonical strings, sorted, md5'd).
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

from sparkcollector.schema import SF_TABLE_SCHEMAS  # noqa: E402

_POS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = _POS[0] if _POS else "/root/testdata/sf0.01"
ONLY = _POS[1].split(",") if len(_POS) > 1 else None


def canon(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # IEEE -0.0 must stay distinct: DuckDB's round() preserves
            # the sign of zero while Spark's (BigDecimal) never emits
            # it, and the driver's hash sees the difference (the
            # littles_law_audit r03 red).  Folding it to "0" here is
            # exactly how the local harness missed that divergence.
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        # deliberately NOT folded into int/float: the driver's hash sees
        # Arrow decimal128 (DuckDB HUGEINT) as a distinct rendering, so a
        # HUGEINT-emitting oracle must mismatch here too.
        return f"decimal:{v}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def arrow_rows(tbl):
    """Arrow-export canonical rows: list of tuples in column order."""
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(zip(*cols)) if cols else []


def type_sweep(con, oracles) -> list:
    """DESCRIBE every oracle; return entries whose output has a type the
    driver's row-hash renders differently than Spark (HUGEINT/int128)."""
    bad = []
    for name, sql in oracles.items():
        try:
            desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"DESCRIBE error: {str(e)[:120]}"))
            continue
        huge = [(c, t) for c, t, *_ in desc
                if "HUGEINT" in t.upper() or "INT128" in t.upper()
                or "DECIMAL" in t.upper()]
        if huge:
            bad.append((name, f"unstable types: {huge}"))
    return bad


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    import __spark_entry__ as entry

    from sparkcollector.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in SF_TABLE_SCHEMAS:
        con.sql(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()

    if "--type-sweep" in sys.argv:
        bad = type_sweep(con, oracles)
        for n, msg in bad:
            print(f"  {n}: {msg}")
        print(f"{len(bad)} entries with driver-unstable oracle types "
              f"of {len(oracles)}")
        sys.exit(1 if bad else 0)

    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append((name, "0 rows (rows-only)"))
            continue
        res = con.sql(oracles[name])
        ocols = res.columns
        # Arrow export (not fetchall) so DuckDB HUGEINT surfaces as
        # decimal128 — the same rendering gap the driver's hash sees.
        orows = arrow_rows(res.fetch_arrow_table())
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(c.lower() for c in ocols) and sorted(
            c.lower() for c in scols
        ) != sorted(c.lower() for c in ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        sh = value_hash(srows, scols)
        oh = value_hash(orows, [c.lower() for c in ocols])
        if sh != oh:
            problems.append("value-hash MISMATCH")
            # show a sample diff
            so = sorted(
                "|".join(canon(v) for v in r) for r in srows
            )
            oo = sorted("|".join(canon(v) for v in r) for r in orows)
            diff = [(a, b) for a, b in zip(so, oo) if a != b][:3]
            for a, b in diff:
                print(f"      spark: {a}\n      duck : {b}")
        status = "OK " if not problems else "FAIL"
        print(
            f"  {name}: {status} rows={len(srows)} ({time.time()-t0:.1f}s)"
            + (f" — {'; '.join(problems)}" if problems else "")
        )
        if problems:
            failures.append((name, "; ".join(problems)))

    print()
    if failures:
        print("FAILURES:")
        for n, p in failures:
            print(f"  {n}: {p}")
        sys.exit(1)
    print("all queries match oracle")


if __name__ == "__main__":
    main()
