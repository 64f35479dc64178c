"""Guard: no oracle may emit a driver-unstable output type.

The driver's correctness gate hashes rows after Arrow export, where a
DuckDB HUGEINT (int128 from SUM over window/CASE arithmetic) renders as
decimal128 while Spark emits BIGINT — a guaranteed hash mismatch even
when every value is identical (the r02 red rows).  DESCRIBE binds every
oracle without executing it, so this sweep is cheap and total.
"""

from __future__ import annotations

import duckdb
import pytest

from sparkcollector.schema import SF_TABLE_SCHEMAS

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in SF_TABLE_SCHEMAS:
        c.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return c


def test_no_hugeint_oracle_columns(con):
    import __spark_entry__ as entry

    bad = []
    for name, sql in entry.oracle_sql().items():
        desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        huge = [
            (c, t)
            for c, t, *_ in desc
            if "HUGEINT" in t.upper() or "INT128" in t.upper()
        ]
        if huge:
            bad.append((name, huge))
    assert not bad, f"driver-unstable oracle output types: {bad}"


def test_gate_window_is_50_and_registered():
    from sparkcollector.queries import GATE_WINDOW, REGISTRY

    assert len(GATE_WINDOW) == 50
    assert len(set(GATE_WINDOW)) == 50
    missing = [n for n in GATE_WINDOW if n not in REGISTRY]
    assert not missing
    # gate entries must all have a real oracle (not rows-only) so the
    # driver's 50-row window is a full value-hash check
    rows_only = [n for n in GATE_WINDOW if REGISTRY[n][1] is None]
    assert not rows_only, f"gate window has rows-only entries: {rows_only}"


# ---------------------------------------------------------------------
# Signed-zero / NaN driver-canon conformance (the round-3 red class).
# DuckDB's round() preserves IEEE -0.0; Spark's round() (BigDecimal
# HALF_UP) never emits it.  Any oracle column that can round a tiny
# negative difference to zero therefore hashes differently on the two
# engines even when every value is numerically equal.  These tests pin
# (a) the local canonicalizer distinguishes -0.0 / NaN the way the
# driver's hash does, and (b) the engines' round() behavior that makes
# `+ 0.0` normalization necessary — so the class cannot recur silently.
# ---------------------------------------------------------------------


def test_canon_distinguishes_signed_zero_and_nan():
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "check_correctness",
        pathlib.Path(__file__).parent.parent / "scripts" / "check_correctness.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    canon = mod.canon
    assert canon(0.0) == "0"
    assert canon(-0.0) == "-0"          # must NOT fold to "0"
    assert canon(float("nan")) == "NaN"
    assert canon(None) == "NULL"
    assert canon(-0.0) != canon(0.0)


def test_duckdb_round_preserves_negative_zero(con):
    # the engine behavior the +0.0 normalization exists for
    import math

    (v,) = con.sql("select round(-1e-9, 6)").fetchone()
    assert v == 0.0 and math.copysign(1.0, v) < 0, "DuckDB round(-tiny) is -0.0"
    (v2,) = con.sql("select round(-1e-9, 6) + 0.0").fetchone()
    assert v2 == 0.0 and math.copysign(1.0, v2) > 0, "+ 0.0 normalizes it"


def test_spark_round_never_emits_negative_zero(spark):
    import math

    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(
            F.round(F.lit(-1e-9), 6).alias("r"),
            (F.round(F.lit(-1e-9), 6) + 0.0).alias("rn"),
            F.lit(-0.0).alias("lz"),
        )
        .collect()[0]
    )
    assert row["r"] == 0.0 and math.copysign(1.0, row["r"]) > 0
    assert row["rn"] == 0.0 and math.copysign(1.0, row["rn"]) > 0


def test_adversarial_roundtrip_hashes_equal(con, spark):
    """Render one adversarial result set (signed zero, NULL, bigint,
    float, timestamp) through BOTH engines and assert the local
    harness's value-hash matches — the end-to-end property the driver
    gate checks, on exactly the value classes that have burned us."""
    import importlib.util
    import pathlib

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "check_correctness",
        pathlib.Path(__file__).parent.parent / "scripts" / "check_correctness.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sdf = spark.range(1).select(
        F.lit(7).cast("bigint").alias("b"),
        (F.round(F.lit(-1e-9), 6) + 0.0).alias("z"),
        F.lit(None).cast("double").alias("m"),
        F.lit(1.5).alias("f"),
        F.to_timestamp(F.lit("2024-01-02 03:04:05")).alias("t"),
    )
    srows = [tuple(r) for r in sdf.collect()]
    res = con.sql(
        # NB: a bare 1.5 literal would be DECIMAL(2,1) in DuckDB and
        # canon would (rightly) render it distinctly — the registry's
        # convention of explicit double casts is part of what's pinned.
        "select cast(7 as bigint) as b, round(-1e-9, 6) + 0.0 as z, "
        "cast(null as double) as m, cast(1.5 as double) as f, "
        "timestamp '2024-01-02 03:04:05' as t"
    )
    orows = mod.arrow_rows(res.fetch_arrow_table())
    sh = mod.value_hash(srows, sdf.columns)
    oh = mod.value_hash(orows, [c.lower() for c in res.columns])
    assert sh == oh
