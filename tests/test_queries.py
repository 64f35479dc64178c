"""Driver-contract smoke: every registry query runs at sf0.001 and the
oracle keys line up.  (Full value-equality vs DuckDB is exercised by
scripts/check_correctness.py at sf0.01 and by the driver.)"""

from __future__ import annotations

import glob
import os

import pytest

import __spark_entry__ as entry
from sparkcollector.queries import _t
from sparkcollector.schema import SF_TABLE_SCHEMAS

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def test_contract_shapes():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 15
    assert set(oracles) <= set(qs)
    for sql in oracles.values():
        assert isinstance(sql, str) and "select" in sql.lower()


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_query_executes(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize(
    "sf_dir", sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
)
def test_declared_table_schemas_match_the_files(spark, sf_dir):
    """A declared schema that drifts from the files reads NULL columns
    or fails the scan, so each must equal what inference returns."""
    for name, ddl in SF_TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _t(spark, sf_dir, name).schema == inferred, (name, ddl)


def test_declared_table_schemas_match_benchmark_tables(spark, tmp_path):
    from perfbench.tables import TABLES, write_tables

    write_tables(str(tmp_path), sf=0.001, seed=1)
    assert sorted(TABLES) == sorted(SF_TABLE_SCHEMAS)
    for name in TABLES:
        inferred = spark.read.parquet(f"{tmp_path}/{name}.parquet").schema
        assert _t(spark, str(tmp_path), name).schema == inferred, name


def test_table_reads_launch_no_spark_job(spark):
    sc = spark.sparkContext
    group = "test-registry-table-reads"
    sc.setJobGroup(group, "queries._t")
    try:
        for name in ("events", "documents", "embeddings", "lineitem"):
            _t(spark, SF_DIR, name)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_unknown_table_names_the_known_ones(spark):
    with pytest.raises(ValueError, match="known: .*'events'"):
        _t(spark, SF_DIR, "event")
