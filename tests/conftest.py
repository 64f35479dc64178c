from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TURNS = 4000
SEED = 42


@pytest.fixture(scope="session")
def spark():
    from sparkcollector.session import get_spark

    s = get_spark(
        master="local[4]", app_name="sparkcollector-tests", shuffle_partitions=8
    )
    yield s


@pytest.fixture(scope="session")
def turns_pdf():
    from sparkcollector.synth import generate_pandas

    return generate_pandas(N_TURNS, seed=SEED)


@pytest.fixture(scope="session")
def turns_path(tmp_path_factory):
    from sparkcollector.synth import write_parquet

    p = tmp_path_factory.mktemp("data") / "transcripts.parquet"
    write_parquet(str(p), N_TURNS, seed=SEED)
    return str(p)


@pytest.fixture(scope="session")
def turns_df(spark, turns_path):
    return spark.read.parquet(turns_path)


@pytest.fixture(scope="session")
def assert_zstd():
    """``check(snap, *keeps_dict)``: every column chunk of the
    snapshot's files is ZSTD, and each column in ``keeps_dict`` has a
    dictionary page in every chunk (the codec leaves encodings alone)."""
    import pyarrow.parquet as pq

    def check(snap, *keeps_dict):
        seen = set()
        for f in snap.files:
            md = pq.ParquetFile(f["path"]).metadata
            for g in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(g).column(i)
                    seen.add(c.path_in_schema)
                    assert c.compression == "ZSTD", (f["path"], c.path_in_schema)
                    if c.path_in_schema in keeps_dict:
                        assert c.has_dictionary_page, (c.path_in_schema, c.encodings)
        assert seen and set(keeps_dict) <= seen, seen

    return check


def pytest_addoption(parser):
    parser.addoption(
        "--run-iceberg",
        action="store_true",
        default=False,
        help="run the Iceberg runtime integration test (needs "
        "iceberg-spark-runtime on the classpath — a real cluster)",
    )


def pytest_collection_modifyitems(config, items):
    # The Iceberg runtime integration test is DESELECTED (not skipped)
    # by default: this sandbox provably cannot obtain the runtime jar
    # (no network — see BENCH/BASELINE.md 'Iceberg runtime closure'),
    # so a permanent skip row would just be noise in every run.  On a
    # real cluster: pytest --run-iceberg tests/test_catalog.py
    if config.getoption("--run-iceberg"):
        return
    deselected = [
        i for i in items if i.get_closest_marker("iceberg_runtime")
    ]
    if deselected:
        items[:] = [i for i in items if not i.get_closest_marker("iceberg_runtime")]
        config.hook.pytest_deselected(items=deselected)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "iceberg_runtime: integration test requiring the "
        "iceberg-spark-runtime jar (run with --run-iceberg)",
    )
