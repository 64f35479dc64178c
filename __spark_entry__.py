"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship parse→enrich→route→aggregate pipeline on a
transcripts view derived deterministically from the sf0.001 events
table.  ``queries``/``oracle_sql`` expose every implemented operator
(SURVEY.md §2 + training-data ops) with DuckDB-checkable oracles; the
registry lives in ``sparkcollector.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sparkcollector.aggregate import count_connector
    from sparkcollector.config import compile_pipeline
    from sparkcollector.queries import transcripts_from_events

    turns = transcripts_from_events(spark, "/root/testdata/sf0.001")
    routed = compile_pipeline()(turns)
    return count_connector(routed)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sparkcollector.queries import queries as _q

    return _q()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases)."""
    from sparkcollector.queries import oracle_sql as _o

    return _o()
