"""Schemas: the transcripts input table, the three sink tables and the
registry's input tables.

Input shape is authoritative from BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)``.

Sink shapes mirror the reference's three signal exporters
(FIXTURES.md §5; reference signal models at
pkg/receiver/smartagentreceiver/converter/{metrics,event,traces}.go):

* ``sink_metrics``  — signalfx-style datapoints
* ``sink_events``   — splunk-hec-style events (source/sourcetype per
  cmd/otelcol/config/collector/splunk_logs_config_linux.yaml:56-61)
* ``sink_traces``   — sapm-style spans
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Columns added by the parse stage (sparkcollector.parse).  All nullable:
# a turn with no embedded log fragment parses to NULLs and MUST NOT be
# dropped (stanza parsers leave non-matching records intact).
PARSED_FIELDS = [
    ("severity", T.StringType()),
    ("tool_name", T.StringType()),
    ("tool_status", T.StringType()),
    ("dur_ms", T.LongType()),
    ("span_id", T.StringType()),
    ("parent_span_id", T.StringType()),
    ("span_op", T.StringType()),
    ("log_ts", T.TimestampType()),
]

PARSED_STRUCT = T.StructType(
    [T.StructField(n, t, True) for n, t in PARSED_FIELDS]
)

SINK_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

SINK_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("severity", T.StringType(), True),
        T.StructField("body", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("sourcetype", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
)

SINK_TRACES_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType(), False),
        T.StructField("span_id", T.StringType(), False),
        T.StructField("parent_span_id", T.StringType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("dur_ms", T.LongType(), True),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
)

SINKS = ("metrics", "events", "traces")

# The catalog of the registry's input tables (``queries._t`` reads
# ``<sf_dir>/<name>.parquet`` with these schemas instead of inferring
# one from the files, which costs a Spark job per read).  Each DDL is
# exactly what inference returns on the test tables at every scale;
# the dates are TIMESTAMP_NTZ because the files store naive
# timestamps.  A new table, or a new column in a table's files, must
# be added here: a declared column the files lack reads as NULL, and
# one declared under another type fails the scan.
# ``tests/test_queries.py`` checks the declarations against the files.
SF_TABLE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
