"""Parse stage: pandas-UDF path vs builtin Catalyst path parity, plus
stanza-parser semantics (non-matching rows preserved, severity mapping).
Reference behavior: stanza regex_parser/severity operators in
cmd/otelcol/config/collector/splunk_logs_config_linux.yaml:185-220."""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from sparkcollector.parse import (
    CALL_RE,
    SEVERITY_MAP,
    SEVERITY_RE,
    SPAN_RE,
    parse_turns,
    parse_turns_builtin,
)

PARSED_COLS = [
    "severity",
    "tool_name",
    "tool_status",
    "dur_ms",
    "span_id",
    "parent_span_id",
    "span_op",
    "log_ts",
]


def _norm(df):
    rows = df.select("conv_id", "turn_idx", *PARSED_COLS).collect()
    return sorted(tuple(r) for r in rows)


def test_pandas_and_builtin_paths_agree(turns_df):
    a = _norm(parse_turns(turns_df))
    b = _norm(parse_turns_builtin(turns_df))
    assert a == b


def test_no_rows_dropped(turns_df):
    assert parse_turns(turns_df).count() == turns_df.count()


def test_extraction_matches_python_re(turns_df, turns_pdf):
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in parse_turns(turns_df).collect()
    }
    sev_re = re.compile(SEVERITY_RE)
    call_re = re.compile(CALL_RE)
    span_re = re.compile(SPAN_RE)
    checked = 0
    for _, row in turns_pdf.head(500).iterrows():
        r = got[(row.conv_id, int(row.turn_idx))]
        m = sev_re.search(row.text)
        assert r["severity"] == (SEVERITY_MAP[m.group(1)] if m else None)
        c = call_re.search(row.text)
        assert r["tool_name"] == (c.group(1) if c else None)
        assert r["dur_ms"] == (int(c.group(4)) if c else None)
        s = span_re.search(row.text)
        assert r["span_id"] == (s.group(1) if s else None)
        checked += 1
    assert checked == 500


def test_severity_custom_mapping(spark):
    df = spark.createDataFrame(
        [("a", 0, "x", "oops level=ERROR here", "none"),
         ("a", 1, "x", "fine level=WARN", "none"),
         ("a", 2, "x", "no marker at all", "none")],
        ["conv_id", "turn_idx", "role", "text", "tool"],
    ).withColumn("ts", F.current_timestamp())
    out = {r["turn_idx"]: r["severity"] for r in parse_turns(df).collect()}
    assert out == {0: "error", 1: "warn", 2: None}


def test_non_ascii_text_parses_and_routes_like_builtin(spark):
    """Python's Unicode ``\\w``/``\\d`` must not widen the patterns: on
    non-ASCII text the pandas path extracts, and routes, exactly what
    the Java-regex path (and the RE2 oracle) does."""
    from sparkcollector.route import route

    df = spark.createDataFrame(
        [("a", 0, "tool", "CALL café(args=x) -> status=ok dur=5ms", "bash"),
         ("a", 1, "tool", "CALL read(args=x) -> status=ok dur=٣٤ms", "read"),
         ("a", 2, "tool", "span id=0123456789abcdef parent=- op=résumé", "none")],
        ["conv_id", "turn_idx", "role", "text", "tool"],
    ).withColumn("ts", F.current_timestamp())

    def routed(parser):
        out = route(parser(df)).select("turn_idx", *PARSED_COLS, "sink")
        return sorted(out.collect())

    got = routed(parse_turns)
    assert got == routed(parse_turns_builtin)
    assert got[0].tool_name is None and got[0].sink == "events"
    assert got[1].tool_name is None and got[1].dur_ms is None
    assert got[1].sink == "events"
    assert got[2].span_op == "r" and got[2].sink == "traces"


def test_log_ts_parsed(spark):
    df = spark.createDataFrame(
        [("a", 0, "x", "hit [02/Jan/2025:13:44:01 +0000] ok", "none")],
        ["conv_id", "turn_idx", "role", "text", "tool"],
    ).withColumn("ts", F.current_timestamp())
    r = parse_turns(df).collect()[0]
    assert r["log_ts"] == pd.Timestamp("2025-01-02 13:44:01")


def test_dlq_replay_stages(spark):
    from sparkcollector.parse import dlq_replay

    df = spark.createDataFrame(
        [
            ("2024-01-01T00:00:00Z ERROR boom",),
            ("ERROR floating severity",),
            ("nothing to see",),
        ],
        "line string",
    )
    got = {r["line"]: (r["stage"], r["extracted"]) for r in dlq_replay(
        df, "line",
        strict_re=r"^\d{4}-\S+ (ERROR|WARN|INFO)\b",
        relaxed_re=r"\b(ERROR|WARN|INFO)\b",
    ).collect()}
    assert got["2024-01-01T00:00:00Z ERROR boom"] == ("ok", "ERROR")
    assert got["ERROR floating severity"] == ("recovered", "ERROR")
    assert got["nothing to see"] == ("dead", None)
