"""Parse stage: regex field extraction over transcript text, in Catalyst.

Reimplements the stanza operator chain the reference runs inside its
filelog receiver (reference: cmd/otelcol/config/collector/
splunk_logs_config_linux.yaml):

* ``regex_parser`` — named-capture regex over the body → attributes
  (yaml:185-186 apache access, 839-840 syslog, 209-210 apache error)
* ``severity`` parser with a custom mapping table (yaml:214-220)
* ``timestamp`` parser — strftime layout → record timestamp
  (yaml:187-189, layout ``%d/%b/%Y:%H:%M:%S %z``)

:func:`parse_turns` is pure ``regexp_extract`` Catalyst expressions
(JVM regex, whole-stage codegen), so the parse launches no Python
worker and ships no rows across Arrow.  A pandas-UDF formulation
(Python ``re``, a second regex engine) lives in ``tests/test_parse.py``
as the reference the parity tests compare against.

Non-matching turns yield NULL fields and are never dropped (stanza
parsers pass records through unchanged on no-match).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- patterns (single source of truth; the oracle SQL mirrors them) --
SEVERITY_RE = r"level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL)"
CALL_RE = r"CALL (\w+)\(args=([^)]*)\) -> status=(\w+) dur=(\d+)ms"
SPAN_RE = r"span id=([0-9a-f]{16}) parent=([0-9a-f]{16}|-) op=(\w+)"
LOG_TS_RE = r"\[(\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2}) \+0000\]"
LOG_TS_FMT = "dd/MMM/yyyy:HH:mm:ss"  # Spark pattern for the fragment

# Severity mapping table — the stanza severity operator's custom
# mapping (yaml:214-220 maps tokens like ``emerg``→fatal).  We map the
# raw token to a canonical lowercase severity, with syslog-style
# aliases accepted.
SEVERITY_MAP = {
    "TRACE": "trace",
    "DEBUG": "debug",
    "INFO": "info",
    "WARN": "warn",
    "WARNING": "warn",
    "ERROR": "error",
    "ERR": "error",
    "FATAL": "fatal",
    "EMERG": "fatal",
    "ALERT": "error3",  # mirrors the custom-mapping style of yaml:216
    "CRIT": "error2",
}


def _severity_map_expr(raw: Column) -> Column:
    """SEVERITY_MAP as a literal Catalyst map lookup (no UDF)."""
    pairs: list[Column] = []
    for k, v in SEVERITY_MAP.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*pairs), raw)


def parse_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the parsed columns via regexp_extract (whole-stage codegen).

    Fields are NULL where their pattern does not match; the row stays.
    """
    t = F.col(text_col)

    def ext(pattern: str, group: int) -> Column:
        raw = F.regexp_extract(t, pattern, group)
        return F.when(raw != "", raw)

    parent_raw = ext(SPAN_RE, 2)
    return (
        df.withColumn("severity", _severity_map_expr(ext(SEVERITY_RE, 1)))
        .withColumn("tool_name", ext(CALL_RE, 1))
        .withColumn("tool_status", ext(CALL_RE, 3))
        .withColumn("dur_ms", ext(CALL_RE, 4).cast("long"))
        .withColumn("span_id", ext(SPAN_RE, 1))
        .withColumn(
            "parent_span_id", F.when(parent_raw != "-", parent_raw)
        )
        .withColumn("span_op", ext(SPAN_RE, 3))
        .withColumn(
            "log_ts", F.to_timestamp(ext(LOG_TS_RE, 1), LOG_TS_FMT)
        )
    )


# perfbench/tracing.py imports this name to time a second parse layer;
# the benchmark code changes only together with BENCHMARK.json.
parse_turns_builtin = parse_turns


def dlq_replay(
    df: DataFrame,
    line_col: str,
    strict_re: str,
    relaxed_re: str,
    group: int = 1,
) -> DataFrame:
    """Dead-letter replay with a relaxed parser (the second-pass
    recovery every parse DLQ eventually gets: rows the strict grammar
    rejected re-parse under a permissive one; only what BOTH reject
    stays dead): per row, ``stage`` in {ok, recovered, dead} and the
    extracted field from whichever grammar matched.

    Two regexp extracts in one Project — the replay costs no extra
    pass over the healthy rows and no shuffle at all.
    """
    line = F.col(line_col)
    s = F.regexp_extract(line, strict_re, group)
    r = F.regexp_extract(line, relaxed_re, group)
    stage = (
        F.when(s != "", F.lit("ok"))
        .when(r != "", F.lit("recovered"))
        .otherwise(F.lit("dead"))
    )
    extracted = F.when(s != "", s).when(r != "", r)
    return df.select(
        "*", stage.alias("stage"), extracted.alias("extracted")
    )
