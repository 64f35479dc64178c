"""Output checks run after every measured run, outside the timed window.

Each check reads the pipeline's committed output files with DuckDB —
an engine independent of the one under test — and compares them with
the input the run consumed:

1. Per-sink routed rows equal a DuckDB recount of the input under
   ``route.DEFAULT_RULES`` (the rule predicates are SQL and are used
   verbatim; the fields they test are re-extracted with the parse
   patterns).
2. The sum of ``agg_counts.n`` per sink equals that sink's routed rows.
3. The routed ``(conv_id, turn_idx, text)`` multiset equals the input's.
4. ``(conv_id, turn_idx)`` is strictly ascending inside every written
   file (the stable-ordering rule).

``check_output`` returns a list of failure messages; empty means the
run's output is correct.
"""

from __future__ import annotations

import duckdb

from sparkcollector.parse import CALL_RE, SEVERITY_RE, SPAN_RE
from sparkcollector.route import DEFAULT_RULES, DEFAULT_SINK

_FIELDS = {
    "span_id": (SPAN_RE, 1),
    "tool_name": (CALL_RE, 1),
    "severity": (SEVERITY_RE, 1),
}


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(_lit(p) for p in paths) + "]"


def expected_sinks_sql(input_paths: list[str]) -> str:
    """Per-sink row counts of the input under the default rules."""
    fields = ", ".join(
        f"nullif(regexp_extract(text, {_lit(rx)}, {g}), '') AS {name}"
        for name, (rx, g) in _FIELDS.items()
    )
    case = " ".join(
        f"WHEN {r.predicate} THEN {_lit(r.sink)}" for r in DEFAULT_RULES
    )
    return (
        f"WITH p AS (SELECT tool, {fields} FROM read_parquet({_files(input_paths)})) "
        f"SELECT CASE {case} ELSE {_lit(DEFAULT_SINK)} END AS sink, count(*) "
        "FROM p GROUP BY 1"
    )


def sink_counts(con, paths: list[str]) -> dict[str, int]:
    """Rows per sink of a hive-partitioned (``sink=...``) file set."""
    rows = con.sql(
        f"SELECT sink, count(*) FROM read_parquet({_files(paths)}, "
        "hive_partitioning = true) GROUP BY 1"
    ).fetchall()
    return {s: n for s, n in rows}


def check_output(
    input_paths: list[str], routed_files: list[str], agg_files: list[str]
) -> tuple[list[str], dict[str, int]]:
    """Run the four checks; returns (failures, routed rows per sink)."""
    failures: list[str] = []
    with duckdb.connect() as con:
        con.sql("SET threads = 1")
        expected = dict(con.sql(expected_sinks_sql(input_paths)).fetchall())
        routed = sink_counts(con, routed_files)
        if routed != expected:
            failures.append(f"per-sink rows {routed} != recount {expected}")

        agg = dict(
            con.sql(
                f"SELECT sink, sum(n)::BIGINT FROM read_parquet({_files(agg_files)}) "
                "GROUP BY 1"
            ).fetchall()
        )
        if agg != routed:
            failures.append(f"agg_counts sum(n) {agg} != routed rows {routed}")

        cols = "conv_id, turn_idx, text"
        src = f"SELECT {cols} FROM read_parquet({_files(input_paths)})"
        out = f"SELECT {cols} FROM read_parquet({_files(routed_files)})"
        (diff,) = con.sql(
            f"SELECT count(*) FROM (({src} EXCEPT ALL {out}) "
            f"UNION ALL ({out} EXCEPT ALL {src}))"
        ).fetchone()
        if diff:
            failures.append(f"{diff} (conv_id, turn_idx, text) rows differ from input")

        (unordered,) = con.sql(
            "SELECT count(*) FROM (SELECT conv_id, turn_idx, "
            "lag(conv_id) OVER w AS pc, lag(turn_idx) OVER w AS pt "
            f"FROM read_parquet({_files(routed_files)}, filename = true, "
            "file_row_number = true) "
            "WINDOW w AS (PARTITION BY filename ORDER BY file_row_number)) "
            "WHERE pc > conv_id OR (pc = conv_id AND pt >= turn_idx)"
        ).fetchone()
        if unordered:
            failures.append(f"{unordered} rows out of (conv_id, turn_idx) order in a file")
    return failures, routed


def layer_ratios(routed_files: list[str]) -> tuple[float, float]:
    """(parse match ratio, enrich miss ratio) over a routed file set:
    the share of rows where any parsed field matched, and the share
    where a role or tool lookup found no dimension row."""
    with duckdb.connect() as con:
        return con.sql(
            "SELECT avg((severity IS NOT NULL OR tool_name IS NOT NULL "
            "OR span_id IS NOT NULL OR log_ts IS NOT NULL)::INT)::DOUBLE, "
            "avg((actor_kind IS NULL OR tool_category IS NULL)::INT)::DOUBLE "
            f"FROM read_parquet({_files(routed_files)})"
        ).fetchone()
