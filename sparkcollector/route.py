"""Routing-connector semantics: predicate fan-out to sink tables.

The reference's routing connector evaluates OTTL conditions and sends
each record to the first matching downstream pipeline, with a default
fallthrough (reference: internal/components/components.go:346,
docs/components.md connectors table; the filter processor's OR-ed
conditions at cmd/otelcol/config/collector/full_config_linux.yaml:
493-498 use the same predicate language).

Spark-first design: evaluate all predicates ONCE into a single ``sink``
tag column (a chained ``when``), then write.  ``job.run_pipeline`` has
two write strategies:

* ``partitioned`` (default, the 100 TB path): a single
  ``write.partitionBy("sink")`` pass — one job, one scan, no recompute,
  no cache; each sink is a partition directory with the projected view
  applied at read time.
* ``fanout``: cache the routed frame once and run N filtered, projected
  writes — matches the collector's N independent exporters, and is the
  right shape when sinks truly need disjoint physical schemas.

Rules are declarative ``(predicate_sql, sink)`` pairs — the analog of
the collector's YAML conditions — compiled to Column expressions by
:func:`compile_rules` (our ``expr.Compile``,
internal/receiver/discoveryreceiver/rule.go:59-107).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import SINK_EVENTS_SCHEMA, SINK_METRICS_SCHEMA, SINK_TRACES_SCHEMA


@dataclass(frozen=True)
class RoutingRule:
    """First-match-wins predicate → sink (FIXTURES.md §4)."""

    predicate: str  # SQL boolean expression over the parsed columns
    sink: str


# Default ruleset per FIXTURES.md §4: spans → traces, tool activity →
# metrics, anything with a severity → events; default events.
DEFAULT_RULES = [
    RoutingRule("span_id IS NOT NULL", "traces"),
    RoutingRule("tool_name IS NOT NULL AND tool != 'none'", "metrics"),
    RoutingRule("severity IS NOT NULL", "events"),
]
DEFAULT_SINK = "events"


def compile_rules(
    rules: list[RoutingRule] | None = None, default: str = DEFAULT_SINK
) -> Column:
    """Compile ordered rules into one first-match-wins CASE column."""
    rules = DEFAULT_RULES if rules is None else rules
    expr: Column | None = None
    for r in rules:
        cond = F.expr(r.predicate)
        expr = F.when(cond, r.sink) if expr is None else expr.when(cond, r.sink)
    return (expr.otherwise(default) if expr is not None else F.lit(default)).alias(
        "sink"
    )


def route(
    df: DataFrame,
    rules: list[RoutingRule] | None = None,
    default: str = DEFAULT_SINK,
) -> DataFrame:
    """Tag every row with its destination sink (no data movement);
    rows no rule matches go to ``default``."""
    return df.withColumn("sink", compile_rules(rules, default))


# --- per-sink projections (FIXTURES.md §5 shapes) ---------------------

def project_metrics(df: DataFrame) -> DataFrame:
    """signalfx-style datapoints: tool call duration as a gauge.

    Metric naming/typing conventions per
    pkg/receiver/smartagentreceiver/converter/metrics.go:86-105.
    """
    return df.select(
        F.concat(F.lit("tool."), F.col("tool_name"), F.lit(".duration")).alias(
            "metric"
        ),
        F.col("dur_ms").cast("double").alias("value"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
    )


def project_events(df: DataFrame) -> DataFrame:
    """splunk-hec-style events; source/sourcetype stamping mirrors the
    ``add``/``move`` stanza operators (splunk_logs_config_linux.yaml:56-61).
    """
    return df.select(
        "ts",
        "severity",
        F.col("text").alias("body"),
        F.concat(F.lit("transcript:"), F.col("role")).alias("source"),
        F.lit("agent:turn").alias("sourcetype"),
        "conv_id",
        "turn_idx",
    )


def project_traces(df: DataFrame) -> DataFrame:
    """sapm-style spans keyed by (trace_id=conv_id, span_id)."""
    return df.select(
        F.col("conv_id").alias("trace_id"),
        "span_id",
        "parent_span_id",
        F.col("span_op").alias("op"),
        "ts",
        "dur_ms",
        "conv_id",
        "turn_idx",
    )


SINK_PROJECTIONS = {
    "metrics": (project_metrics, SINK_METRICS_SCHEMA),
    "events": (project_events, SINK_EVENTS_SCHEMA),
    "traces": (project_traces, SINK_TRACES_SCHEMA),
}


@dataclass(frozen=True)
class ExporterDecl:
    """A registered exporter as the pipeline config sees it: its
    instance name (``signalfx``, ``signalfx/east`` …), its type, and
    whether it can accept metadata (dimension) updates."""

    name: str
    type: str
    accepts_metadata: bool = False


def select_metadata_exporters(
    registered: list[ExporterDecl],
    dimension_clients: list[str] | None = None,
    next_consumer: str | None = None,
) -> list[str]:
    """Which exporters receive dimension/metadata updates.

    Reference semantics (smartagentreceiver/output.go:96-184,
    getMetadataExporters + getLoneSFxExporter):

    * ``dimension_clients`` unspecified (None) → default to the next
      metrics consumer in the pipeline iff it accepts metadata;
    * specified → match each named client against registered metric
      exporters, keeping only metadata-capable matches (unknown names
      are skipped);
    * still empty AND clients were unspecified → fall back to the LONE
      ``signalfx``-type exporter; two or more signalfx exporters means
      there is no unambiguous default, so none is chosen.

    In this engine the returned names key the dimension-update side
    channel (enrich.dimension_update_merge): they select which SCD
    MERGE tables the update stream fans out to.
    """
    by_name = {e.name: e for e in registered}
    if dimension_clients is None:
        if next_consumer is not None:
            nxt = by_name.get(next_consumer)
            if nxt is not None and nxt.accepts_metadata:
                return [nxt.name]
        sfx = [e for e in registered if e.type == "signalfx"]
        if len(sfx) == 1 and sfx[0].accepts_metadata:
            return [sfx[0].name]
        return []
    clients = [
        by_name[c].name
        for c in dimension_clients
        if c in by_name and by_name[c].accepts_metadata
    ]
    return clients
