"""Routing-connector semantics: first-match-wins predicate fan-out
(internal/components/components.go:346 behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcollector.parse import parse_turns
from sparkcollector.route import RoutingRule, route


def _mk(spark, text):
    return spark.createDataFrame(
        [("c", 0, "tool", text, "bash")],
        ["conv_id", "turn_idx", "role", "text", "tool"],
    ).withColumn("ts", F.current_timestamp())


def _sink_of(spark, text):
    return route(parse_turns(_mk(spark, text))).collect()[0]["sink"]


def test_first_match_wins_span_beats_tool(spark):
    text = "span id=0123456789abcdef parent=- op=exec CALL bash(args=a1) -> status=ok dur=5ms"
    assert _sink_of(spark, text) == "traces"


def test_tool_routes_metrics(spark):
    assert _sink_of(spark, "CALL bash(args=a1) -> status=ok dur=5ms") == "metrics"


def test_severity_routes_events(spark):
    assert _sink_of(spark, "level=INFO nothing else") == "events"


def test_default_fallthrough(spark):
    assert _sink_of(spark, "plain prose only") == "events"


def test_custom_rules_override(spark):
    rules = [RoutingRule("role = 'tool'", "metrics")]
    out = route(parse_turns(_mk(spark, "plain")), rules).collect()[0]
    assert out["sink"] == "metrics"


def test_every_row_routed_exactly_once(turns_df):
    routed = route(parse_turns(turns_df))
    assert routed.count() == turns_df.count()
    sinks = {r["sink"] for r in routed.select("sink").distinct().collect()}
    assert sinks <= {"metrics", "events", "traces"}


class TestMetadataExporterSelection:
    """Transcribed from smartagentreceiver/output_test.go:172-300
    (invalid exporter, config-named clients, next-consumer default,
    lone-signalfx default and its two-instance disqualification)."""

    def _reg(self):
        from sparkcollector.route import ExporterDecl

        return [
            ExporterDecl("signalfx", "signalfx", accepts_metadata=True),
            ExporterDecl("otlp", "otlp", accepts_metadata=False),
            ExporterDecl("splunk_hec", "splunk_hec", accepts_metadata=False),
        ]

    def test_invalid_named_client_is_skipped(self):
        from sparkcollector.route import select_metadata_exporters

        assert select_metadata_exporters(self._reg(), ["nonexistent"]) == []

    def test_config_named_clients_match(self):
        from sparkcollector.route import select_metadata_exporters

        got = select_metadata_exporters(
            self._reg(), ["signalfx", "otlp", "missing"]
        )
        # otlp matches by name but is not metadata-capable
        assert got == ["signalfx"]

    def test_next_consumer_default_when_unspecified(self):
        from sparkcollector.route import ExporterDecl, select_metadata_exporters

        reg = self._reg() + [
            ExporterDecl("signalfx/east", "signalfx", accepts_metadata=True)
        ]
        # two sfx exporters, but the next consumer wins outright
        got = select_metadata_exporters(
            reg, None, next_consumer="signalfx/east"
        )
        assert got == ["signalfx/east"]

    def test_lone_sfx_default(self):
        from sparkcollector.route import select_metadata_exporters

        assert select_metadata_exporters(self._reg(), None) == ["signalfx"]

    def test_two_sfx_disqualifies_default(self):
        from sparkcollector.route import ExporterDecl, select_metadata_exporters

        reg = self._reg() + [
            ExporterDecl("signalfx/east", "signalfx", accepts_metadata=True)
        ]
        assert select_metadata_exporters(reg, None) == []

    def test_specified_clients_never_fall_back(self):
        from sparkcollector.route import select_metadata_exporters

        # explicit-but-unmatched list must NOT default to the lone sfx
        assert select_metadata_exporters(self._reg(), ["missing"]) == []
