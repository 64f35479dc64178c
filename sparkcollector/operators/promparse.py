"""Prometheus text-exposition parser → typed metric rows.

Reimplements the observed semantics of the in-repo lightprometheus
receiver (reference: internal/receiver/lightprometheusreceiver/
scraper.go:173-282): parse ``# TYPE`` headers and sample lines,
attach the declared type to each sample, split ``_bucket``/``_sum``/
``_count`` histogram series, and convert cumulative bucket counts to
per-bucket counts with the +Inf bucket dropped (scraper.go:218-235).

Pure Catalyst: lines are ``posexplode``d, TYPE declarations become a
per-document (name → type) map joined back onto samples, labels parse
with ``regexp_extract_all`` → ``map_from_arrays``.  No Python in the
parse path — the exposition format is line-regular enough that the
JVM regex engine handles it whole-stage.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _one_pass_groups(line, pattern: str):
    """Run ``pattern`` ONCE per row and index every capture group.

    ``regexp_replace`` rewrites the matched region to its groups
    joined on an \\x01 sentinel (a byte that cannot appear in a log
    line), each followed by the sentinel, and the fields are then O(1)
    ``split`` indexes.  The per-column ``regexp_extract`` idiom
    re-executes the same pattern once per output field — measured
    5-8x slower on 100k-line scans of the wider grammars (ELB: 17
    groups = 18 regex executions per row).  Works for any
    start-anchored pattern: a match yields exactly n_groups+1 parts
    (the tail after the match rides in the last part), a non-match
    leaves the line sentinel-free at size 1.  Returns
    ``(group_accessor, well_formed_predicate)``.
    """
    n = re.compile(pattern).groups
    sep = "\x01"
    repl = "".join(f"${i}{sep}" for i in range(1, n + 1))
    parts = F.split(F.regexp_replace(line, pattern, repl), sep, -1)
    # try_element_at: on a non-matching line parts has size 1 and a
    # plain element_at would THROW (Spark 4 raises on out-of-bounds
    # even outside ANSI mode); NULL is what the ok-gated projections
    # expect there anyway.
    return (lambda i: F.try_element_at(parts, F.lit(i))), (
        F.size(parts) == n + 1
    )


TYPE_RE = r"^# TYPE (\S+) (\S+)\s*$"
SAMPLE_RE = r"^([A-Za-z_:][A-Za-z0-9_:]*)(\{[^}]*\})?\s+([^\s]+)(?:\s+\d+)?\s*$"
LABEL_RE = r'([A-Za-z_][A-Za-z0-9_]*)="((?:[^"\\]|\\.)*)"'


def parse_exposition(
    df: DataFrame, text_col: str = "body", doc_col: str = "doc_id"
) -> DataFrame:
    """Parse exposition documents into one row per sample.

    Output: (doc_id, line_no, metric, mtype, labels:map, value:double).
    ``mtype`` is the declared TYPE for the sample's metric family —
    ``_bucket``/``_sum``/``_count`` suffixes resolve to their histogram
    family name, like the reference's family grouping.  Unparseable /
    comment lines are dropped; ``NaN`` values survive as doubles (the
    caller decides NaN policy, cf. invalid_value_audit).
    """
    lines = df.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )

    types = (
        lines.select(
            "doc_id",
            F.regexp_extract("line", TYPE_RE, 1).alias("fam"),
            F.regexp_extract("line", TYPE_RE, 2).alias("mtype"),
        )
        .filter(F.col("fam") != "")
        .groupBy("doc_id")
        .agg(
            F.map_from_arrays(
                F.collect_list("fam"), F.collect_list("mtype")
            ).alias("type_map")
        )
    )

    name = F.regexp_extract("line", SAMPLE_RE, 1)
    blob = F.regexp_extract("line", SAMPLE_RE, 2)
    val = F.regexp_extract("line", SAMPLE_RE, 3)
    samples = lines.select(
        "doc_id",
        "line_no",
        name.alias("metric"),
        blob.alias("_blob"),
        val.alias("_val"),
    ).filter(
        (F.col("metric") != "") & ~F.col("metric").startswith("#")
    )

    # family name: strip histogram/summary suffixes for type lookup
    fam = F.regexp_replace(F.col("metric"), r"_(bucket|sum|count)$", "")
    labels = F.map_from_arrays(
        F.regexp_extract_all(F.col("_blob"), F.lit(LABEL_RE), 1),
        F.regexp_extract_all(F.col("_blob"), F.lit(LABEL_RE), 2),
    )
    # NO broadcast hint: `types` is one row per scrape document —
    # unbounded at 100 TB.  Both sides key on doc_id, so a shuffle join
    # co-partitions them; AQE still broadcasts at runtime when the
    # aggregated side actually fits.
    out = (
        samples.join(types, "doc_id", "left")
        .withColumn("fam", fam)
        .select(
            "doc_id",
            "line_no",
            "metric",
            F.coalesce(
                F.element_at(F.col("type_map"), F.col("metric")),
                F.element_at(F.col("type_map"), F.col("fam")),
                F.lit("untyped"),
            ).alias("mtype"),
            labels.alias("labels"),
            F.col("_val").try_cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull() | (F.col("_val") == "NaN"))
    )
    return out


def histogram_families(parsed: DataFrame) -> DataFrame:
    """Collect ``_bucket`` samples into per-SERIES cumulative arrays,
    ordered by ``le``, ready for bucket differencing.

    A histogram *series* is keyed by the full label set minus ``le``
    (the reference scraper keys series the same way): two series of one
    family that differ in any other label — e.g. ``method="GET"`` vs
    ``"POST"`` — must NOT have their cumulative counts interleaved into
    one array, which would produce wrong (even negative) deltas.

    Output: (doc_id, family, series_key, series_labels,
    les:array<double>, cum_buckets:array<long>) with the ``+Inf``
    bucket last (the reference drops it after differencing,
    scraper.go:228-231).  ``series_key`` is the canonical sorted
    ``k=v,...`` rendering of the non-``le`` labels (groupable;
    map-typed columns are not), ``series_labels`` the map itself.
    """
    b = parsed.filter(
        (F.col("mtype") == "histogram") & F.col("metric").endswith("_bucket")
    )
    le = F.when(
        F.element_at("labels", "le") == "+Inf", F.lit(float("inf"))
    ).otherwise(F.element_at("labels", "le").cast("double"))
    fam = F.regexp_replace("metric", r"_bucket$", "")
    series_labels = F.map_filter("labels", lambda k, _v: k != "le")
    series_key = F.concat_ws(
        ",",
        F.array_sort(
            F.transform(
                F.map_entries(series_labels),
                lambda e: F.concat_ws("=", e["key"], e["value"]),
            )
        ),
    )
    g = (
        b.select(
            "doc_id",
            fam.alias("family"),
            series_key.alias("series_key"),
            series_labels.alias("series_labels"),
            le.alias("le"),
            "value",
        )
        .groupBy("doc_id", "family", "series_key")
        .agg(
            F.first("series_labels").alias("series_labels"),
            F.array_sort(
                F.collect_list(F.struct(F.col("le"), F.col("value")))
            ).alias("pairs"),
        )
    )
    return g.select(
        "doc_id",
        "family",
        "series_key",
        "series_labels",
        F.transform("pairs", lambda p: p["le"]).alias("les"),
        F.transform("pairs", lambda p: p["value"].cast("long")).alias(
            "cum_buckets"
        ),
    )


def parse_histograms_delta(df: DataFrame, **kw) -> DataFrame:
    """exposition docs → per-bucket (non-cumulative) histogram counts
    per series, +Inf dropped — the full lightprometheus histogram path."""
    from .telemetry import histogram_bucket_delta

    fams = histogram_families(parse_exposition(df, **kw))
    return histogram_bucket_delta(fams, "cum_buckets", drop_last=True).select(
        "doc_id",
        "family",
        "series_key",
        "series_labels",
        F.slice("les", 1, F.size("les") - 1).alias("bounds"),
        "bucket_counts",
    )


# ---------------------------------------------------------------------
# signalfxgatewayprometheusremotewrite receiver semantics
# ---------------------------------------------------------------------

def prw_type_by_convention(name: Column, labels: Column) -> Column:
    """Best-effort metric-type inference from name/label conventions —
    the PRW receiver's heuristic (reference: internal/receiver/
    signalfxgatewayprometheusremotewritereceiver/internal/
    prometheus_spec_utils.go:37-60).  Order of checks is significant:

      le + _gsum/_gcount suffix -> gaugehistogram
      le                        -> histogram
      quantile                  -> summary
      label named == metric     -> stateset
      _total/_count/_counter/_created suffix -> counter
      _bucket suffix            -> histogram
      _info suffix              -> info
      otherwise                 -> gauge
    """
    has_le = F.map_contains_key(labels, "le")
    has_quantile = F.map_contains_key(labels, "quantile")
    has_self = F.element_at(labels, name).isNotNull()
    return (
        F.when(
            has_le & (name.endswith("_gsum") | name.endswith("_gcount")),
            F.lit("gaugehistogram"),
        )
        .when(has_le, F.lit("histogram"))
        .when(has_quantile, F.lit("summary"))
        .when(has_self, F.lit("stateset"))
        .when(
            name.endswith("_total")
            | name.endswith("_count")
            | name.endswith("_counter")
            | name.endswith("_created"),
            F.lit("counter"),
        )
        .when(name.endswith("_bucket"), F.lit("histogram"))
        .when(name.endswith("_info"), F.lit("info"))
        .otherwise(F.lit("gauge"))
    )


def prw_error_metrics(
    series: DataFrame,
    name_col: str = "metric",
    value_col: str = "value",
    n_samples_col: str | None = "n_samples",
) -> DataFrame:
    """The three error-count metrics the PRW receiver synthesizes per
    write request (prometheus_to_otel.go:104-166), as one aggregation:

      prometheus.invalid_requests    — series with no samples
      prometheus.total_bad_datapoints— series missing a __name__
      prometheus.total_NAN_samples   — NaN sample values

    Cumulative monotonic sums in the reference; here, per-batch counts
    (the batch is the request).  Output: (metric, value:long) — one
    row per error metric, always emitted (0 when clean).
    """
    no_samples = (
        F.col(n_samples_col) < 1 if n_samples_col else F.lit(False)
    )
    agg = series.agg(
        F.sum(no_samples.cast("long")).alias("invalid_requests"),
        F.sum(F.col(name_col).isNull().cast("long")).alias("bad_datapoints"),
        F.sum(F.isnan(F.col(value_col)).cast("long")).alias("nan_samples"),
    )
    stacked = agg.select(
        F.stack(
            F.lit(3),
            F.lit("prometheus.invalid_requests"), F.col("invalid_requests"),
            F.lit("prometheus.total_bad_datapoints"), F.col("bad_datapoints"),
            F.lit("prometheus.total_NAN_samples"), F.col("nan_samples"),
        ).alias("metric", "value")
    )
    return stacked


def statsd_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse StatsD protocol lines — ``name:value|type[|@rate]`` —
    into typed samples (statsd receiver, docs/components.md:82; the
    Prometheus exposition parser's sibling for the push protocol).

    Counters scale by the inverse sample rate (a ``|@0.5`` counter
    increment represents 2 events), gauges/timers pass through; lines
    that do not match the grammar surface with ``mtype`` NULL (the
    receiver's parse-error counter feeds off them).  Pure regexp
    extracts — narrow, codegen'd, zero shuffle.
    """
    line = F.col(line_col)
    pat = r"^([A-Za-z0-9_.]+):(-?[0-9.]+)\|(c|g|ms)(?:\|@([0-9.]+))?$"
    name = F.regexp_extract(line, pat, 1)
    raw = F.regexp_extract(line, pat, 2)
    mtype = F.regexp_extract(line, pat, 3)
    rate = F.regexp_extract(line, pat, 4)
    value = raw.cast("double")
    scaled = F.when(
        (mtype == "c") & (rate != ""), value / rate.cast("double")
    ).otherwise(value)
    return df.select(
        "*",
        F.when(name != "", name).alias("metric"),
        F.when(mtype != "", mtype).alias("mtype"),
        F.when(name != "", F.round(scaled, 6)).alias("value"),
    )


CARBON_RE = (
    r"^([A-Za-z0-9_.-]+)((?:;[A-Za-z0-9_.-]+=[A-Za-z0-9_.-]*)*)"
    r" (-?[0-9.]+) ([0-9]+)$"
)


def carbon_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse Carbon / Graphite plaintext protocol lines —
    ``dotted.metric.path[;tag=value...] value timestamp`` — into typed
    samples (carbonreceiver, components.go:217; the wavefront receiver
    at components.go:282 shares this grammar with ``source=`` handled
    as an ordinary tag).

    Graphite tag support: everything after the first ``;`` in the name
    part splits into a ``tags`` map.  Lines that do not match the
    grammar surface with ``metric`` NULL (the receiver's malformed
    counter feeds off them) — never dropped silently.  Pure regexp +
    array HOFs, codegen'd, zero shuffle.
    """
    line = F.col(line_col)
    path = F.regexp_extract(line, CARBON_RE, 1)
    tags_raw = F.regexp_extract(line, CARBON_RE, 2)
    raw = F.regexp_extract(line, CARBON_RE, 3)
    ts_raw = F.regexp_extract(line, CARBON_RE, 4)
    entries = F.filter(F.split(tags_raw, ";"), lambda s: s != "")
    tags = F.map_from_entries(
        F.transform(
            entries,
            lambda s: F.struct(
                F.substring_index(s, "=", 1).alias("key"),
                F.substring_index(s, "=", -1).alias("value"),
            ),
        )
    )
    ok = path != ""
    return df.select(
        "*",
        F.when(ok, path).alias("metric"),
        F.when(ok, tags).alias("tags"),
        F.when(ok, raw.try_cast("double")).alias("value"),
        F.when(ok, ts_raw.try_cast("long")).alias("ts_s"),
    )


INFLUX_RE = (
    r"^([A-Za-z0-9_.-]+)((?:,[A-Za-z0-9_.-]+=[A-Za-z0-9_.-]+)*)"
    r" ([^ ]+)(?: ([0-9]+))?$"
)


def influx_line_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse InfluxDB line protocol —
    ``measurement[,tag=v...] field=value[,field=value...] [ts_ns]`` —
    into one row per field (influxdbreceiver, components.go:235; the
    receiver's influx->OTel mapping names each field's metric
    ``<measurement>_<field>``).

    Field typing follows the protocol: ``123i`` integer, bare number
    float (both land in ``dvalue``), ``t/f/true/false`` boolean,
    ``"quoted"`` string (``svalue``).  Escaped separators inside
    quoted strings are out of scope for the synthetic corpus (noted,
    not silently wrong: such lines fail the grammar and surface with
    ``measurement`` NULL, as do all malformed lines).  One
    regexp-split-explode — the only row multiplication is the field
    count, bounded by line length.
    """
    line = F.col(line_col)
    meas = F.regexp_extract(line, INFLUX_RE, 1)
    tags_raw = F.regexp_extract(line, INFLUX_RE, 2)
    fields_raw = F.regexp_extract(line, INFLUX_RE, 3)
    ts_raw = F.regexp_extract(line, INFLUX_RE, 4)
    tag_entries = F.filter(F.split(tags_raw, ","), lambda s: s != "")
    tags = F.map_from_entries(
        F.transform(
            tag_entries,
            lambda s: F.struct(
                F.substring_index(s, "=", 1).alias("key"),
                F.substring_index(s, "=", -1).alias("value"),
            ),
        )
    )
    ok = meas != ""
    base = df.select(
        "*",
        F.when(ok, meas).alias("measurement"),
        F.when(ok, tags).alias("tags"),
        F.when(ok, ts_raw.try_cast("long")).alias("ts_ns"),
        F.when(ok, F.split(fields_raw, ",")).otherwise(
            F.array(F.lit(None).cast("string"))
        ).alias("_fields"),
    )
    f = F.col("_field")
    key = F.substring_index(f, "=", 1)
    val = F.substring_index(f, "=", -1)
    is_int = val.rlike(r"^-?[0-9]+i$")
    is_float = val.rlike(r"^-?[0-9]+(\.[0-9]+)?([eE]-?[0-9]+)?$")
    is_bool = val.rlike(r"^(t|T|true|True|TRUE|f|F|false|False|FALSE)$")
    is_str = val.rlike(r'^".*"$')
    ftype = (
        F.when(is_int, F.lit("int"))
        .when(is_float, F.lit("float"))
        .when(is_bool, F.lit("bool"))
        .when(is_str, F.lit("string"))
    )
    dvalue = (
        F.when(is_int, F.expr("substring(_fval, 1, length(_fval) - 1)").try_cast("double"))
        .when(is_float, val.try_cast("double"))
        .when(is_bool, val.rlike(r"^(t|T|true|True|TRUE)$").cast("double"))
    )
    svalue = F.when(is_str, F.expr("substring(_fval, 2, length(_fval) - 2)"))
    return (
        base.select(
            "*", F.explode_outer("_fields").alias("_field")
        )
        .withColumn("_fval", val)
        .select(
            *[c for c in df.columns],
            "measurement",
            "tags",
            "ts_ns",
            F.when(F.col("measurement").isNotNull() & key.isNotNull(),
                   key).alias("field"),
            ftype.alias("ftype"),
            F.round(dvalue, 6).alias("dvalue"),
            svalue.alias("svalue"),
            F.when(
                F.col("measurement").isNotNull(),
                F.concat(F.col("measurement"), F.lit("_"), key),
            ).alias("metric"),
        )
    )


def hec_envelope_parse(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """Parse Splunk HEC JSON event envelopes (splunkhecreceiver,
    components.go:270) — ``{"time":..., "host":..., "source":...,
    "sourcetype":..., "event":..., "fields":{...}}`` — splitting the
    metric shape from the log shape the way the receiver does:
    ``event == "metric"`` marks a metrics envelope whose datapoints
    live in ``fields`` under ``metric_name:<name>`` keys (the HEC
    metrics convention); anything else is one log event.

    Output is one unified frame: log envelopes keep ``event`` text
    with ``metric`` NULL; metric envelopes explode to one row per
    ``metric_name:*`` field with ``event`` NULL.  ``time`` accepts
    fractional epoch seconds (number or JSON string — ``get_json_object``
    + cast handles both).  Malformed JSON yields NULL fields, counted
    upstream, never dropped.  get_json_object/from_json only — no
    Python, one explode on the metric branch.
    """
    j = F.col(json_col)
    time_s = F.get_json_object(j, "$.time").try_cast("double")
    host = F.get_json_object(j, "$.host")
    source = F.get_json_object(j, "$.source")
    sourcetype = F.get_json_object(j, "$.sourcetype")
    event = F.get_json_object(j, "$.event")
    fields = F.from_json(
        F.get_json_object(j, "$.fields"), "map<string,string>"
    )
    base = df.select(
        "*",
        time_s.alias("time"),
        host.alias("host"),
        source.alias("source"),
        sourcetype.alias("sourcetype"),
        event.alias("event"),
        fields.alias("_fields"),
    )
    is_metric = F.col("event") == "metric"
    logs = base.filter(~F.coalesce(is_metric, F.lit(False))).select(
        *df.columns,
        "time", "host", "source", "sourcetype", "event",
        F.lit(None).cast("string").alias("metric"),
        F.lit(None).cast("double").alias("value"),
    )
    metrics = (
        base.filter(F.coalesce(is_metric, F.lit(False)))
        .select(
            *df.columns, "time", "host", "source", "sourcetype",
            F.explode_outer("_fields").alias("_k", "_v"),
        )
        .filter(F.col("_k").startswith("metric_name:"))
        .select(
            *df.columns,
            "time", "host", "source", "sourcetype",
            F.lit(None).cast("string").alias("event"),
            F.expr("substring(_k, 13)").alias("metric"),
            F.col("_v").try_cast("double").alias("value"),
        )
    )
    return logs.unionByName(metrics)


COLLECTD_SCHEMA = (
    "array<struct<values:array<double>,dstypes:array<string>,"
    "dsnames:array<string>,time:double,interval:double,host:string,"
    "plugin:string,plugin_instance:string,type:string,"
    "type_instance:string>>"
)


def collectd_parse(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """Flatten collectd write_http JSON payloads (collectdreceiver,
    components.go:221) — an array of value-lists, each carrying
    parallel ``values``/``dstypes``/``dsnames`` arrays plus plugin
    identity — into one datapoint row per value.

    Metric naming follows the signalfx collectd convention: dot-join
    of plugin, type, type_instance and dsname, skipping empty parts
    and the ``value`` dsname (a single-value list's dsname carries no
    information).  dstype maps to metric temporality: counter/derive
    -> cumulative, absolute -> delta, gauge -> gauge.  Malformed JSON
    yields one all-NULL row (the receiver's error counter feeds off
    it).  from_json + two explodes + arrays_zip — no Python, row
    growth bounded by the payload's own value count.
    """
    recs = F.from_json(F.col(json_col), COLLECTD_SCHEMA)
    rec = F.col("_rec")
    exploded = df.select("*", F.explode_outer(recs).alias("_rec")).select(
        "*",
        F.explode_outer(
            F.arrays_zip(
                rec["values"].alias("v"),
                rec["dstypes"].alias("dst"),
                rec["dsnames"].alias("dsn"),
            )
        ).alias("_z"),
    )
    dsname = F.col("_z")["dsn"]
    name = F.concat_ws(
        ".",
        *[
            F.when(part.isNotNull() & (part != ""), part)
            for part in (
                rec["plugin"],
                rec["type"],
                rec["type_instance"],
                F.when(dsname != "value", dsname),
            )
        ],
    )
    dstype = F.col("_z")["dst"]
    mtype = (
        F.when(dstype.isin("counter", "derive"), F.lit("cumulative"))
        .when(dstype == "absolute", F.lit("delta"))
        .when(dstype == "gauge", F.lit("gauge"))
    )
    ok = rec.isNotNull()
    return exploded.select(
        *df.columns,
        F.when(ok, name).alias("metric"),
        mtype.alias("mtype"),
        rec["host"].alias("host"),
        F.when(
            rec["plugin_instance"] != "", rec["plugin_instance"]
        ).alias("plugin_instance"),
        F.col("_z")["v"].alias("value"),
        rec["time"].alias("time_s"),
        rec["interval"].alias("interval_s"),
    )


SYSLOG_RE = (
    r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|\[.*\]) ?(.*)$"
)

SEVERITY_NAMES = (
    "emerg", "alert", "crit", "err",
    "warning", "notice", "info", "debug",
)


def syslog_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse RFC 5424 syslog lines (syslogreceiver, components.go:275)
    — ``<PRI>VERSION TIMESTAMP HOSTNAME APP-NAME PROCID MSGID
    STRUCTURED-DATA MSG`` — decomposing PRI into facility (pri / 8)
    and severity (pri % 8) with the RFC's severity keyword attached
    (the receiver maps these to OTel SeverityNumber downstream;
    ``severity_number_map`` completes that hop).

    The timestamp stays TEXT (the stanza pipeline's timestamp parser
    owns conversion); structured data is captured raw (``-`` nilvalue
    -> NULL).  Malformed lines surface with ``pri`` NULL.  One regexp
    per field, zero shuffle.
    """
    line = F.col(line_col)
    g, _m = _one_pass_groups(line, SYSLOG_RE)
    pri = g(1).try_cast("int")
    ok = _m
    sev = pri % 8
    sev_name = F.element_at(
        F.array(*[F.lit(s) for s in SEVERITY_NAMES]), sev + 1
    )
    nil = F.lit(None).cast("string")
    return df.select(
        "*",
        F.when(ok, pri).alias("pri"),
        F.when(ok, (pri / 8).cast("int")).alias("facility"),
        F.when(ok, sev).alias("severity"),
        F.when(ok, sev_name).alias("severity_text"),
        F.when(ok, g(2).try_cast("int")).alias("version"),
        F.when(ok, g(3)).alias("ts_text"),
        F.when(ok & (g(4) != "-"), g(4)).alias("host"),
        F.when(ok & (g(5) != "-"), g(5)).alias("app"),
        F.when(ok & (g(6) != "-"), g(6)).alias("procid"),
        F.when(ok & (g(7) != "-"), g(7)).alias("msgid"),
        F.when(ok & (g(8) != "-"), g(8)).otherwise(nil).alias("sd"),
        F.when(ok, g(9)).alias("msg"),
    )


def journald_parse(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """Parse journald JSON-export records (journaldreceiver,
    components.go:237; ``journalctl -o json`` is the receiver's wire
    format): ``MESSAGE``, ``PRIORITY`` (syslog 0-7, a JSON string),
    ``_SYSTEMD_UNIT``, ``_HOSTNAME`` and the microsecond
    ``__REALTIME_TIMESTAMP``.

    Priority maps to the same RFC severity keywords the syslog parser
    uses.  Unparseable JSON or missing fields yield NULLs —
    journald's schema is open, so absence is data, not an error.
    get_json_object + try_cast only; zero shuffle.
    """
    j = F.col(json_col)
    prio = F.get_json_object(j, "$.PRIORITY").try_cast("int")
    # element_at(arr, NULL) does NOT null-propagate here (observed:
    # returns the last element) — guard the lookup explicitly
    sev_name = F.when(
        prio.isNotNull(),
        F.element_at(F.array(*[F.lit(s) for s in SEVERITY_NAMES]), prio + 1),
    )
    return df.select(
        "*",
        F.get_json_object(j, "$.__REALTIME_TIMESTAMP")
        .try_cast("long")
        .alias("ts_us"),
        F.get_json_object(j, "$._HOSTNAME").alias("host"),
        F.get_json_object(j, "$._SYSTEMD_UNIT").alias("unit"),
        prio.alias("priority"),
        sev_name.alias("severity_text"),
        F.get_json_object(j, "$.MESSAGE").alias("message"),
    )


WAVEFRONT_RE = (
    r"^([A-Za-z0-9_.\-]+) (-?[0-9.]+)(?: ([0-9]+))? source=(\S+)"
    r"((?: [A-Za-z0-9_.\-]+=\"[^\"]*\")*)$"
)


def wavefront_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse Wavefront data-format lines (wavefrontreceiver,
    components.go:282) — ``<metric> <value> [<epoch>] source=<src>
    [tag="value" ...]`` — carbon's sibling with a mandatory source
    and quoted point tags.

    Tags parse with one ``regexp_extract_all`` pair into a map;
    malformed lines surface with ``metric`` NULL.  Zero shuffle.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, WAVEFRONT_RE)
    tags_raw = g(5)
    tags = F.map_from_arrays(
        F.regexp_extract_all(tags_raw, F.lit(r'([A-Za-z0-9_.\-]+)="'), 1),
        F.regexp_extract_all(tags_raw, F.lit(r'="([^"]*)"'), 1),
    )
    return df.select(
        "*",
        F.when(ok, g(1)).alias("metric"),
        F.when(ok, g(2).try_cast("double")).alias("value"),
        F.when(ok & (g(3) != ""), g(3).try_cast("long")).alias("ts_s"),
        F.when(ok, g(4)).alias("source"),
        F.when(ok, tags).alias("tags"),
    )


def json_schema_infer(
    df: DataFrame,
    json_col: str = "props",
) -> DataFrame:
    """Schema inference over semi-structured JSON (the discovery pass
    before declaring a from_json schema: which keys exist, how often,
    and what type do their values look like): per key — presence
    count, share of parseable rows, and per-type value counts
    (int / float / bool / string / null).

    Type inference is lexical over the map-parsed values (regex
    tiers, the same order JSON readers infer); one map explode + one
    keyed aggregate.  Malformed JSON counts once against parseability
    and contributes no keys.
    """
    parsed = F.from_json(F.col(json_col), "map<string,string>")
    base = df.select(parsed.alias("_m"))
    total = base.agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_m").isNotNull().cast("long")).alias("_ok"),
    )
    kv = base.filter(F.col("_m").isNotNull()).select(
        F.explode("_m").alias("key", "val")
    )
    v = F.col("val")
    vtype = (
        F.when(v.isNull(), F.lit("null"))
        .when(v.rlike(r"^-?\d+$"), F.lit("int"))
        .when(v.rlike(r"^-?\d+\.\d+([eE]-?\d+)?$"), F.lit("float"))
        .when(v.isin("true", "false"), F.lit("bool"))
        .otherwise(F.lit("string"))
    )
    per_key = kv.groupBy("key").agg(
        F.count("*").alias("n_present"),
        F.sum((vtype == "int").cast("long")).alias("n_int"),
        F.sum((vtype == "float").cast("long")).alias("n_float"),
        F.sum((vtype == "bool").cast("long")).alias("n_bool"),
        F.sum((vtype == "string").cast("long")).alias("n_string"),
        F.sum((vtype == "null").cast("long")).alias("n_null"),
    )
    return per_key.crossJoin(F.broadcast(total)).select(
        "key",
        "n_present",
        F.round(
            F.col("n_present").cast("double") / F.col("_ok"), 6
        ).alias("presence_share"),
        "n_int",
        "n_float",
        "n_bool",
        "n_string",
        "n_null",
    )


_TRACEPARENT_RE = r"^([0-9a-f]{2})-([0-9a-f]{32})-([0-9a-f]{16})-([0-9a-f]{2})$"


def traceparent_parse(df: DataFrame, header_col: str = "header") -> DataFrame:
    """W3C ``traceparent`` header parse (Trace Context level 1 — the
    propagation format the collector's trace receivers consume;
    span/trace id shapes as in
    `pkg/receiver/smartagentreceiver/converter/traces.go:34-72`):
    ``version-traceid-parentid-flags`` with fixed-width lowercase hex
    fields.  Per spec: version ``ff`` is forbidden, an all-zero
    trace-id or parent-id is invalid, and the sampled decision is BIT 0
    of the flags byte (not equality with ``01``).

    Malformed headers surface a typed ``error`` (``malformed`` /
    ``bad_version`` / ``zero_trace_id`` / ``zero_parent_id``) with NULL
    fields — dead-letter accountable, never dropped.  Pure codegen'd
    regex + conv arithmetic: zero exchanges, no UDF.
    """
    h = F.col(header_col)
    grp, matched = _one_pass_groups(h, _TRACEPARENT_RE)
    version, trace_id, parent_id, flags = (grp(i) for i in (1, 2, 3, 4))
    error = (
        F.when(~matched, F.lit("malformed"))
        .when(version == "ff", F.lit("bad_version"))
        .when(trace_id == "0" * 32, F.lit("zero_trace_id"))
        .when(parent_id == "0" * 16, F.lit("zero_parent_id"))
    )
    valid = error.isNull()
    keep = lambda c: F.when(valid, c)  # noqa: E731
    sampled = keep(
        (F.conv(flags, 16, 10).cast("int") % 2 == 1).cast("boolean")
    )
    others = [c for c in df.columns if c != header_col]
    return df.select(
        *others,
        keep(version).alias("version"),
        keep(trace_id).alias("trace_id"),
        keep(parent_id).alias("parent_id"),
        sampled.alias("sampled"),
        error.alias("error"),
    )


SYSLOG3164_RE = (
    r"^<(\d{1,3})>([A-Z][a-z]{2}) ([ \d]\d) (\d{2}:\d{2}:\d{2}) "
    r"(\S+) ([A-Za-z0-9_./\-]+)(?:\[(\d+)\])?: (.*)$"
)

_MONTHS = (
    "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec"
).split()


def syslog3164_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse RFC 3164 (BSD) syslog lines — the syslogreceiver's other
    ``protocol:`` mode (components.go:275; the reference's own var-log
    scrape ships this grammar, `splunk_logs_config_linux.yaml:839-843`
    parses `%b %e %H:%M:%S`): ``<PRI>Mmm dd HH:MM:SS host tag[pid]:
    msg`` with a space-padded day-of-month and NO year (the stanza
    timestamp parser owns year inference downstream).

    PRI decomposes into facility (pri / 8) and severity (pri % 8)
    with the same RFC keyword table as the 5424 parser; ``tag[pid]``
    splits into app + optional pid.  Malformed lines surface with
    ``pri`` NULL — dead-letter accountable, never dropped.  One
    codegen'd regexp per field, zero exchanges.
    """
    line = F.col(line_col)
    g, _m = _one_pass_groups(line, SYSLOG3164_RE)
    pri = g(1).try_cast("int")
    ok = _m & (pri <= 191)
    sev = pri % 8
    sev_name = F.element_at(
        F.array(*[F.lit(s) for s in SEVERITY_NAMES]), sev + 1
    )
    month_num = F.array_position(
        F.array(*[F.lit(m) for m in _MONTHS]), g(2)
    ).cast("int")
    return df.select(
        "*",
        F.when(ok, pri).alias("pri"),
        F.when(ok, (pri / 8).cast("int")).alias("facility"),
        F.when(ok, sev).alias("severity"),
        F.when(ok, sev_name).alias("severity_text"),
        F.when(ok & (month_num > 0), month_num).alias("month"),
        F.when(ok, F.trim(g(3)).try_cast("int")).alias("day"),
        F.when(ok, g(4)).alias("time_text"),
        F.when(ok, g(5)).alias("host"),
        F.when(ok, g(6)).alias("app"),
        F.when(ok & (g(7) != ""), g(7).try_cast("int")).alias("pid"),
        F.when(ok, g(8)).alias("msg"),
    )


CEF_RE = (
    r"^CEF:(\d+)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)"
    r"\|([^|]*)\|(.*)$"
)


def cef_parse(
    df: DataFrame,
    line_col: str = "line",
    ext_keys: tuple[str, ...] = ("src", "dst", "spt", "act"),
) -> DataFrame:
    """ArcSight CEF (Common Event Format) parse — one of the classic
    Splunk-ingest log grammars beside syslog (the HEC/sourcetype
    routing family, `splunk_logs_config_linux.yaml` stanza parsers):
    ``CEF:Version|Vendor|Product|DeviceVersion|SignatureID|Name|
    Severity|Extension`` with a space-separated ``key=value``
    extension bag.

    The 7 header fields split on unescaped pipes; each requested
    extension key extracts with its own anchored regexp (values run to
    the next ``key=`` token, so spaces inside values survive).
    Malformed lines surface with ``cef_version`` NULL.  Pure codegen'd
    regex, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, CEF_RE)

    def ext(key: str):
        pat = rf"(?:^|\s){key}=(.*?)(?=\s+\w+=|$)"
        v = F.regexp_extract(g(8), pat, 1)
        return F.when(ok & (v != ""), v)

    keep = lambda c: F.when(ok, c)  # noqa: E731
    return df.select(
        "*",
        keep(g(1).try_cast("int")).alias("cef_version"),
        keep(g(2)).alias("vendor"),
        keep(g(3)).alias("product"),
        keep(g(4)).alias("device_version"),
        keep(g(5)).alias("signature_id"),
        keep(g(6)).alias("name"),
        keep(g(7).try_cast("int")).alias("severity"),
        *[ext(k).alias(f"ext_{k}") for k in ext_keys],
    )


def ltsv_parse(
    df: DataFrame,
    line_col: str = "line",
    keys: tuple[str, ...] = ("host", "status", "size"),
) -> DataFrame:
    """LTSV (Labeled Tab-Separated Values) parse — the nginx/Apache
    access-log labeling convention in the same stanza-parser family as
    the reference's apache/syslog regex parsers
    (`splunk_logs_config_linux.yaml:185-186`): ``key:value`` fields
    separated by hard tabs, values free to contain colons.

    Each requested key extracts with an anchored regexp; absent keys
    yield NULL (LTSV's schema is open — absence is data).
    ``n_fields`` counts the well-formed ``key:value`` fields so a
    mis-delimited feed is observable.  Pure codegen'd regex + array
    HOFs, zero exchanges.
    """
    line = F.col(line_col)

    def ext(key: str):
        v = F.regexp_extract(line, rf"(?:^|\t){key}:([^\t]*)", 1)
        has = line.rlike(rf"(?:^|\t){key}:")
        return F.when(has, v)

    n_fields = F.size(
        F.filter(
            F.split(line, "\t"),
            lambda x: x.rlike("^[A-Za-z0-9_.\\-]+:"),
        )
    )
    return df.select(
        "*",
        n_fields.cast("int").alias("n_fields"),
        *[ext(k).alias(f"f_{k}") for k in keys],
    )


def logfmt_parse(
    df: DataFrame,
    line_col: str = "line",
    keys: tuple[str, ...] = ("level", "msg", "status"),
) -> DataFrame:
    """logfmt parse (the Go-ecosystem / Heroku structured-log line
    convention, the third grammar in the stanza parser family beside
    LTSV and CLF): space-separated ``key=value`` pairs where values
    are double-quoted when they contain spaces, and a bare ``key``
    (no ``=``) is a boolean flag.

    Each requested key extracts with an anchored regexp trying the
    quoted form first; absent keys yield NULL (open schema).
    ``n_pairs`` counts well-formed ``key=`` pairs so a mis-delimited
    feed is observable.  Documented limitation (matches the data this
    feed carries): quoted values may contain spaces but not ``=`` or
    escaped quotes.  Pure codegen'd regex, zero exchanges.
    """
    line = F.col(line_col)

    def ext(key: str):
        quoted = F.regexp_extract(line, rf'(?:^| ){key}="([^"]*)"', 1)
        bare = F.regexp_extract(line, rf'(?:^| ){key}=([^" ][^ ]*|(?=[ ]|$))', 1)
        has_q = line.rlike(rf'(?:^| ){key}="')
        has = line.rlike(rf"(?:^| ){key}=")
        return F.when(has_q, quoted).when(has, bare)

    n_pairs = F.regexp_count(line, F.lit(r"(?:^| )[A-Za-z0-9_.\-]+="))
    return df.select(
        "*",
        n_pairs.cast("int").alias("n_pairs"),
        *[ext(k).alias(f"f_{k}") for k in keys],
    )


_CLF_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) (\S+)" '
    r'(\d{3}) (\d+|-)(?: "([^"]*)" "([^"]*)")?$'
)


def apache_clf_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Apache common/combined log format parse — THE canonical access
    log the reference's apache regex_parser stanza targets
    (`splunk_logs_config_linux.yaml:185-189`): ``host ident authuser
    [time] "method path proto" status bytes`` plus the combined-format
    ``"referer" "user-agent"`` tail (absent → common format, NULLs).

    One anchored regex, one group per field; ``-`` bytes (no body)
    parse as NULL, the request time re-emits as a second-truncated
    ``yyyy-MM-dd HH:mm:ss`` string (strptime ``dd/MMM/yyyy:HH:mm:ss Z``
    under the session's pinned UTC), and ``well_formed`` marks rows
    the grammar rejected outright.  Pure codegen'd regex + timestamp
    parse, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _CLF_RE)
    rt = F.date_format(
        F.to_timestamp(g(4), "dd/MMM/yyyy:HH:mm:ss Z"),
        "yyyy-MM-dd HH:mm:ss",
    )
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, g(1)).alias("host"),
        F.when(ok, rt).alias("rtime"),
        F.when(ok, g(5)).alias("method"),
        F.when(ok, g(6)).alias("path"),
        F.when(ok, g(7)).alias("proto"),
        F.when(ok, g(8).cast("int")).alias("status"),
        F.when(ok & (g(9) != "-"), g(9).cast("long")).alias("bytes_sent"),
        F.when(ok & (g(10) != ""), g(10)).alias("referer"),
        F.when(ok & (g(11) != ""), g(11)).alias("user_agent"),
    )


_GELF_SEVERITY = (
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug"
)


def gelf_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """GELF JSON envelope parse (Graylog Extended Log Format 1.1 — the
    JSON ingest grammar beside the HEC envelope `hec_envelope`
    handles): ``version/host/short_message/timestamp/level`` plus
    underscore-prefixed additional fields, syslog level number mapped
    to its severity keyword (the same 0-7 table the severity parser
    uses).  ``well_formed`` = parsed AND carries the two spec-required
    fields (version, short_message); malformed lines yield NULLs.

    Schema-full ``from_json`` (never schema inference on the hot
    path) + a literal CASE severity map — pure codegen, zero
    exchanges.
    """
    schema = (
        "version string, host string, short_message string, "
        "`timestamp` double, level int, _tool string"
    )
    j = F.from_json(F.col(line_col), schema)
    ok = (
        j.isNotNull()
        & j["version"].isNotNull()
        & j["short_message"].isNotNull()
    )
    sev = F.coalesce(
        *[
            F.when(j["level"] == i, F.lit(s))
            for i, s in enumerate(_GELF_SEVERITY)
        ]
    )
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, j["host"]).alias("host"),
        F.when(ok, j["short_message"]).alias("short_message"),
        F.when(ok, F.round(j["timestamp"], 3)).alias("ts_s"),
        F.when(ok, j["level"]).alias("level"),
        F.when(ok, sev).alias("severity_text"),
        F.when(ok, j["_tool"]).alias("tool"),
    )


def syslog_sd_params(
    df: DataFrame,
    sd_col: str = "sd",
    sd_id: str = "meta",
    keys: tuple[str, ...] = ("seq", "src"),
) -> DataFrame:
    """RFC 5424 STRUCTURED-DATA param extraction — completes
    `syslog_parse`, which captures the SD field raw: pick the SD
    element with the requested SD-ID (``[id k="v" k2="v2"]``), extract
    the requested PARAM values, and count the elements so multi-element
    records are observable.  Params may repeat across elements; this
    reads them from the MATCHED element only (RFC 5424 §6.3.2 scopes
    param names per element).

    Escaped characters inside param values (``\\"``, ``\\]``) are out
    of scope for this feed (documented; the RFC allows them, the
    constructed sources never emit them).  Pure codegen'd regex, zero
    exchanges.
    """
    sd = F.col(sd_col)
    elem = F.regexp_extract(sd, rf"\[{sd_id}( [^\]]*)?\]", 0)
    has = elem != ""
    n_elems = F.regexp_count(sd, F.lit(r"\[[^ \]]+"))

    def ext(key: str):
        v = F.regexp_extract(elem, rf'{key}="([^"]*)"', 1)
        has_k = elem.rlike(rf'{key}="')
        return F.when(has & has_k, v)

    return df.select(
        "*",
        F.when(sd.isNotNull(), n_elems.cast("int")).alias("n_sd_elements"),
        has.alias("has_element"),
        *[ext(k).alias(f"sd_{k}") for k in keys],
    )


def csv_parse_typed(
    df: DataFrame,
    line_col: str = "line",
    schema: str = "host string, status int, bytes long, msg string",
    required: str = "status",
) -> DataFrame:
    """Typed CSV line parse — the Splunk ``INDEXED_EXTRACTIONS=CSV``
    sourcetype analog (delimited scripted-input output is the
    reference's other delimited feed, `scripted_inputs_split`):
    schema-full ``from_csv`` so quoting (values containing commas)
    and type coercion happen in ONE codegen'd expression, never a
    split-and-cast chain that breaks on quoted delimiters.

    ``well_formed`` gates on the required field surviving the typed
    parse (PERMISSIVE mode nulls what it cannot coerce).  Pure
    codegen, zero exchanges.
    """
    c = F.from_csv(F.col(line_col), schema)
    ok = c[required].isNotNull()
    names = [s.strip().split(" ")[0].strip("`") for s in schema.split(",")]
    return df.select(
        "*",
        ok.alias("well_formed"),
        *[F.when(ok, c[n]).alias(f"c_{n}") for n in names],
    )


def stack_trace_fingerprint(
    df: DataFrame,
    trace_col: str = "trace",
) -> DataFrame:
    """Java stack-trace parse + crash-group fingerprint — the
    error-aggregation grammar every log pipeline needs (the reference
    forwards these blobs opaquely; grouping them is the analytics
    layer's job, same role as Sentry/ErrorProne grouping): extract the
    exception class and message from the header line, the top ``at``
    frame (method + file:line), frame and ``Caused by:`` counts, and a
    stable 16-hex fingerprint of (class, top method) — deliberately
    EXCLUDING the message and line number, so the same crash site
    groups across messages and minor releases.

    Header class must look like a Java FQCN ending in
    Exception/Error/Throwable.  Pure codegen'd regex + sha2, zero
    exchanges; multiline blobs are ordinary strings ([^\\n] classes,
    no dotall).
    """
    t = F.col(trace_col)
    cls = F.regexp_extract(
        t, r"^([A-Za-z_$][\w.$]*(?:Exception|Error|Throwable))(?::|\n|$)", 1
    )
    msg = F.regexp_extract(
        t,
        r"^[A-Za-z_$][\w.$]*(?:Exception|Error|Throwable): ([^\n]*)",
        1,
    )
    top_m = F.regexp_extract(t, r"\n\s+at ([^(\n]+)\(", 1)
    top_loc = F.regexp_extract(t, r"\n\s+at [^(\n]+\(([^)\n]+)\)", 1)
    ok = (cls != "") & (top_m != "")
    n_frames = F.regexp_count(t, F.lit(r"\n\s+at "))
    n_causes = F.regexp_count(t, F.lit(r"\nCaused by: "))
    fp = F.substring(
        F.sha2(F.concat(cls, F.lit("|"), top_m), 256), 1, 16
    )
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, cls).alias("exc_class"),
        F.when(ok & (msg != ""), msg).alias("exc_msg"),
        F.when(ok, top_m).alias("top_method"),
        F.when(ok, top_loc).alias("top_loc"),
        F.when(ok, n_frames.cast("int")).alias("n_frames"),
        F.when(ok, n_causes.cast("int")).alias("n_causes"),
        F.when(ok, fp).alias("fingerprint"),
    )


def w3c_extlog_parse(
    df: DataFrame,
    file_col: str = "file",
    lineno_col: str = "line_no",
    line_col: str = "line",
    fields: tuple[str, ...] = ("c-ip", "sc-status", "time-taken"),
) -> DataFrame:
    """W3C Extended Log File Format parse (IIS/Exchange access logs):
    the per-FILE ``#Fields:`` directive defines the column order, so
    two files in one glob can carry the same fields in different
    positions — schema resolution is data-driven, not static.

    The first ``#Fields:`` directive per file wins (rotated IIS logs
    re-emit one header; mid-file re-directives are out of scope,
    documented).  Directive table is one row per FILE — AQE broadcasts
    it; data lines split once, requested fields picked positionally
    with ``F.get`` (NULL out of bounds, no ANSI trap), the W3C ``-``
    null sentinel mapped to NULL, and ``well_formed`` gates on token
    count matching the directive's arity.  Directive/comment lines are
    not data and are excluded from the output.
    """
    fcol, lcol = F.col(file_col), F.col(line_col)
    dirs = (
        df.filter(lcol.startswith("#Fields: "))
        .groupBy(fcol.alias("_f"))
        .agg(
            F.min_by(
                F.split(F.substring(lcol, 10, 100000), " "), F.col(lineno_col)
            ).alias("_fields")
        )
    )
    data = df.filter(~lcol.startswith("#"))
    joined = data.join(dirs, data[file_col] == dirs["_f"], "left").drop("_f")
    vals = F.split(lcol, " ")
    ok = F.col("_fields").isNotNull() & (
        F.size(vals) == F.size("_fields")
    )

    def pick(name: str) -> Column:
        idx = F.array_position(F.col("_fields"), name)
        v = F.get(vals, (idx - 1).cast("int"))
        good = ok & (idx > 0) & (v != "-")
        return F.when(good, v)

    safe = [f.replace("-", "_").replace("(", "_").replace(")", "") for f in fields]
    return joined.select(
        file_col,
        lineno_col,
        ok.alias("well_formed"),
        *[pick(f).alias(f"f_{s}") for f, s in zip(fields, safe)],
    )


def uuid7_parse(
    df: DataFrame,
    id_col: str = "id",
    ts_col: str = "ts",
    skew_ms: int = 60000,
) -> DataFrame:
    """UUIDv7 parse + clock-skew audit — ids embed their creation
    time (RFC 9562 §5.7: 48-bit unix ms in the first 12 hex digits),
    so comparing id-time to record-time exposes producer clock skew
    and misrouted replays, the id-level twin of the `timestamp`
    processor's offset correction.  Strict v7 gate: 8-4-4-4-12 hex
    shape, version nibble 7, RFC variant (8/9/a/b).

    ``F.conv(hex, 16, 10)`` decodes the 48-bit ms JVM-side (fits a
    long with 16 bits to spare); record time compares at the same ms
    truncation.  Pure codegen, zero exchanges.
    """
    s = F.lower(F.col(id_col))
    well = s.rlike(
        "^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-"
        "[0-9a-f]{12}$"
    )
    hex12 = F.concat(F.substring(s, 1, 8), F.substring(s, 10, 4))
    uuid_ms = F.conv(hex12, 16, 10).cast("long")
    rec_ms = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp_ltz")) / 1000).cast("long")
    skew = uuid_ms - rec_ms
    return df.select(
        "*",
        well.alias("well_formed"),
        F.when(well, uuid_ms).alias("uuid_ms"),
        F.when(well, skew).alias("skew_ms_obs"),
        F.when(well, F.abs(skew) > skew_ms).alias("skew_flag"),
    )


def zipkin_span_parse(
    df: DataFrame,
    json_col: str = "line",
) -> DataFrame:
    """Zipkin v2 JSON span parse — the third trace-ingest grammar
    beside OTLP-shaped spans and W3C traceparent: schema-full
    ``from_json`` (no inference on the hot path), B3 id validation
    (64- or 128-bit trace id, 64-bit span id, lowercase hex), 64-bit
    trace ids left-padded to 128-bit canonical form, micros→ms
    normalization, and the `error` tag surfaced as a boolean.

    Spans legitimately lack parentId (roots) and duration (async
    one-shots); those stay NULL without failing the gate.  Pure
    codegen'd from_json + regex, zero exchanges.
    """
    schema = (
        "traceId string, id string, parentId string, name string, "
        "kind string, timestamp long, duration long, "
        "localEndpoint struct<serviceName:string>, "
        "tags map<string,string>"
    )
    j = F.from_json(F.col(json_col), schema)
    tid = F.lower(j["traceId"])
    sid = F.lower(j["id"])
    ok = (
        j.isNotNull()
        & tid.rlike("^[0-9a-f]{16}([0-9a-f]{16})?$")
        & sid.rlike("^[0-9a-f]{16}$")
        & j["timestamp"].isNotNull()
    )
    trace_norm = F.lpad(tid, 32, "0")
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, trace_norm).alias("trace_id"),
        F.when(ok, sid).alias("span_id"),
        F.when(ok, F.lower(j["parentId"])).alias("parent_id"),
        F.when(ok, j["localEndpoint"]["serviceName"]).alias("service"),
        F.when(ok, j["name"]).alias("op_name"),
        F.when(ok, j["kind"]).alias("kind"),
        F.when(ok, F.floor(j["timestamp"] / 1000).cast("long")).alias(
            "start_ms"
        ),
        F.when(ok, F.round(j["duration"] / 1000.0, 3)).alias("duration_ms"),
        F.when(ok, F.coalesce(j["tags"]["error"] == "true", F.lit(False)))
        .alias("error"),
    )


def go_duration_parse(
    df: DataFrame,
    dur_col: str = "dur",
) -> DataFrame:
    """Go `time.ParseDuration` grammar — the duration literal every
    collector config field uses (`timeout: 1h30m`, `interval: 500ms`):
    optional sign, one or more (decimal)(unit) segments with units
    ns/us/µs/ms/s/m/h, plus the bare ``"0"`` special case.  Output is
    total NANOSECONDS as a long (Go's own representation), so the
    arithmetic is exact decimal — no float anywhere.

    Segments fold in-row over the regexp_extract_all list (decimal
    accumulator); fractional segments are exact up to 6 fraction
    digits (beyond that is out of scope for config literals —
    documented).  Pure codegen, zero exchanges.
    """
    s = F.col(dur_col)
    seg_pat = r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)"
    well = s.rlike(r"^[+-]?(\d+(\.\d+)?(ns|us|µs|ms|s|m|h))+$") | (
        s.rlike(r"^[+-]?0$")
    )
    segs = F.regexp_extract_all(s, F.lit(seg_pat), 0)
    num = lambda seg: F.regexp_extract(seg, r"^(\d+(?:\.\d+)?)", 1).cast(
        "decimal(16,6)"
    )
    unit = lambda seg: F.regexp_extract(seg, r"([a-zµ]+)$", 1)
    factor = lambda seg: (
        F.when(unit(seg) == "ns", F.lit(1))
        .when(unit(seg).isin("us", "µs"), F.lit(1000))
        .when(unit(seg) == "ms", F.lit(1000000))
        .when(unit(seg) == "s", F.lit(1000000000))
        .when(unit(seg) == "m", F.lit(60000000000))
        .otherwise(F.lit(3600000000000))
        .cast("decimal(14,0)")
    )
    total = F.aggregate(
        segs,
        F.lit(0).cast("decimal(32,6)"),
        lambda acc, seg: (
            acc + (num(seg) * factor(seg)).cast("decimal(32,6)")
        ).cast("decimal(32,6)"),
    )
    signed = F.when(s.startswith("-"), -total).otherwise(total)
    return df.select(
        "*",
        well.alias("well_formed"),
        F.when(well, signed.cast("long")).alias("ns"),
        F.when(well, F.size(segs)).alias("n_segments"),
    )


def cookie_parse(
    df: DataFrame,
    header_col: str = "header",
) -> DataFrame:
    """``Set-Cookie`` header parse (RFC 6265): leading name=value
    pair, then attribute-value / flag attributes — Path, Domain,
    Max-Age, Secure, HttpOnly, SameSite — matched case-insensitively
    (the RFC requires it; real servers emit every casing).  Cookie
    VALUES keep their case and may contain '=' (split on the first
    '=' only).

    Pure codegen'd regex, zero exchanges; the gate is a non-empty
    token-valid name before the first '='.
    """
    h = F.col(header_col)
    first = F.trim(F.regexp_extract(h, r"^([^;]*)", 1))
    name = F.regexp_extract(first, r"^([^=\s]+)=", 1)
    value = F.regexp_extract(first, r"^[^=\s]+=(.*)$", 1)
    ok = name != ""

    def attr(key: str) -> Column:
        return F.regexp_extract(h, rf"(?i);\s*{key}=([^;]*)", 1)

    def flag(key: str) -> Column:
        return h.rlike(rf"(?i);\s*{key}\s*(;|$)")

    max_age = attr("Max-Age")
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, name).alias("cookie_name"),
        F.when(ok, value).alias("cookie_value"),
        F.when(ok & (attr("Path") != ""), attr("Path")).alias("path"),
        F.when(ok & (attr("Domain") != ""), attr("Domain")).alias("domain"),
        F.when(ok & max_age.rlike("^-?[0-9]+$"), max_age.cast("long")).alias(
            "max_age"
        ),
        F.when(ok, flag("Secure")).alias("secure"),
        F.when(ok, flag("HttpOnly")).alias("http_only"),
        F.when(
            ok & (attr("SameSite") != ""), F.lower(attr("SameSite"))
        ).alias("same_site"),
    )


def gc_pause_parse(
    df: DataFrame,
    line_col: str = "line",
) -> DataFrame:
    """JVM unified-logging G1 pause-line parse (`-Xlog:gc`):
    ``GC(123) Pause Young (Normal) (G1 Evacuation Pause)
    512M->128M(1024M) 12.345ms`` — the memory-health feed every
    JVM-service log pipeline ends up grepping: gc id, pause kind,
    cause (LAST parenthesized group when present), heap before/after/
    committed MB, pause ms, and the derived reclaimed_mb.

    Remark/Cleanup pauses legitimately carry no cause.  Pure codegen'd
    regex, zero exchanges.
    """
    t = F.col(line_col)
    # cause groups may nest one empty paren pair — "(System.gc())"
    # is the canonical Full-GC cause string.
    head = (
        r"^GC\((\d+)\) Pause (Young|Full|Remark|Cleanup)"
        r"((?: \((?:[^()]|\(\))*\))*) (\d+)M->(\d+)M\((\d+)M\)"
        r" (\d+\.?\d*)ms$"
    )
    ok = t.rlike(head)
    gc_id = F.regexp_extract(t, head, 1).cast("long")
    kind = F.regexp_extract(t, head, 2)
    parens = F.regexp_extract(t, head, 3)
    cause = F.regexp_extract(parens, r"\(((?:[^()]|\(\))*)\)$", 1)
    before = F.regexp_extract(t, head, 4).cast("long")
    after = F.regexp_extract(t, head, 5).cast("long")
    total = F.regexp_extract(t, head, 6).cast("long")
    pause = F.regexp_extract(t, head, 7).cast("double")
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, gc_id).alias("gc_id"),
        F.when(ok, kind).alias("kind"),
        F.when(ok & (cause != ""), cause).alias("cause"),
        F.when(ok, before).alias("heap_before_mb"),
        F.when(ok, after).alias("heap_after_mb"),
        F.when(ok, total).alias("heap_total_mb"),
        F.when(ok, pause).alias("pause_ms"),
        F.when(ok, before - after).alias("reclaimed_mb"),
    )


def jstack_parse(
    df: DataFrame,
    blob_col: str = "blob",
) -> DataFrame:
    """jstack/thread-dump record parse (one blob per thread): header
    line (`"name" #id [daemon] prio=.. tid=.. nid=.. <descr>`), the
    `java.lang.Thread.State:` line with its parenthesized detail, the
    top `at` frame, and — for BLOCKED threads — the monitor address
    from `- waiting to lock <0x...>`; the stall-triage feed
    (who's BLOCKED on what) every JVM incident review starts with.

    RUNNABLE threads legitimately lack a state detail and a lock.
    Pure codegen'd regex over multiline strings, zero exchanges.
    """
    t = F.col(blob_col)
    name = F.regexp_extract(t, r'^"([^"]*)" #(\d+)', 1)
    tid = F.regexp_extract(t, r'^"([^"]*)" #(\d+)', 2)
    ok = (name != "") & (tid != "")
    daemon = t.rlike(r'^"[^"]*" #\d+ daemon ')
    state = F.regexp_extract(
        t,
        r"java\.lang\.Thread\.State: "
        r"(NEW|RUNNABLE|BLOCKED|WAITING|TIMED_WAITING|TERMINATED)",
        1,
    )
    detail = F.regexp_extract(
        t, r"java\.lang\.Thread\.State: \w+ \(([^)]*)\)", 1
    )
    top = F.regexp_extract(t, r"\n\s+at ([^(\n]+)\(", 1)
    lock = F.regexp_extract(t, r"- waiting to lock <(0x[0-9a-f]+)>", 1)
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, name).alias("thread_name"),
        F.when(ok, tid.cast("long")).alias("thread_id"),
        F.when(ok, daemon).alias("daemon"),
        F.when(ok & (state != ""), state).alias("state"),
        F.when(ok & (detail != ""), detail).alias("state_detail"),
        F.when(ok & (top != ""), top).alias("top_method"),
        F.when(ok & (lock != ""), lock).alias("lock_addr"),
    )


GROK_LIB = {
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "WORD": r"\w+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "URIPATH": r"/[^\s?#]*",
    "NOTSPACE": r"\S+",
    "HOSTNAME": r"[A-Za-z0-9._-]+",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?"
    ),
    "GREEDYDATA": r".*",
}

_GROK_TOKEN = r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}"


def grok_compile(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """Compile a grok pattern (`%{IP:client} %{WORD:m} %{NUMBER:b:int}`)
    into (anchored Java regex, [(field, type)]) — the Logstash pattern
    language as a config front-end for `regex_parser` (library
    sub-patterns are all non-capturing, so group i maps 1:1 to the
    i-th named token).  Unknown %{SYNTAX} raises; literal text between
    tokens passes through as regex (grok semantics — callers escape)."""
    import re as _re

    fields: list[tuple[str, str]] = []

    def repl(m: "_re.Match[str]") -> str:
        syntax, name, typ = m.group(1), m.group(2), m.group(3)
        if syntax not in GROK_LIB:
            raise ValueError(f"unknown grok pattern %{{{syntax}}}")
        body = GROK_LIB[syntax]
        if name:
            fields.append((name, typ or "string"))
            return f"({body})"
        return f"(?:{body})"

    rx = _re.sub(_GROK_TOKEN, repl, pattern)
    return "^" + rx + "$", fields


def grok_parse(
    df: DataFrame,
    line_col: str,
    pattern: str,
) -> DataFrame:
    """Apply a compiled grok pattern: one anchored-regex gate + one
    regexp_extract per named field, with `:int`/`:float` coercion —
    the pattern-language twin of `regex_parser` (config string in,
    Catalyst columns out; same compile-to-Column stance as the OTTL
    layer).  Pure codegen, zero exchanges.
    """
    rx, fields = grok_compile(pattern)
    t = F.col(line_col)
    ok = t.rlike(rx)
    cols = []
    for i, (name, typ) in enumerate(fields, start=1):
        v = F.regexp_extract(t, rx, i)
        c = F.when(ok, v)
        if typ == "int":
            c = F.when(ok, v.cast("long"))
        elif typ == "float":
            c = F.when(ok, v.cast("double"))
        cols.append(c.alias(f"g_{name}"))
    return df.select("*", ok.alias("well_formed"), *cols)


def _xmlkv_kernel(root, attrs, elements):
    """The ``xmlkv_parse`` kernel over one Arrow batch: ``kern(xml, ok)``
    takes the ``xml`` strings and the Catalyst-side well-formed gate
    ``ok`` and returns one row of ``a_<attr>``/``e_<element>``/
    ``n_children`` per input row.  A row whose gate is false or NULL
    (``None``, or ``pd.NA`` in a nullable ``boolean`` Series) gets
    all-NULL fields.  ``kern`` refers to no module global, so Spark
    ships it to the Python workers by value and they need not import
    this package."""

    def kern(xml, ok):
        import xml.etree.ElementTree as ET

        import pandas as pd

        n = len(xml)
        out: dict[str, list] = {f"a_{a}": [None] * n for a in attrs}
        out.update({f"e_{e}": [None] * n for e in elements})
        out["n_children"] = [None] * n
        for i in range(n):
            v = ok.iat[i]
            if pd.isna(v) or not v:
                continue
            try:
                r = ET.fromstring(xml.iat[i])
            except ET.ParseError:
                r = None
            if r is None or r.tag != root:
                # XPath on a different/unparseable document element:
                # empty nodesets stringify to "" for attrs, no child
                # elements.
                for a in attrs:
                    out[f"a_{a}"][i] = ""
                out["n_children"][i] = 0
                continue
            for a in attrs:
                out[f"a_{a}"][i] = r.get(a, "")
            for e in elements:
                el = r.find(e)
                if el is not None:
                    txt = "".join(el.itertext())
                    if txt != "":
                        out[f"e_{e}"][i] = txt
            out["n_children"][i] = sum(
                1 for c in r if isinstance(c.tag, str)
            )
        return pd.DataFrame(out)

    return kern


def xmlkv_parse(
    df: DataFrame,
    xml_col: str = "xml",
    root: str = "event",
    attrs: tuple[str, ...] = ("id", "type"),
    elements: tuple[str, ...] = ("host",),
) -> DataFrame:
    """XML event parse (Splunk ``xmlkv`` analog), vectorized.

    Spark's native XPath expressions pay one DOM build per row even
    with every field pulled through a single ``concat`` — ~22 s per
    100k-row scan, 10x the rest of the parse family.  This path moves
    the byte-column work where the north rule puts it: an
    Arrow-batched pandas UDF running expat (``xml.etree`` C parser)
    per row, ~5-10x faster, with the well-formed gate still computed
    Catalyst-side (``rlike``) so NULL semantics are bit-identical to
    the XPath formulation (kept in the tests as a reference).

    Output contract (matches the XPath reference, tested for equality):
    root attributes as ``a_<name>`` (XPath string semantics — "" when
    the attribute is absent on a well-formed row, NULL on malformed
    rows), first direct child's text concat as ``e_<name>`` (NULL
    when absent/empty), child-element count as ``n_children``.  Rows
    that pass the shape gate but fail the real parser degrade to
    empty fields instead of throwing (the one deliberate divergence —
    JVM XPath would kill the job; at 10^12 rows graceful per-row
    degradation is the only acceptable behavior).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fields = [f"a_{a}" for a in attrs] + [f"e_{e}" for e in elements]
    schema = (
        ", ".join(f"`{f}` string" for f in fields) + ", n_children bigint"
    )

    _kern = _xmlkv_kernel(root, attrs, elements)

    # real (non-string) hints: `from __future__ import annotations`
    # would stringify inline ones past what pyspark's resolver can
    # see with pandas imported function-locally.
    _kern.__annotations__ = {
        "xml": pd.Series, "ok": pd.Series, "return": pd.DataFrame
    }
    _kern = pandas_udf(schema)(_kern)

    x = F.col(xml_col)
    ok = x.rlike(rf"^<{root}( |>).*</{root}>$") | x.rlike(
        rf"^<{root}( [^>]*)?/>$"
    )
    parsed = df.select(
        "*", ok.alias("well_formed"), _kern(x, ok).alias("_x")
    )
    return parsed.select(
        *df.columns,
        "well_formed",
        *[F.col(f"_x.{f}").alias(f) for f in fields],
        F.col("_x.n_children").alias("n_children"),
    )


def docker_json_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse docker json-file logging-driver records.

    Reference: the collector tails container logs via filelog with the
    docker json-file format (`{"log":"...\\n","stream":"stdout","time":
    "2024-01-01T00:00:00.123456789Z"}`) — docker observer + filelog
    operator stack in the agent bundle.  One ``from_json`` with an
    explicit 3-field schema (no schema inference on the hot path),
    trailing-newline strip, and RFC3339-nano timestamp parse truncated
    to microseconds (Spark timestamps carry us, docker emits ns — the
    sub-us digits are dropped, not rounded).

    Returns input + (log, stream, log_ts); malformed JSON yields NULLs
    (dead-letter rows, same policy as ``journald_parse``).
    """
    parsed = F.from_json(
        F.col(line_col), "log string, stream string, time string"
    )
    # truncate nanoseconds -> microseconds before the cast
    t = F.regexp_replace(
        parsed["time"], r"(\.\d{6})\d+Z$", r"$1Z"
    )
    return (
        df.withColumn("log", F.regexp_replace(parsed["log"], r"\n$", ""))
        .withColumn("stream", parsed["stream"])
        .withColumn(
            "log_ts",
            F.to_timestamp(
                F.regexp_replace(t, "Z$", "+00:00"),
                "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX",
            ),
        )
    )


LEEF_RE = r"^LEEF:([0-9.]+)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|(.*)$"


def leef_parse(
    df: DataFrame,
    line_col: str = "line",
    attr_keys: tuple[str, ...] = ("src", "dst", "usrName", "sev"),
) -> DataFrame:
    """IBM QRadar LEEF (Log Event Extended Format) parse — the CEF
    sibling in the security-log ingest family (same Splunk sourcetype
    routing stanzas as ``cef_parse``): ``LEEF:Version|Vendor|Product|
    ProductVersion|EventID|attributes`` where attributes are
    tab-separated ``key=value`` pairs (LEEF 1.0 fixes tab; 2.0 allows
    a custom delimiter — tab covers both defaults here).

    Header pipes split positionally; each requested attribute key
    extracts with an anchored regexp bounded by the next tab.
    Malformed lines surface with ``leef_version`` NULL (dead-letter
    rows, never errors).  Pure codegen'd regex, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, LEEF_RE)

    def attr(key: str):
        pat = rf"(?:^|\t){key}=([^\t]*)"
        v = F.regexp_extract(g(6), pat, 1)
        return F.when(ok & (v != ""), v)

    keep = lambda c: F.when(ok, c)  # noqa: E731
    return df.select(
        "*",
        keep(g(1)).alias("leef_version"),
        keep(g(2)).alias("vendor"),
        keep(g(3)).alias("product"),
        keep(g(4)).alias("product_version"),
        keep(g(5)).alias("event_id_leef"),
        *[attr(k).alias(f"attr_{k}") for k in attr_keys],
    )


KLOG_RE = (
    r"^([IWEF])(\d{4}) (\d{2}:\d{2}:\d{2}\.\d{6})\s+(\d+) "
    r"([\w.]+\.go):(\d+)\] (.*)$"
)


def klog_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse Kubernetes klog header lines.

    Reference: the collector's k8s receivers (k8s_events, k8s_cluster,
    kubeletstats in the agent bundle) ingest component logs in klog
    format: ``I0820 04:05:06.123456   12345 controller.go:123] msg`` —
    severity letter (Info/Warning/Error/Fatal), MMDD (year-less!),
    wall time to microseconds, PID, source file:line, free text.

    One anchored regexp, codegen'd, zero exchanges.  The year-less
    date stays as ``klog_mmdd`` (string) — klog genuinely drops the
    year, so reconstructing a timestamp needs external context the
    parser must not invent.  Malformed lines yield NULL severity.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, KLOG_RE)
    keep = lambda c: F.when(ok, c)  # noqa: E731
    sev_map = F.create_map(
        F.lit("I"), F.lit("INFO"), F.lit("W"), F.lit("WARN"),
        F.lit("E"), F.lit("ERROR"), F.lit("F"), F.lit("FATAL"),
    )
    return df.select(
        "*",
        keep(sev_map[g(1)]).alias("klog_severity"),
        keep(g(2)).alias("klog_mmdd"),
        keep(g(3)).alias("klog_time"),
        keep(g(4).cast("long")).alias("klog_pid"),
        keep(g(5)).alias("klog_file"),
        keep(g(6).cast("int")).alias("klog_line"),
        keep(g(7)).alias("klog_msg"),
    )


HAPROXY_RE = (
    r"^(\S+):(\d+) \[([^\]]+)\] (\S+) (\S+)/(\S+) "
    r"(-?\d+)/(-?\d+)/(-?\d+)/(-?\d+)/(-?\d+) (\d{3}) (\d+) "
    r'"(\S+) (\S+) ([^"]*)"$'
)


def haproxy_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse HAProxy HTTP-mode log lines.

    The L7 edge-proxy access format every Splunk ingest pipeline ends
    up fielding (same stanza-parser family as ``apache_clf_parse``):
    ``ip:port [date] frontend backend/server Tq/Tw/Tc/Tr/Tt status
    bytes "METHOD path HTTP/x"`` — the 5 slash-separated timers are
    the waterfall (client/queue/connect/response/total), -1 marking a
    phase that never completed.

    One anchored regexp, codegen'd, zero exchanges; malformed lines
    yield NULL ``hap_status`` (dead-letter rows).
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, HAPROXY_RE)
    keep = lambda c: F.when(ok, c)  # noqa: E731
    return df.select(
        "*",
        keep(g(1)).alias("hap_client_ip"),
        keep(g(4)).alias("hap_frontend"),
        keep(g(5)).alias("hap_backend"),
        keep(g(6)).alias("hap_server"),
        keep(g(7).cast("long")).alias("hap_tq"),
        keep(g(8).cast("long")).alias("hap_tw"),
        keep(g(9).cast("long")).alias("hap_tc"),
        keep(g(10).cast("long")).alias("hap_tr"),
        keep(g(11).cast("long")).alias("hap_tt"),
        keep(g(12).cast("int")).alias("hap_status"),
        keep(g(13).cast("long")).alias("hap_bytes"),
        keep(g(14)).alias("hap_method"),
        keep(g(15)).alias("hap_path"),
    )


def sql_fingerprint(df: DataFrame, query_col: str) -> DataFrame:
    """Normalize SQL query text to a literal-free template.

    pg_stat_statements-style workload grouping for query logs (the
    collector's sqlquery receiver emits per-query rows; aggregating
    them needs literals collapsed or every query is unique): quoted
    strings -> ?, numeric literals -> ?, IN (...) lists -> IN (?),
    whitespace squeezed, lowercased keywords preserved as-is.  Four
    chained ``regexp_replace`` — pure codegen, zero exchanges.

    Adds ``sql_template`` to the input.
    """
    q = F.col(query_col)
    t = F.regexp_replace(q, r"'(?:[^']|'')*'", "?")
    t = F.regexp_replace(t, r"\b\d+(?:\.\d+)?\b", "?")
    t = F.regexp_replace(
        t, r"(?i)\bin\s*\(\s*\?(?:\s*,\s*\?)*\s*\)", "IN (?)"
    )
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.withColumn("sql_template", t)


UA_BOT_RE = r"(?i)(bot|crawler|spider|curl|wget|python-requests)"


def user_agent_parse(df: DataFrame, ua_col: str) -> DataFrame:
    """Classify HTTP User-Agent strings: browser, OS, bot flag.

    The standard access-log enrichment ladder (first match wins, the
    order IS the semantic — Edge before Chrome because Edge UAs
    contain "Chrome", Chrome before Safari for the same reason).
    Pure regexp ladder in codegen; unknown agents classify as
    "other"/"other" rather than NULL (absence of a match is itself a
    signal worth grouping on).

    Adds ``ua_browser``, ``ua_os``, ``ua_is_bot``.
    """
    ua = F.col(ua_col)
    browser = (
        F.when(ua.rlike(r"(?i)edg(e|a|ios)?/"), "edge")
        .when(ua.rlike(r"(?i)opr/|opera"), "opera")
        .when(ua.rlike(r"(?i)chrome/"), "chrome")
        .when(ua.rlike(r"(?i)firefox/"), "firefox")
        .when(ua.rlike(r"(?i)safari/"), "safari")
        .when(ua.rlike(UA_BOT_RE), "bot")
        .otherwise("other")
    )
    os_ = (
        F.when(ua.rlike(r"(?i)windows nt"), "windows")
        .when(ua.rlike(r"(?i)android"), "android")
        .when(ua.rlike(r"(?i)iphone|ipad|ios"), "ios")
        .when(ua.rlike(r"(?i)mac os x|macintosh"), "macos")
        .when(ua.rlike(r"(?i)linux"), "linux")
        .otherwise("other")
    )
    return (
        df.withColumn("ua_browser", browser)
        .withColumn("ua_os", os_)
        .withColumn("ua_is_bot", ua.rlike(UA_BOT_RE))
    )


def w3c_extended_parse(
    df: DataFrame,
    file_col: str,
    order_cols: list[str],
    line_col: str,
    want_fields: list[str],
) -> DataFrame:
    """Parse W3C Extended Log Format (IIS/Exchange) — directive-driven.

    The format the Splunk Add-on for IIS ingests: a ``#Fields: ...``
    directive line names the columns, data lines are space-separated
    values positioned BY THE MOST RECENT PRECEDING DIRECTIVE, and the
    directive can change mid-file (IIS re-emits headers on log
    rotation and config change).  ``-`` is the format's NULL.

    The schema resolution is a per-file running ``last(ignorenulls)``
    window over the line order — each file is one partition, so at
    10^12 lines the shuffle is one hash exchange on file id and the
    directive lookup never leaves the partition.  Field extraction is
    ``try_element_at(tokens, array_position(directive, field))`` —
    pure Catalyst, absent fields yield NULL, no Python.

    Returns data rows (directive rows dropped) with one ``w3c_<name>``
    column per requested field (dashes in names -> underscores).
    """
    from pyspark.sql.window import Window

    line = F.col(line_col)
    is_dir = line.startswith("#Fields: ")
    dir_arr = F.when(is_dir, F.split(F.substring(line, 10, 100000), " "))
    w = (
        Window.partitionBy(file_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("_dir", F.last(dir_arr, ignorenulls=True).over(w))
    out = out.withColumn("_toks", F.split(line, " "))
    for f in want_fields:
        # nullif: array_position yields 0 when the directive lacks the
        # field, and index 0 raises even under try_element_at.
        raw = F.expr(
            f"try_element_at(_toks,"
            f" cast(nullif(array_position(_dir, '{f}'), 0) as int))"
        )
        out = out.withColumn(
            "w3c_" + f.replace("-", "_"),
            F.when(raw != "-", raw),
        )
    return out.filter(~is_dir).drop("_dir", "_toks")


NGINX_ERR_RE = (
    r"^(\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}) \[(\w+)\] (\d+)#(\d+): "
    r"\*(\d+) ([^,]*)"
)


def nginx_error_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse nginx error-log lines (the OTHER nginx format).

    Access logs are combined/LTSV (see ``ltsv_parse``); the error log
    is its own grammar: ``YYYY/MM/DD HH:MM:SS [level] pid#tid: *cid
    message, client: ip, server: name, request: "METHOD path PROTO"``
    — fixed header, then OPTIONAL comma-keyed context fields in any
    suffix order.  Header via one anchored regexp; each context field
    via its own keyed regexp so absent fields yield NULL instead of
    shifting positions (the failure mode of split-based parsers).
    Malformed lines yield NULL level.  Pure codegen, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, NGINX_ERR_RE)
    keep = lambda c: F.when(ok, c)  # noqa: E731
    opt = lambda pat: F.when(  # noqa: E731
        ok & (F.regexp_extract(line, pat, 1) != ""),
        F.regexp_extract(line, pat, 1),
    )
    return df.select(
        "*",
        keep(g(1)).alias("ngx_time"),
        keep(F.upper(g(2))).alias("ngx_level"),
        keep(g(3).cast("long")).alias("ngx_pid"),
        keep(g(4).cast("long")).alias("ngx_tid"),
        keep(g(5).cast("long")).alias("ngx_conn"),
        keep(g(6)).alias("ngx_msg"),
        opt(r", client: ([^,]+)").alias("ngx_client"),
        opt(r", server: ([^,]+)").alias("ngx_server"),
        opt(r', request: "(\w+) ').alias("ngx_method"),
        opt(r', request: "\w+ ([^ "]+)').alias("ngx_path"),
    )


POSTFIX_RE = r"^postfix/(\w+)\[(\d+)\]: ([0-9A-F]+): "


def postfix_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse Postfix MTA queue-manager/smtp log lines.

    The mail-flow grammar SIEM ingest pipelines chew constantly:
    ``postfix/<proc>[pid]: QUEUEID: key=value, key=value ...`` with
    the well-known keys to=<addr>, relay=host[ip]:port, delay=secs,
    dsn=code, status=word (detail).  Header via one anchored regexp;
    each key via its own keyed regexp so absent keys are NULL and
    suffix order never matters (same discipline as
    ``nginx_error_parse``).  Malformed lines yield NULL process.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, POSTFIX_RE)
    keep = lambda c: F.when(ok, c)  # noqa: E731
    opt = lambda pat: F.when(  # noqa: E731
        ok & (F.regexp_extract(line, pat, 1) != ""),
        F.regexp_extract(line, pat, 1),
    )
    return df.select(
        "*",
        keep(g(1)).alias("pf_proc"),
        keep(g(2).cast("long")).alias("pf_pid"),
        keep(g(3)).alias("pf_queue_id"),
        opt(r"to=<([^>]*)>").alias("pf_to"),
        opt(r"relay=(\S+?),").alias("pf_relay"),
        opt(r"delay=([0-9.]+)").cast("double").alias("pf_delay"),
        opt(r"dsn=([0-9.]+),").alias("pf_dsn"),
        opt(r"status=(\w+)").alias("pf_status"),
        opt(r"status=\w+ \(([^)]*)\)").alias("pf_status_detail"),
    )


def k8s_audit_parse(df: DataFrame, json_col: str = "line") -> DataFrame:
    """Parse Kubernetes API-server audit events (JSON lines).

    The k8s-objects/k8s-events receiver family ingests these
    (reference: k8seventsreceiver / k8sobjectsreceiver in
    components.go); the audit log is the security-relevant one: who
    did what to which resource with what result.  Pure
    ``get_json_object`` path extraction — schema-on-read without a
    from_json schema literal, absent paths NULL, malformed lines NULL
    verb.  Zero exchanges, codegen'd.
    """
    j = F.col(json_col)
    ok = F.get_json_object(j, "$.kind") == "Event"

    def g(path):
        return F.when(ok, F.get_json_object(j, path))

    return df.select(
        "*",
        g("$.verb").alias("audit_verb"),
        g("$.user.username").alias("audit_user"),
        g("$.objectRef.resource").alias("audit_resource"),
        g("$.objectRef.namespace").alias("audit_namespace"),
        g("$.objectRef.name").alias("audit_name"),
        g("$.responseStatus.code").cast("long").alias("audit_code"),
        g("$.stage").alias("audit_stage"),
    )


# client is (\S+):(\d+), not an IPv4 dotted quad: ALB logs IPv6
# clients (and h2/ws request types) as ip:port with colons inside the
# ip, and the greedy \S+ correctly yields everything before the LAST
# colon as the address.  An IPv4-only pattern silently marked every
# IPv6 line well_formed=false.
_ELB_RE = (
    r'^(\w+) (\S+) (\S+) (\S+):(\d+) (\S+) '
    r'(-?[\d.]+) (-?[\d.]+) (-?[\d.]+) (\d+) (\S+) (\d+) (\d+) '
    r'"(\S+) (\S+) (\S+)" "([^"]*)"$'
)


def elb_log_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """AWS ALB/ELB access-log parse — the load-balancer grammar the
    reference's smart-agent log configs scrape alongside apache/nginx
    (same regex_parser stanza family, `splunk_logs_config_linux.yaml`):
    ``type time elb client:port target:port req_t tgt_t resp_t
    elb_status tgt_status received sent "METHOD URL PROTO" "ua"``.

    `-1` processing times (connection never established) and `-`
    target status parse as NULL; total_time_s is the serial sum of the
    three phases when all are present.  The regex executes ONCE per
    row — regexp_replace rewrites the line to its 17 groups joined on
    an \\x01 sentinel (a byte that cannot appear in an access log) and
    every field is then an O(1) split index.  A per-column
    regexp_extract would run the same 17-group pattern 18x per row —
    measured 8x slower on a 100k-line scan.  Pure codegen, zero
    exchanges.
    """
    line = F.col(line_col)
    sep = "\x01"
    repl = sep.join(f"${i}" for i in range(1, 18))
    parts = F.split(F.regexp_replace(line, _ELB_RE, repl), sep, -1)
    g = lambda i: F.element_at(parts, i)  # noqa: E731
    ok = F.size(parts) == 17
    t = lambda i: F.when(  # noqa: E731
        ok & (g(i) != "-1"), g(i).cast("double")
    )
    total = t(7) + t(8) + t(9)
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, g(1)).alias("req_type"),
        F.when(ok, F.date_format(
            F.to_timestamp(g(2), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX"),
            "yyyy-MM-dd HH:mm:ss",
        )).alias("rtime"),
        F.when(ok, g(3)).alias("elb"),
        F.when(ok, g(4)).alias("client_ip"),
        F.when(ok, g(5).cast("int")).alias("client_port"),
        F.when(ok & (g(6) != "-"), g(6)).alias("target"),
        t(7).alias("request_t_s"),
        t(8).alias("target_t_s"),
        t(9).alias("response_t_s"),
        F.when(ok, g(10).cast("int")).alias("elb_status"),
        F.when(ok & (g(11) != "-"), g(11).cast("int")).alias("target_status"),
        F.when(ok, g(12).cast("long")).alias("received_bytes"),
        F.when(ok, g(13).cast("long")).alias("sent_bytes"),
        F.when(ok, g(14)).alias("method"),
        F.when(ok, g(15)).alias("url"),
        F.when(ok, g(16)).alias("proto"),
        F.when(ok & (g(17) != ""), g(17)).alias("user_agent"),
        F.when(ok, F.round(total, 6)).alias("total_time_s"),
    )


_SSHD_RE = (
    r"^(\w{3} +\d+ \d\d:\d\d:\d\d) (\S+) sshd\[(\d+)\]: "
    r"(Failed|Accepted) (password|publickey) for (invalid user )?"
    r"(\S+) from (\d+\.\d+\.\d+\.\d+) port (\d+) ssh2"
)


def sshd_auth_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """OpenSSH auth.log parse (`Failed password for invalid user X
    from IP port P ssh2` / `Accepted publickey for Y ...`) — the
    canonical security log beside the repo's bruteforce/password-spray
    detectors; the reference tails it via its journald/file_log
    sources.

    Fields: syslog time string (year-free by the RFC 3164 grammar —
    emitted raw, not parsed to a timestamp), host, pid, outcome,
    auth method, the `invalid user` marker (user not in passwd),
    user, source ip, port.  One anchored regex, pure codegen.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _SSHD_RE)
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, g(1)).alias("log_time"),
        F.when(ok, g(2)).alias("host"),
        F.when(ok, g(3).cast("long")).alias("pid"),
        F.when(ok, g(4)).alias("outcome"),
        F.when(ok, g(5)).alias("auth_method"),
        F.when(ok, g(6) != "").alias("invalid_user"),
        F.when(ok, g(7)).alias("user"),
        F.when(ok, g(8)).alias("src_ip"),
        F.when(ok, g(9).cast("int")).alias("src_port"),
    )


_ENVOY_RE = (
    r'^\[(\S+)\] "(\S+) (\S+) (\S+)" (\d+) (\S+) (\d+) (\d+) '
    r'(\d+) (-|\d+) "([^"]*)" "([^"]*)" "([^"]*)" "([^"]*)" "([^"]*)"$'
)


def envoy_access_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Envoy default access-log format parse — the sidecar/gateway log
    the reference's discovery rules match for envoy/istio workloads:
    ``[START] "METHOD PATH PROTO" STATUS FLAGS BYTES_RECV BYTES_SENT
    DURATION UPSTREAM_MS "XFF" "UA" "REQ_ID" ":authority" "upstream"``.

    `-` upstream-service-time (no upstream contacted) parses NULL;
    ``upstream_frac`` = upstream_ms/duration_ms is the derived
    where-did-the-time-go signal (proxy overhead vs upstream).  One
    anchored regex, pure codegen, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _ENVOY_RE)
    dur = F.when(ok, g(9).cast("long"))
    ups = F.when(ok & (g(10) != "-"), g(10).cast("long"))
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, F.date_format(
            F.to_timestamp(g(1), "yyyy-MM-dd'T'HH:mm:ss.SSSX"),
            "yyyy-MM-dd HH:mm:ss",
        )).alias("rtime"),
        F.when(ok, g(2)).alias("method"),
        F.when(ok, g(3)).alias("path"),
        F.when(ok, g(4)).alias("proto"),
        F.when(ok, g(5).cast("int")).alias("status"),
        F.when(ok, g(6)).alias("resp_flags"),
        F.when(ok, g(7).cast("long")).alias("bytes_recv"),
        F.when(ok, g(8).cast("long")).alias("bytes_sent"),
        dur.alias("duration_ms"),
        ups.alias("upstream_ms"),
        F.when(ok & (g(11) != "-"), g(11)).alias("xff"),
        F.when(ok & (g(12) != "-"), g(12)).alias("user_agent"),
        F.when(ok, g(13)).alias("request_id"),
        F.when(ok, g(14)).alias("authority"),
        F.when(ok & (g(15) != "-"), g(15)).alias("upstream_host"),
        F.round(
            ups.cast("double") / F.nullif(dur.cast("double"), F.lit(0.0)),
            6,
        ).alias("upstream_frac"),
    )


_S3_RE = (
    r'^(\S+) (\S+) \[([^\]]+)\] (\d+\.\d+\.\d+\.\d+) (\S+) (\S+) '
    r'(\S+) (\S+) "(\S+) (\S+) (\S+)" (\d+) (\S+) (-|\d+) (-|\d+) '
    r'(\d+) (-|\d+) "([^"]*)" "([^"]*)"'
)


def s3_access_log_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Amazon S3 server-access-log parse — the object-store sibling
    of the ELB grammar: ``owner bucket [time] remote_ip requester
    request_id operation key "METHOD URI PROTO" status error_code
    bytes_sent object_size total_ms turnaround_ms "referer" "ua"``.

    `-` bytes/object-size/turnaround parse NULL (zero-byte or errored
    requests); first-byte latency = total - turnaround when both
    present.  One anchored regex, pure codegen, zero exchanges.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _S3_RE)
    num = lambda i: F.when(  # noqa: E731
        ok & (g(i) != "-"), g(i).cast("long")
    )
    total = F.when(ok, g(16).cast("long"))
    turn = num(17)
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, g(1)).alias("owner"),
        F.when(ok, g(2)).alias("bucket"),
        F.when(ok, F.date_format(
            F.to_timestamp(g(3), "dd/MMM/yyyy:HH:mm:ss Z"),
            "yyyy-MM-dd HH:mm:ss",
        )).alias("rtime"),
        F.when(ok, g(4)).alias("remote_ip"),
        F.when(ok, g(5)).alias("requester"),
        F.when(ok, g(6)).alias("request_id"),
        F.when(ok, g(7)).alias("operation"),
        F.when(ok, g(8)).alias("key"),
        F.when(ok, g(9)).alias("method"),
        F.when(ok, g(10)).alias("uri"),
        F.when(ok, g(12).cast("int")).alias("status"),
        F.when(ok & (g(13) != "-"), g(13)).alias("error_code"),
        num(14).alias("bytes_sent"),
        num(15).alias("object_size"),
        total.alias("total_ms"),
        turn.alias("turnaround_ms"),
        (total - turn).alias("first_byte_ms"),
        F.when(ok & (g(18) != "-"), g(18)).alias("referer"),
        F.when(ok & (g(19) != "-"), g(19)).alias("user_agent"),
    )


_AUDITD_RE = (
    r"^type=(\w+) msg=audit\((\d+)\.(\d+):(\d+)\): (.*)$"
)


def auditd_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Linux auditd record parse: ``type=SYSCALL
    msg=audit(1700000000.123:456): key=value ...`` — the security
    audit grammar beside sshd/journald; the envelope splits into
    record type, second-resolution timestamp, millis, and the
    per-boot serial, and the free-form tail yields the well-known
    keys (syscall, success, exit, uid, comm, exe) via anchored
    per-key extraction (the logfmt approach — no per-row Python).
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _AUDITD_RE)
    tail = g(5)

    def kv(key):
        pat = rf"(?:^| ){key}=([^ ]+)"
        has = tail.rlike(pat)
        return F.when(ok & has, F.regexp_extract(tail, pat, 1))

    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, g(1)).alias("record_type"),
        F.when(ok, g(2).cast("long")).alias("epoch_s"),
        F.when(ok, g(3).cast("int")).alias("millis"),
        F.when(ok, g(4).cast("long")).alias("serial"),
        kv("syscall").cast("int").alias("syscall"),
        kv("success").alias("success"),
        kv("exit").cast("int").alias("exit_code"),
        kv("uid").cast("long").alias("uid"),
        kv("comm").alias("comm"),
        kv("exe").alias("exe"),
        kv("key").alias("audit_key"),
    )


_PG_RE = (
    r"^(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d\.\d+ \w+) \[(\d+)\] "
    r"(\S+)@(\S+) (LOG|ERROR|WARNING|FATAL|STATEMENT|DETAIL):  (.*)$"
)
_PG_DUR = r"^duration: ([\d.]+) ms  statement: (.*)$"


def postgres_log_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """PostgreSQL stderr-format log parse (`log_line_prefix =
    '%m [%p] %u@%d '`): timestamp, backend pid, user@database,
    severity, and — for `duration: ... ms  statement: ...` lines —
    the query latency in ms plus the statement head (first keyword,
    uppercased), the input grammar for slow-query latency rollups.

    Envelope + duration regexes, both anchored; pure codegen.
    """
    line = F.col(line_col)
    g, ok = _one_pass_groups(line, _PG_RE)
    msg = g(6)
    has_dur = msg.rlike(_PG_DUR)
    stmt = F.regexp_extract(msg, _PG_DUR, 2)
    return df.select(
        "*",
        ok.alias("well_formed"),
        F.when(ok, F.substring(g(1), 1, 19)).alias("log_time"),
        F.when(ok, g(2).cast("long")).alias("pid"),
        F.when(ok, g(3)).alias("db_user"),
        F.when(ok, g(4)).alias("database"),
        F.when(ok, g(5)).alias("severity"),
        F.when(ok & has_dur,
               F.regexp_extract(msg, _PG_DUR, 1).cast("double"))
        .alias("duration_ms"),
        F.when(ok & has_dur,
               F.upper(F.regexp_extract(stmt, r"^(\w+)", 1)))
        .alias("statement_kind"),
        F.when(ok & ~has_dur, msg).alias("message"),
    )
