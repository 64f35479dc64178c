"""Prometheus text-exposition parser (lightprometheus semantics)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkcollector.operators.promparse import (
    parse_exposition,
    parse_histograms_delta,
)

DOC = """\
# HELP http_requests_total Total requests.
# TYPE http_requests_total counter
http_requests_total{method="get",code="200"} 1027
http_requests_total{method="post",code="400"} 3
# TYPE temperature gauge
temperature{site="a b",unit="c"} 23.5
bare_metric 42
broken line without value
# TYPE rpc_latency histogram
rpc_latency_bucket{le="0.1"} 5
rpc_latency_bucket{le="0.5"} 9
rpc_latency_bucket{le="1"} 9
rpc_latency_bucket{le="+Inf"} 12
rpc_latency_sum 7.7
rpc_latency_count 12
nan_metric NaN
"""


def _parsed(spark):
    df = spark.createDataFrame([(1, DOC)], ["doc_id", "body"])
    return parse_exposition(df)


def test_sample_parsing_and_types(spark):
    rows = {(r["metric"], tuple(sorted((r["labels"] or {}).items()))): r
            for r in _parsed(spark).collect()}
    r = rows[("http_requests_total", (("code", "200"), ("method", "get")))]
    assert r["mtype"] == "counter" and r["value"] == 1027.0
    r = rows[("temperature", (("site", "a b"), ("unit", "c")))]
    assert r["mtype"] == "gauge" and r["value"] == 23.5
    r = rows[("bare_metric", ())]
    assert r["mtype"] == "untyped" and r["value"] == 42.0
    # histogram children resolve to the family's declared type
    assert rows[("rpc_latency_sum", ())]["mtype"] == "histogram"
    assert rows[("rpc_latency_count", ())]["mtype"] == "histogram"


def test_comment_and_broken_lines_dropped(spark):
    metrics = {r["metric"] for r in _parsed(spark).collect()}
    assert "broken" not in metrics
    assert not any(m.startswith("#") for m in metrics)


def test_nan_value_survives(spark):
    nan_rows = [r for r in _parsed(spark).collect() if r["metric"] == "nan_metric"]
    assert len(nan_rows) == 1
    v = nan_rows[0]["value"]
    assert v is None or math.isnan(v)


def test_histogram_bucket_differencing(spark):
    df = spark.createDataFrame([(1, DOC)], ["doc_id", "body"])
    h = parse_histograms_delta(df).collect()
    assert len(h) == 1
    r = h[0]
    assert r["family"] == "rpc_latency"
    # cumulative [5, 9, 9, 12] -> deltas [5, 4, 0], +Inf dropped
    assert r["bucket_counts"] == [5, 4, 0]
    assert r["bounds"] == [0.1, 0.5, 1.0]


MULTI_SERIES_DOC = """\
# TYPE rpc_latency histogram
rpc_latency_bucket{method="GET",le="0.1"} 5
rpc_latency_bucket{method="GET",le="0.5"} 9
rpc_latency_bucket{method="GET",le="+Inf"} 12
rpc_latency_bucket{method="POST",le="0.1"} 1
rpc_latency_bucket{method="POST",le="0.5"} 2
rpc_latency_bucket{method="POST",le="+Inf"} 2
"""


def test_histogram_series_keyed_by_full_label_set(spark):
    """Two series of one family with different non-le labels must
    difference independently (the scraper keys series by the full
    label set minus le) — interleaving them would yield wrong or
    negative deltas."""
    df = spark.createDataFrame([(1, MULTI_SERIES_DOC)], ["doc_id", "body"])
    h = {r["series_key"]: r for r in parse_histograms_delta(df).collect()}
    assert set(h) == {"method=GET", "method=POST"}
    assert h["method=GET"]["bucket_counts"] == [5, 4]
    assert h["method=POST"]["bucket_counts"] == [1, 1]
    assert h["method=GET"]["bounds"] == [0.1, 0.5]
    assert h["method=GET"]["series_labels"] == {"method": "GET"}


def test_prw_type_by_convention_cases(spark):
    """Transcribed from prometheus_spec_utils.go:37-60 ordering."""
    from sparkcollector.operators.promparse import prw_type_by_convention

    rows = [
        # (metric, labels, expected)
        ("x_gsum", {"le": "1"}, "gaugehistogram"),
        ("x_gcount", {"le": "1"}, "gaugehistogram"),
        ("x", {"le": "1"}, "histogram"),
        ("x", {"quantile": "0.9"}, "summary"),
        ("x", {"x": "on"}, "stateset"),
        ("x_total", {}, "counter"),
        ("x_count", {}, "counter"),
        ("x_counter", {}, "counter"),
        ("x_created", {}, "counter"),
        ("x_bucket", {}, "histogram"),
        ("x_info", {}, "info"),
        ("x", {}, "gauge"),
        # ordering: le beats the _total suffix
        ("x_total", {"le": "1"}, "histogram"),
        # quantile beats stateset
        ("x", {"quantile": "0.5", "x": "on"}, "summary"),
    ]
    df = spark.createDataFrame(
        [(m, l) for m, l, _ in rows], "metric string, labels map<string,string>"
    )
    got = [
        r["t"]
        for r in df.select(
            prw_type_by_convention(F.col("metric"), F.col("labels")).alias("t")
        ).collect()
    ]
    assert got == [e for _, _, e in rows]


def test_prw_error_metrics_counts(spark):
    from sparkcollector.operators.promparse import prw_error_metrics

    df = spark.createDataFrame(
        [
            ("a", 1.0, 1),
            (None, 2.0, 1),          # missing name
            ("b", float("nan"), 1),  # NaN sample
            ("c", 3.0, 0),           # no samples
        ],
        "metric string, value double, n_samples int",
    )
    out = {r["metric"]: r["value"] for r in prw_error_metrics(df).collect()}
    assert out == {
        "prometheus.invalid_requests": 1,
        "prometheus.total_bad_datapoints": 1,
        "prometheus.total_NAN_samples": 1,
    }


def test_statsd_parse_grammar_and_rate_scaling(spark):
    from sparkcollector.operators.promparse import statsd_parse

    df = spark.createDataFrame(
        [
            ("api.hits:1|c|@0.25",),   # counter, rate-scaled -> 4
            ("api.hits:3|c",),         # counter, no rate -> 3
            ("temp:-2.5|g",),          # gauge, negative
            ("lat:120|ms",),           # timer
            ("not a metric",),         # malformed
        ],
        "line string",
    )
    got = {
        r["line"]: (r["metric"], r["mtype"], r["value"])
        for r in statsd_parse(df).collect()
    }
    assert got["api.hits:1|c|@0.25"] == ("api.hits", "c", 4.0)
    assert got["api.hits:3|c"] == ("api.hits", "c", 3.0)
    assert got["temp:-2.5|g"] == ("temp", "g", -2.5)
    assert got["lat:120|ms"] == ("lat", "ms", 120.0)
    assert got["not a metric"] == (None, None, None)


def test_carbon_parse_grammar(spark):
    from sparkcollector.operators.promparse import carbon_parse

    df = spark.createDataFrame(
        [
            ("sys.cpu.user;host=web1;dc=east 42.5 1704067200",),
            ("sys.cpu.user 7 1704067260",),      # no tags
            ("bogus",),                           # malformed
        ],
        "line string",
    )
    rows = {r["line"]: r for r in carbon_parse(df).collect()}
    tagged = rows["sys.cpu.user;host=web1;dc=east 42.5 1704067200"]
    assert tagged["metric"] == "sys.cpu.user"
    assert tagged["tags"] == {"host": "web1", "dc": "east"}
    assert tagged["value"] == 42.5
    assert tagged["ts_s"] == 1704067200
    plain = rows["sys.cpu.user 7 1704067260"]
    assert plain["metric"] == "sys.cpu.user" and plain["tags"] == {}
    assert rows["bogus"]["metric"] is None


def test_influx_line_parse_field_typing(spark):
    from sparkcollector.operators.promparse import influx_line_parse

    df = spark.createDataFrame(
        [
            ('cpu,host=a usage=0.5,cores=8i,up=t,note="hi" 1704067200000000000',),
            ("mem free=100",),               # no tags, no ts
            ("@@ nope",),                    # malformed
        ],
        "line string",
    )
    out = influx_line_parse(df).collect()
    cpu = {r["field"]: r for r in out if r["measurement"] == "cpu"}
    assert set(cpu) == {"usage", "cores", "up", "note"}
    assert cpu["usage"]["ftype"] == "float" and cpu["usage"]["dvalue"] == 0.5
    assert cpu["cores"]["ftype"] == "int" and cpu["cores"]["dvalue"] == 8.0
    assert cpu["up"]["ftype"] == "bool" and cpu["up"]["dvalue"] == 1.0
    assert cpu["note"]["ftype"] == "string" and cpu["note"]["svalue"] == "hi"
    assert cpu["cores"]["metric"] == "cpu_cores"
    assert cpu["usage"]["ts_ns"] == 1704067200000000000
    mem = [r for r in out if r["measurement"] == "mem"]
    assert len(mem) == 1 and mem[0]["ts_ns"] is None
    bad = [r for r in out if r["measurement"] is None]
    assert len(bad) == 1 and bad[0]["field"] is None


def test_hec_envelope_metric_vs_log_and_fractional_time(spark):
    from sparkcollector.operators.promparse import hec_envelope_parse

    df = spark.createDataFrame(
        [
            ('{"time":1704067200.123,"host":"web1","event":"metric",'
             '"fields":{"metric_name:cpu":"0.9","metric_name:mem":"512",'
             '"extra":"x"}}',),
            ('{"time":"1704067201","host":"web2","source":"s",'
             '"sourcetype":"st","event":"hello world"}',),
            ("not json",),
        ],
        "payload string",
    )
    out = hec_envelope_parse(df).collect()
    metrics = {r["metric"]: r for r in out if r["metric"] is not None}
    # only metric_name:* fields become datapoints; "extra" is dropped
    assert set(metrics) == {"cpu", "mem"}
    assert metrics["cpu"]["value"] == 0.9
    assert abs(metrics["cpu"]["time"] - 1704067200.123) < 1e-9
    logs = [r for r in out if r["metric"] is None and r["host"] is not None]
    assert len(logs) == 1
    assert logs[0]["event"] == "hello world"
    assert logs[0]["time"] == 1704067201.0  # string time accepted
    bad = [r for r in out if r["host"] is None]
    assert len(bad) == 1 and bad[0]["event"] is None


def test_collectd_parse_multi_record_and_dstypes(spark):
    from sparkcollector.operators.promparse import collectd_parse

    payload = (
        '[{"values":[1,2],"dstypes":["counter","derive"],'
        '"dsnames":["read","write"],"time":100.5,"interval":10,'
        '"host":"h1","plugin":"disk","plugin_instance":"sda",'
        '"type":"disk_octets","type_instance":""},'
        '{"values":[3],"dstypes":["absolute"],"dsnames":["value"],'
        '"time":101,"interval":10,"host":"h1","plugin":"uptime",'
        '"plugin_instance":"","type":"uptime","type_instance":""}]'
    )
    df = spark.createDataFrame([(payload,), ("garbage",)], "payload string")
    out = collectd_parse(df).collect()
    named = {r["metric"]: r for r in out if r["metric"] is not None}
    assert set(named) == {
        "disk.disk_octets.read", "disk.disk_octets.write", "uptime.uptime"
    }
    assert named["disk.disk_octets.read"]["mtype"] == "cumulative"
    assert named["disk.disk_octets.write"]["mtype"] == "cumulative"
    assert named["uptime.uptime"]["mtype"] == "delta"  # absolute
    assert named["uptime.uptime"]["plugin_instance"] is None
    assert named["disk.disk_octets.read"]["time_s"] == 100.5
    bad = [r for r in out if r["metric"] is None]
    assert len(bad) == 1 and bad[0]["value"] is None


def test_syslog_parse_rfc5424(spark):
    from sparkcollector.operators.promparse import syslog_parse

    df = spark.createDataFrame(
        [
            ("<165>1 2024-01-01T00:00:00Z web1 app 123 ID9 - hi there",),
            ("<13>1 2024-01-01T00:00:01Z - - - - [x@1 k=\"v\"] msg",),
            ("trash",),
        ],
        "line string",
    )
    rows = syslog_parse(df).collect()
    full = next(r for r in rows if r["pri"] == 165)
    assert (full["facility"], full["severity"]) == (20, 5)
    assert full["severity_text"] == "notice"
    assert full["host"] == "web1" and full["procid"] == "123"
    assert full["sd"] is None and full["msg"] == "hi there"
    nils = next(r for r in rows if r["pri"] == 13)
    assert nils["severity_text"] == "notice"
    assert nils["host"] is None and nils["app"] is None
    assert nils["sd"] == '[x@1 k="v"]' and nils["msg"] == "msg"
    bad = next(r for r in rows if r["pri"] is None)
    assert bad["msg"] is None


def test_journald_parse_priority_and_sparse(spark):
    from sparkcollector.operators.promparse import journald_parse

    df = spark.createDataFrame(
        [
            ('{"__REALTIME_TIMESTAMP":"1704067200000000","PRIORITY":"3",'
             '"_HOSTNAME":"h1","_SYSTEMD_UNIT":"ssh.service",'
             '"MESSAGE":"boom"}',),
            ('{"MESSAGE":"no priority"}',),
            ("bad",),
        ],
        "payload string",
    )
    rows = {r["message"]: r for r in journald_parse(df).collect()}
    assert rows["boom"]["priority"] == 3
    assert rows["boom"]["severity_text"] == "err"
    assert rows["boom"]["ts_us"] == 1704067200000000
    assert rows["no priority"]["priority"] is None
    assert rows["no priority"]["severity_text"] is None
    assert None in rows  # malformed row surfaces with NULL message


def test_wavefront_parse_tags_and_optional_ts(spark):
    from sparkcollector.operators.promparse import wavefront_parse

    df = spark.createDataFrame(
        [
            ('cpu.load 0.5 1704067200 source=web1 env="prod" dc="east"',),
            ("mem.free 12 source=web2",),
            ("not wavefront",),
        ],
        "line string",
    )
    rows = {r["metric"]: r for r in wavefront_parse(df).collect()}
    cpu = rows["cpu.load"]
    assert cpu["value"] == 0.5 and cpu["ts_s"] == 1704067200
    assert cpu["source"] == "web1"
    assert cpu["tags"] == {"env": "prod", "dc": "east"}
    mem = rows["mem.free"]
    assert mem["ts_s"] is None and mem["tags"] == {}
    assert None in rows


def test_json_schema_infer_types(spark):
    from sparkcollector.operators.promparse import json_schema_infer

    df = spark.createDataFrame(
        [
            ('{"n":1,"f":2.5,"b":true,"s":"x","z":null}',),
            ('{"n":7,"s":"y"}',),
            ("not json",),
        ],
        "props string",
    )
    got = {r["key"]: r for r in json_schema_infer(df).collect()}
    assert got["n"]["n_int"] == 2 and got["n"]["presence_share"] == 1.0
    assert got["f"]["n_float"] == 1 and got["f"]["presence_share"] == 0.5
    assert got["b"]["n_bool"] == 1
    assert got["s"]["n_string"] == 2
    assert got["z"]["n_null"] == 1


def test_traceparent_parse_spec_cases(spark):
    from sparkcollector.operators.promparse import traceparent_parse

    tid = "4bf92f3577b34da6a3ce929d0e0e4736"
    pid = "00f067aa0ba902b7"
    rows = [
        (1, f"00-{tid}-{pid}-01"),          # valid, sampled
        (2, f"00-{tid}-{pid}-00"),          # valid, not sampled
        (3, f"00-{tid}-{pid}-03"),          # bit 0 of 0x03 -> sampled
        (4, f"ff-{tid}-{pid}-01"),          # forbidden version
        (5, f"00-{'0' * 32}-{pid}-01"),     # zero trace id
        (6, f"00-{tid}-{'0' * 16}-01"),     # zero parent id
        (7, f"00-{tid.upper()}-{pid}-01"),  # uppercase hex = malformed
        (8, "garbage"),
    ]
    df = spark.createDataFrame(rows, "event_id long, header string")
    got = {r["event_id"]: r for r in traceparent_parse(df).collect()}
    assert got[1]["sampled"] is True and got[1]["error"] is None
    assert got[1]["trace_id"] == tid and got[1]["parent_id"] == pid
    assert got[2]["sampled"] is False
    assert got[3]["sampled"] is True            # bit test, not == '01'
    assert got[4]["error"] == "bad_version" and got[4]["trace_id"] is None
    assert got[5]["error"] == "zero_trace_id"
    assert got[6]["error"] == "zero_parent_id"
    assert got[7]["error"] == "malformed"
    assert got[8]["error"] == "malformed" and got[8]["sampled"] is None


def test_syslog3164_parse_grammar(spark):
    from sparkcollector.operators.promparse import syslog3164_parse

    rows = [
        (1, "<13>Feb  5 17:32:18 web-1 su[1024]: 'su root' failed"),
        (2, "<165>Oct 11 22:14:15 mymachine app-2: event started"),
        (3, "<199>Jan  1 00:00:00 h x: pri out of range"),
        (4, "totally not syslog"),
    ]
    df = spark.createDataFrame(rows, "event_id long, line string")
    got = {r["event_id"]: r for r in syslog3164_parse(df).collect()}
    r1 = got[1]
    assert r1["pri"] == 13 and r1["facility"] == 1 and r1["severity"] == 5
    assert r1["severity_text"] == "notice"
    assert r1["month"] == 2 and r1["day"] == 5          # space-padded day
    assert r1["time_text"] == "17:32:18"
    assert r1["host"] == "web-1" and r1["app"] == "su" and r1["pid"] == 1024
    assert r1["msg"] == "'su root' failed"
    r2 = got[2]
    assert r2["facility"] == 20 and r2["severity"] == 5
    assert r2["pid"] is None and r2["app"] == "app-2"
    assert got[3]["pri"] is None                        # PRI > 191 invalid
    assert got[4]["pri"] is None and got[4]["msg"] is None


def test_cef_parse_header_and_extension(spark):
    from sparkcollector.operators.promparse import cef_parse

    rows = [
        (1, "CEF:0|SecCo|FW1|1.2|sig-9|port scan detected|7|"
            "src=10.0.0.5 dst=10.1.0.9 spt=2048 act=allowed in"),
        (2, "CEF:1|V|P|v|s|n|3|act=deny"),
        (3, "garbage"),
    ]
    df = spark.createDataFrame(rows, "event_id long, line string")
    got = {r["event_id"]: r for r in cef_parse(df).collect()}
    r1 = got[1]
    assert r1["cef_version"] == 0 and r1["vendor"] == "SecCo"
    assert r1["signature_id"] == "sig-9" and r1["severity"] == 7
    assert r1["name"] == "port scan detected"
    assert r1["ext_src"] == "10.0.0.5" and r1["ext_spt"] == "2048"
    assert r1["ext_act"] == "allowed in"      # space kept in last value
    r2 = got[2]
    assert r2["cef_version"] == 1 and r2["ext_act"] == "deny"
    assert r2["ext_src"] is None              # absent key -> NULL
    assert got[3]["cef_version"] is None and got[3]["ext_act"] is None


def test_ltsv_parse_open_schema(spark):
    from sparkcollector.operators.promparse import ltsv_parse

    rows = [
        (1, "host:web1\tstatus:200\tsize:512\tref:http://a/b:443"),
        (2, "host:web2\tstatus:404"),          # size/ref absent
        (3, "no tabs or labels here"),
    ]
    df = spark.createDataFrame(rows, "event_id long, line string")
    got = {r["event_id"]: r for r in
           ltsv_parse(df, keys=("host", "status", "size", "ref")).collect()}
    r1 = got[1]
    assert r1["n_fields"] == 4 and r1["f_host"] == "web1"
    assert r1["f_size"] == "512"
    assert r1["f_ref"] == "http://a/b:443"     # colon inside value kept
    r2 = got[2]
    assert r2["n_fields"] == 2 and r2["f_size"] is None
    assert got[3]["n_fields"] == 0 and got[3]["f_host"] is None


def test_logfmt_parse_quoted_bare_missing(spark):
    from sparkcollector.operators.promparse import logfmt_parse

    rows = [
        (1, 'level=info msg="hello world" status=200 flag'),
        (2, 'level=error status=500 dur=1.25'),
        (3, 'garbage line'),
        (4, 'msg=""'),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in logfmt_parse(
        df, "line", keys=("level", "msg", "status", "dur")).collect()}
    assert got[1]["f_msg"] == "hello world"      # quoted value keeps space
    assert got[1]["f_status"] == "200"
    assert got[1]["n_pairs"] == 3                # bare flag is not a pair
    assert got[2]["f_dur"] == "1.25"
    assert got[2]["f_msg"] is None               # absent key -> NULL
    assert got[3]["n_pairs"] == 0
    assert got[4]["f_msg"] == ""                 # empty quoted value


def test_apache_clf_parse_combined_common_malformed(spark):
    from sparkcollector.operators.promparse import apache_clf_parse

    rows = [
        (1, '10.0.0.7 - alice [12/Jan/2024:03:04:05 +0000] '
            '"GET /a/7 HTTP/1.1" 200 512 "http://r/x" "curl/8"'),
        (2, '10.0.0.8 - - [12/Jan/2024:03:04:06 +0000] '
            '"POST /b HTTP/1.0" 404 -'),
        (3, 'not a log line'),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in apache_clf_parse(df, "line").collect()}
    assert got[1]["host"] == "10.0.0.7"
    assert got[1]["rtime"] == "2024-01-12 03:04:05"
    assert got[1]["status"] == 200 and got[1]["bytes_sent"] == 512
    assert got[1]["referer"] == "http://r/x"
    assert got[2]["bytes_sent"] is None          # '-' -> NULL
    assert got[2]["user_agent"] is None          # common format -> NULL tail
    assert got[2]["method"] == "POST"
    assert not got[3]["well_formed"]
    assert got[3]["host"] is None


def test_gelf_parse_levels_and_gates(spark):
    from sparkcollector.operators.promparse import gelf_parse

    rows = [
        (1, '{"version":"1.1","host":"h1","short_message":"boom",'
            '"timestamp":1704067200.123,"level":3,"_tool":"bash"}'),
        (2, '{"version":"1.1","host":"h2","short_message":"ok",'
            '"timestamp":1.5,"level":6}'),
        (3, 'not json'),
        (4, '{"host":"h3"}'),          # missing required fields
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in gelf_parse(df, "line").collect()}
    assert got[1]["severity_text"] == "err" and got[1]["tool"] == "bash"
    assert got[1]["ts_s"] == 1704067200.123
    assert got[2]["severity_text"] == "info" and got[2]["tool"] is None
    assert not got[3]["well_formed"]
    assert not got[4]["well_formed"] and got[4]["host"] is None


def test_syslog_sd_params_element_scoping(spark):
    from sparkcollector.operators.promparse import syslog_sd_params

    rows = [
        (1, '[meta seq="7" src="s1"]'),
        (2, '[meta seq="8"][other src="WRONG"]'),   # src scoped per element
        (3, '[other k="v"]'),                       # no meta element
        (4, None),                                  # NILVALUE
        (5, '[meta seq="9" src="s2"][audit a="b"][x y="z"]'),
    ]
    df = spark.createDataFrame(rows, "id long, sd string")
    got = {r["id"]: r for r in
           syslog_sd_params(df, "sd", "meta", ("seq", "src")).collect()}
    assert got[1]["sd_seq"] == "7" and got[1]["sd_src"] == "s1"
    assert got[1]["n_sd_elements"] == 1 and got[1]["has_element"]
    # RFC 5424 6.3.2: param names scope to their element — the 'src'
    # in [other ...] must NOT leak into the meta extraction.
    assert got[2]["sd_seq"] == "8" and got[2]["sd_src"] is None
    assert got[2]["n_sd_elements"] == 2
    assert got[3]["has_element"] is False and got[3]["sd_seq"] is None
    assert got[4]["n_sd_elements"] is None and got[4]["has_element"] is None
    assert got[5]["n_sd_elements"] == 3 and got[5]["sd_src"] == "s2"


def test_csv_parse_typed_quoting_and_coercion(spark):
    from sparkcollector.operators.promparse import csv_parse_typed

    rows = [
        (1, 'web1,200,1024,"hello, world"'),   # quoted delimiter
        (2, "web2,404,0,plain"),
        (3, "web3,notanint,5,x"),              # uncoercible required field
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in csv_parse_typed(df, "line").collect()}
    assert got[1]["c_msg"] == "hello, world" and got[1]["c_bytes"] == 1024
    assert got[1]["c_status"] == 200 and got[1]["well_formed"]
    assert got[2]["c_host"] == "web2"
    assert not got[3]["well_formed"] and got[3]["c_host"] is None


def test_stack_trace_fingerprint_parse_and_grouping(spark):
    from sparkcollector.operators.promparse import stack_trace_fingerprint

    t1 = ("java.lang.IllegalStateException: boom 42\n"
          "\tat com.acme.Engine.run(Engine.java:12)\n"
          "\tat java.base/java.lang.Thread.run(Thread.java:829)")
    t2 = ("java.lang.IllegalStateException: boom 99\n"
          "\tat com.acme.Engine.run(Engine.java:77)\n"
          "\tat java.base/java.lang.Thread.run(Thread.java:829)\n"
          "Caused by: java.net.SocketTimeoutException: t/o\n"
          "\tat com.acme.Net.poll(Net.java:7)")
    t3 = "just an info line"
    t4 = ("com.x.OtherError\n"
          "\tat a.B.c(B.java:1)")          # headerless message
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3), (4, t4)], "id long, trace string"
    )
    got = {r["id"]: r for r in stack_trace_fingerprint(df).collect()}
    assert got[1]["exc_class"] == "java.lang.IllegalStateException"
    assert got[1]["exc_msg"] == "boom 42"
    assert got[1]["top_method"] == "com.acme.Engine.run"
    assert got[1]["top_loc"] == "Engine.java:12"
    assert got[1]["n_frames"] == 2 and got[1]["n_causes"] == 0
    # same crash site, different message/line -> SAME fingerprint
    assert got[1]["fingerprint"] == got[2]["fingerprint"]
    assert got[2]["n_frames"] == 3 and got[2]["n_causes"] == 1
    assert not got[3]["well_formed"] and got[3]["fingerprint"] is None
    assert got[4]["well_formed"] and got[4]["exc_msg"] is None
    assert got[4]["fingerprint"] != got[1]["fingerprint"]


def test_w3c_extlog_parse_per_file_field_order(spark):
    from sparkcollector.operators.promparse import w3c_extlog_parse

    rows = [
        ("x.log", 0, "#Software: IIS"),
        ("x.log", 1, "#Fields: date c-ip sc-status"),
        ("x.log", 2, "2024-01-12 10.0.0.1 200"),
        ("x.log", 3, "2024-01-12 10.0.0.2 -"),      # '-' -> NULL
        ("x.log", 4, "2024-01-12 10.0.0.3"),        # arity mismatch
        ("y.log", 1, "#Fields: sc-status c-ip"),    # reversed order
        ("y.log", 2, "404 10.0.0.9"),
        ("z.log", 1, "1 2 3"),                      # no directive at all
    ]
    df = spark.createDataFrame(rows, "file string, line_no long, line string")
    out = w3c_extlog_parse(df, fields=("c-ip", "sc-status"))
    got = {(r["file"], r["line_no"]): r for r in out.collect()}
    assert len(got) == 5                             # directives excluded
    assert got[("x.log", 2)]["f_c_ip"] == "10.0.0.1"
    assert got[("x.log", 2)]["f_sc_status"] == "200"
    assert got[("x.log", 3)]["f_sc_status"] is None  # W3C null sentinel
    assert not got[("x.log", 4)]["well_formed"]
    # same field, different position in y.log
    assert got[("y.log", 2)]["f_c_ip"] == "10.0.0.9"
    assert got[("y.log", 2)]["f_sc_status"] == "404"
    assert not got[("z.log", 1)]["well_formed"]


def test_uuid7_parse_skew_and_gates(spark):
    from sparkcollector.operators.promparse import uuid7_parse

    # 2024-01-12T03:04:05Z = 1705028645000 ms = 0x18cfba07088
    rows = [
        (1, "018cfba0-7088-7abc-8def-0123456789ab", "2024-01-12 03:04:05"),
        (2, "018cfba0-7088-4abc-8def-0123456789ab", "2024-01-12 03:04:05"),
        (3, "018CFBA0-7088-7ABC-9DEF-0123456789AB", "2024-01-12 03:04:05"),
        (4, "garbage", "2024-01-12 03:04:05"),
        # id minted 100s later than the record -> skew flag
        (5, "018cfba1-f728-7abc-8def-0123456789ab", "2024-01-12 03:04:05"),
    ]
    df = spark.createDataFrame(rows, "id2 long, id string, tss string")
    df = df.withColumn("ts", df["tss"].cast("timestamp"))
    got = {r["id2"]: r for r in
           uuid7_parse(df, "id", "ts", skew_ms=60000).collect()}
    assert got[1]["uuid_ms"] == 1705028645000
    assert got[1]["skew_ms_obs"] == 0 and got[1]["skew_flag"] is False
    assert not got[2]["well_formed"]          # version nibble 4
    assert got[3]["well_formed"]              # case-insensitive
    assert not got[4]["well_formed"]
    assert got[5]["skew_ms_obs"] == 100000 and got[5]["skew_flag"]


def test_zipkin_span_parse_ids_and_units(spark):
    from sparkcollector.operators.promparse import zipkin_span_parse

    rows = [
        (1, '{"traceId":"00f067aa0ba902b7","id":"00f067aa0ba902b7",'
            '"name":"get","kind":"SERVER","timestamp":1704067200123456,'
            '"duration":1500,"localEndpoint":{"serviceName":"api"},'
            '"tags":{"error":"true"}}'),
        (2, '{"traceId":"4bf92f3577b34da6a3ce929d0e0e4736",'
            '"id":"00f067aa0ba902b7","timestamp":7}'),   # root, no dur
        (3, '{"traceId":"XYZ","id":"00f067aa0ba902b7","timestamp":7}'),
        (4, 'nope'),
    ]
    df = spark.createDataFrame(rows, "id2 long, line string")
    got = {r["id2"]: r for r in zipkin_span_parse(df).collect()}
    assert got[1]["trace_id"] == "0" * 16 + "00f067aa0ba902b7"  # padded
    assert got[1]["start_ms"] == 1704067200123
    assert got[1]["duration_ms"] == 1.5 and got[1]["error"]
    assert got[2]["trace_id"] == "4bf92f3577b34da6a3ce929d0e0e4736"
    assert got[2]["parent_id"] is None and got[2]["duration_ms"] is None
    assert got[2]["error"] is False
    assert not got[3]["well_formed"] and not got[4]["well_formed"]


def test_go_duration_parse_grammar(spark):
    from sparkcollector.operators.promparse import go_duration_parse

    rows = [
        (1, "1h30m"),
        (2, "2.5s"),
        (3, "-45ms"),
        (4, "300us"),
        (5, "0"),
        (6, "1.5h2m"),           # fraction in a leading segment
        (7, "5 hours"),          # malformed
        (8, "10"),               # number without unit (and not "0")
    ]
    df = spark.createDataFrame(rows, "id long, dur string")
    got = {r["id"]: r for r in go_duration_parse(df).collect()}
    assert got[1]["ns"] == 5_400_000_000_000 and got[1]["n_segments"] == 2
    assert got[2]["ns"] == 2_500_000_000
    assert got[3]["ns"] == -45_000_000
    assert got[4]["ns"] == 300_000
    assert got[5]["ns"] == 0 and got[5]["n_segments"] == 0
    assert got[6]["ns"] == 5_400_000_000_000 + 120_000_000_000
    assert not got[7]["well_formed"] and got[7]["ns"] is None
    assert not got[8]["well_formed"]


def test_cookie_parse_attrs_and_case(spark):
    from sparkcollector.operators.promparse import cookie_parse

    rows = [
        (1, "sid=abc123; Path=/; Domain=x.io; Max-Age=3600; Secure; "
            "HttpOnly; SameSite=Strict"),
        (2, "token=a=b=c; path=/app; SECURE"),     # '=' in value, casing
        (3, "plain=v"),
        (4, "not a cookie"),
    ]
    df = spark.createDataFrame(rows, "id long, header string")
    got = {r["id"]: r for r in cookie_parse(df).collect()}
    assert got[1]["cookie_name"] == "sid" and got[1]["max_age"] == 3600
    assert got[1]["secure"] and got[1]["http_only"]
    assert got[1]["same_site"] == "strict"
    assert got[2]["cookie_value"] == "a=b=c"       # first '=' splits
    assert got[2]["path"] == "/app" and got[2]["secure"]
    assert got[3]["secure"] is False and got[3]["path"] is None
    assert not got[4]["well_formed"]


def test_gc_pause_parse_kinds_and_cause(spark):
    from sparkcollector.operators.promparse import gc_pause_parse

    rows = [
        (1, "GC(7) Pause Young (Normal) (G1 Evacuation Pause) "
            "512M->128M(1024M) 12.345ms"),
        (2, "GC(8) Pause Full (System.gc()) 900M->200M(1024M) 250.0ms"),
        (3, "GC(9) Pause Remark 512M->512M(1024M) 1.5ms"),
        (4, "application log line"),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in gc_pause_parse(df).collect()}
    assert got[1]["kind"] == "Young"
    assert got[1]["cause"] == "G1 Evacuation Pause"   # LAST paren group
    assert got[1]["reclaimed_mb"] == 384
    assert got[1]["pause_ms"] == 12.345
    assert got[2]["cause"] == "System.gc()"           # nested parens
    assert got[2]["gc_id"] == 8
    assert got[3]["cause"] is None and got[3]["kind"] == "Remark"
    assert not got[4]["well_formed"]


def test_jstack_parse_states_and_lock(spark):
    from sparkcollector.operators.promparse import jstack_parse

    b1 = ('"http-1" #42 daemon prio=5 os_prio=0 tid=0x7f nid=0x1 waiting\n'
          "   java.lang.Thread.State: BLOCKED (on object monitor)\n"
          "\tat com.x.Svc.get(Svc.java:9)\n"
          "\t- waiting to lock <0x0000abcd> (a java.lang.Object)")
    b2 = ('"main" #1 prio=5 os_prio=0 tid=0x1 nid=0x2 runnable\n'
          "   java.lang.Thread.State: RUNNABLE\n"
          "\tat com.x.Main.run(Main.java:3)")
    rows = [(1, b1), (2, b2), (3, "gc log noise")]
    df = spark.createDataFrame(rows, "id long, blob string")
    got = {r["id"]: r for r in jstack_parse(df).collect()}
    assert got[1]["thread_name"] == "http-1" and got[1]["thread_id"] == 42
    assert got[1]["daemon"] and got[1]["state"] == "BLOCKED"
    assert got[1]["state_detail"] == "on object monitor"
    assert got[1]["lock_addr"] == "0x0000abcd"
    assert got[2]["daemon"] is False and got[2]["state"] == "RUNNABLE"
    assert got[2]["state_detail"] is None and got[2]["lock_addr"] is None
    assert got[2]["top_method"] == "com.x.Main.run"
    assert not got[3]["well_formed"]


def test_grok_parse_types_and_gate(spark):
    from sparkcollector.operators.promparse import grok_compile, grok_parse

    df = spark.createDataFrame(
        [(1, "10.0.0.1 GET /api/x 12.5 INFO all good"),
         (2, "not an access line")],
        "id long, line string",
    )
    out = grok_parse(
        df, "line",
        "%{IP:client} %{WORD:method} %{URIPATH:path} "
        "%{NUMBER:lat:float} %{LOGLEVEL:lvl} %{GREEDYDATA:rest}",
    )
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["g_client"] == "10.0.0.1" and got[1]["g_lat"] == 12.5
    assert got[1]["g_rest"] == "all good"
    assert not got[2]["well_formed"] and got[2]["g_client"] is None
    # unnamed tokens are non-capturing; unknown syntax raises
    rx, fields = grok_compile("%{IP} %{INT:code:int}")
    assert fields == [("code", "int")]
    import pytest as _pt
    with _pt.raises(ValueError):
        grok_compile("%{NOPE:x}")


def test_xmlkv_parse_attrs_elements_gate(spark):
    from sparkcollector.operators.promparse import xmlkv_parse

    rows = [
        (1, '<event id="7" type="error"><host>h1</host><dur>9</dur>'
            "</event>"),
        (2, '<event id="8" type="view"/>'),
        (3, "junk <<<"),
        (4, '<event type="x"><other>y</other></event>'),  # missing attr
    ]
    df = spark.createDataFrame(rows, "id long, xml string")
    got = {r["id"]: r for r in xmlkv_parse(df).collect()}
    assert got[1]["a_id"] == "7" and got[1]["a_type"] == "error"
    assert got[1]["e_host"] == "h1" and got[1]["n_children"] == 2
    assert got[2]["n_children"] == 0 and got[2]["e_host"] is None
    assert not got[3]["well_formed"] and got[3]["a_id"] is None
    assert got[4]["a_id"] == "" and got[4]["e_host"] is None


def test_xmlkv_kernel_skips_false_and_null_gates():
    import numpy as np
    import pandas as pd

    from sparkcollector.operators.promparse import _xmlkv_kernel

    kern = _xmlkv_kernel("event", ("id", "type"), ("host",))
    xml = pd.Series(['<event id="7" type="t"><host>h</host></event>'] * 4)
    parsed = {"a_id": "7", "a_type": "t", "e_host": "h", "n_children": 1}
    skipped = dict.fromkeys(parsed)
    for ok in (
        pd.Series([True, pd.NA, False, True], dtype="boolean"),
        pd.Series([np.True_, None, np.False_, np.True_], dtype=object),
        pd.Series([True, False, False, True]),
    ):
        got = kern(xml, ok)
        got = got.astype(object).where(got.notna(), None)
        assert got.to_dict("records") == [parsed, skipped, skipped, parsed]


def test_docker_json_parse_fields_and_deadletter(spark):
    from sparkcollector.operators.promparse import docker_json_parse

    rows = [
        (1, '{"log":"hello world\\n","stream":"stdout",'
            '"time":"2024-01-01T00:00:01.123456789Z"}'),
        (2, '{"log":"oops","stream":"stderr",'
            '"time":"2024-01-01T00:00:02Z"}'),
        (3, "not json at all"),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in docker_json_parse(df, "line").collect()}
    assert got[1]["log"] == "hello world" and got[1]["stream"] == "stdout"
    # nanoseconds truncated to microseconds, not rounded
    assert got[1]["log_ts"].microsecond == 123456
    assert got[2]["log"] == "oops" and got[2]["log_ts"].second == 2
    assert got[3]["log"] is None and got[3]["log_ts"] is None


def test_leef_parse_header_attrs_and_malformed(spark):
    from sparkcollector.operators.promparse import leef_parse

    rows = [
        (1, "LEEF:2.0|IBM|QRadar|9.1|FanSpeed|src=1.2.3.4\tdst=5.6.7.8"
            "\tusrName=alice smith\tsev=9"),
        (2, "LEEF:1.0|V|P|1|E|sev=3"),
        (3, "totally not leef"),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in leef_parse(df, "line").collect()}
    assert got[1]["leef_version"] == "2.0" and got[1]["vendor"] == "IBM"
    assert got[1]["attr_usrName"] == "alice smith"  # spaces survive
    assert got[1]["attr_src"] == "1.2.3.4" and got[1]["attr_sev"] == "9"
    assert got[2]["event_id_leef"] == "E" and got[2]["attr_src"] is None
    assert got[3]["leef_version"] is None


def test_klog_parse_fields_and_malformed(spark):
    from sparkcollector.operators.promparse import klog_parse

    rows = [
        (1, "I0820 04:05:06.123456   12345 controller.go:123] synced ok"),
        (2, "E1231 23:59:59.000001 7 main.go:1] boom"),
        (3, "not klog"),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in klog_parse(df, "line").collect()}
    assert got[1]["klog_severity"] == "INFO"
    assert got[1]["klog_mmdd"] == "0820" and got[1]["klog_pid"] == 12345
    assert got[1]["klog_file"] == "controller.go" and got[1]["klog_line"] == 123
    assert got[1]["klog_msg"] == "synced ok"
    assert got[2]["klog_severity"] == "ERROR" and got[2]["klog_pid"] == 7
    assert got[3]["klog_severity"] is None


def test_haproxy_parse_timers_and_malformed(spark):
    from sparkcollector.operators.promparse import haproxy_parse

    rows = [
        (1, '1.2.3.4:5000 [20/Aug/2026:04:05:06.123] ft api/s1 '
            '0/1/2/30/33 200 1234 "GET /health HTTP/1.1"'),
        (2, '9.8.7.6:1 [20/Aug/2026:04:05:07.000] ft api/s2 '
            '-1/-1/-1/-1/5 503 0 "POST /pay HTTP/1.1"'),
        (3, "garbage"),
    ]
    df = spark.createDataFrame(rows, "id long, line string")
    got = {r["id"]: r for r in haproxy_parse(df, "line").collect()}
    assert got[1]["hap_backend"] == "api" and got[1]["hap_server"] == "s1"
    assert got[1]["hap_tt"] == 33 and got[1]["hap_status"] == 200
    assert got[1]["hap_method"] == "GET" and got[1]["hap_path"] == "/health"
    assert got[2]["hap_tq"] == -1 and got[2]["hap_status"] == 503
    assert got[3]["hap_status"] is None


def test_sql_fingerprint_collapses_literals(spark):
    from sparkcollector.operators.promparse import sql_fingerprint

    rows = [
        (1, "SELECT * FROM t WHERE a = 42 AND b = 'x''y' AND c IN (1, 2, 3)"),
        (2, "select  id   from t where ts > 1700000000.5"),
    ]
    df = spark.createDataFrame(rows, "id long, q string")
    got = {r["id"]: r["sql_template"] for r in sql_fingerprint(df, "q").collect()}
    assert got[1] == "SELECT * FROM t WHERE a = ? AND b = ? AND c IN (?)"
    assert got[2] == "select id from t where ts > ?"


def test_user_agent_ladder_order(spark):
    from sparkcollector.operators.promparse import user_agent_parse

    rows = [
        (1, "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36 Edg/120.0"),
        (2, "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36"),
        (3, "Googlebot/2.1 (+http://www.google.com/bot.html)"),
        (4, "weird client 1.0"),
    ]
    df = spark.createDataFrame(rows, "id long, ua string")
    got = {r["id"]: r for r in user_agent_parse(df, "ua").collect()}
    assert got[1]["ua_browser"] == "edge"      # Edg wins over Chrome
    assert got[2]["ua_browser"] == "chrome"    # Chrome wins over Safari
    assert got[3]["ua_is_bot"] and got[3]["ua_browser"] == "bot"
    assert got[4]["ua_browser"] == "other" and not got[4]["ua_is_bot"]


def test_stacktrace_group_normalizes_line_numbers(spark):
    from sparkcollector.operators.reassembly import stacktrace_group

    t1 = ("com.app.FooException: boom\n"
          "\tat com.app.A.run(A.java:10)\n"
          "\tat com.app.B.call(B.java:20)")
    t2 = ("com.app.FooException: different msg\n"
          "\tat com.app.A.run(A.java:99)\n"
          "\tat com.app.B.call(B.java:7)")
    t3 = ("com.app.FooException: boom\n"
          "\tat com.app.C.other(C.java:10)\n"
          "\tat com.app.B.call(B.java:20)")
    out = stacktrace_group(
        spark.createDataFrame([(t1,), (t2,), (t3,)], ["record"]), "record"
    ).collect()
    fps = [r["fingerprint"] for r in out]
    # same frames, different line numbers and message -> same group
    assert fps[0] == fps[1]
    # different call path -> different group
    assert fps[2] != fps[0]
    assert out[0]["top_frame"] == "com.app.A.run(A.java)"


def test_stacktrace_group_root_cause_and_malformed(spark):
    from sparkcollector.operators.reassembly import stacktrace_group

    chained = ("com.app.WrapError: outer\n"
               "\tat com.app.A.run(A.java:1)\n"
               "Caused by: java.io.IOException: mid\n"
               "\tat com.app.B.io(B.java:2)\n"
               "Caused by: java.net.SocketException: inner\n"
               "\tat com.app.C.net(C.java:3)")
    rows = stacktrace_group(
        spark.createDataFrame(
            [(chained,), ("not a stack trace at all",)], ["record"]
        ),
        "record",
    ).collect()
    # root cause = LAST Caused-by in the chain
    assert rows[0]["root_cause"] == "java.net.SocketException"
    assert rows[0]["exc_class"] == "com.app.WrapError"
    # chained frames participate in the fingerprint (Sentry behavior)
    assert rows[0]["fingerprint"] is not None
    # malformed record: no exception header -> NULL fingerprint, and
    # root_cause falls back to exc_class (NULL here)
    assert rows[1]["fingerprint"] is None
    assert rows[1]["exc_class"] is None


def test_w3c_extended_parse_directive_switch_and_dash(spark):
    from sparkcollector.operators.promparse import w3c_extended_parse

    lines = [
        (1, 0, 0, None, "#Fields: c-ip sc-status"),
        (1, 1, 1, 10, "9.9.9.9 200"),
        (1, 2, 1, 11, "8.8.8.8 -"),          # dash -> NULL
        (1, 3, 0, None, "#Fields: sc-status c-ip time-taken"),
        (1, 4, 1, 12, "500 7.7.7.7 33"),     # REORDERED + new field
    ]
    df = spark.createDataFrame(
        lines, "file_id int, o1 int, o2 int, event_id long, line string"
    )
    out = {r["event_id"]: r for r in w3c_extended_parse(
        df, "file_id", ["o1", "o2"], "line",
        ["c-ip", "sc-status", "time-taken"],
    ).collect()}
    assert len(out) == 3  # directive rows dropped
    assert out[10]["w3c_c_ip"] == "9.9.9.9"
    assert out[10]["w3c_sc_status"] == "200"
    assert out[10]["w3c_time_taken"] is None  # not in directive A
    assert out[11]["w3c_sc_status"] is None   # '-'
    assert out[12]["w3c_c_ip"] == "7.7.7.7"   # resolved via directive B
    assert out[12]["w3c_time_taken"] == "33"


def test_bruteforce_detect_window_rule(spark):
    import datetime

    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import bruteforce_detect

    T0 = 1_700_000_000

    def ts(off):
        return datetime.datetime.fromtimestamp(
            T0 + off, datetime.timezone.utc)

    rows = [
        # u1: 3 fails inside 10 min, then success -> flagged
        ("u1", "fail", ts(0)), ("u1", "fail", ts(100)),
        ("u1", "fail", ts(200)), ("u1", "ok", ts(300)),
        # u2: 3 fails but the first is OUTSIDE the window -> not flagged
        ("u2", "fail", ts(0)), ("u2", "fail", ts(500)),
        ("u2", "fail", ts(550)), ("u2", "ok", ts(650)),
        # u3: success with no fails
        ("u3", "ok", ts(10)),
    ]
    df = spark.createDataFrame(rows, "user string, kind string, ts timestamp")
    out = {r["entity"]: r for r in bruteforce_detect(
        df, "user", "ts",
        fail_pred=F.col("kind") == "fail",
        success_pred=F.col("kind") == "ok",
        window_s=600, threshold=3,
    ).collect()}
    assert out["u1"]["n_flagged"] == 1 and out["u1"]["max_prior_fails"] == 3
    assert out["u2"]["n_flagged"] == 0 and out["u2"]["max_prior_fails"] == 2
    assert out["u3"]["n_flagged"] == 0 and out["u3"]["max_prior_fails"] == 0


def test_nginx_error_parse_optional_fields(spark):
    from sparkcollector.operators.promparse import nginx_error_parse

    lines = [
        ('2024/01/20 12:34:56 [error] 123#4: *99 open() failed (2: err)'
         ', client: 10.0.0.7, server: s1'
         ', request: "POST /api/v1 HTTP/1.1"',),
        ("2024/01/20 12:34:57 [warn] 5#0: *7 low buffers",),
        ("not an nginx line",),
    ]
    out = nginx_error_parse(
        spark.createDataFrame(lines, ["line"]), "line"
    ).collect()
    full, bare, bad = out
    assert full["ngx_level"] == "ERROR" and full["ngx_conn"] == 99
    assert full["ngx_client"] == "10.0.0.7" and full["ngx_server"] == "s1"
    assert full["ngx_method"] == "POST" and full["ngx_path"] == "/api/v1"
    assert bare["ngx_level"] == "WARN" and bare["ngx_client"] is None
    assert bare["ngx_msg"] == "low buffers"
    assert bad["ngx_level"] is None and bad["ngx_pid"] is None


def test_postfix_parse_keys_and_malformed(spark):
    from sparkcollector.operators.promparse import postfix_parse

    lines = [
        ("postfix/smtp[991]: 3A1B2C: to=<a@b.c>, "
         "relay=mx.b.c[1.2.3.4]:25, delay=2.5, dsn=2.0.0, "
         "status=sent (250 ok)",),
        ("postfix/qmgr[7]: 44FF00: from=<x@y.z>, size=1024",),
        ("sshd[1]: accepted password",),
    ]
    out = postfix_parse(
        spark.createDataFrame(lines, ["line"]), "line"
    ).collect()
    smtp, qmgr, other = out
    assert smtp["pf_proc"] == "smtp" and smtp["pf_pid"] == 991
    assert smtp["pf_to"] == "a@b.c"
    assert smtp["pf_relay"] == "mx.b.c[1.2.3.4]:25"
    assert smtp["pf_delay"] == 2.5 and smtp["pf_dsn"] == "2.0.0"
    assert smtp["pf_status"] == "sent"
    assert smtp["pf_status_detail"] == "250 ok"
    # qmgr line: header parses, smtp-specific keys NULL
    assert qmgr["pf_proc"] == "qmgr" and qmgr["pf_queue_id"] == "44FF00"
    assert qmgr["pf_to"] is None and qmgr["pf_status"] is None
    assert other["pf_proc"] is None


def test_k8s_audit_parse_paths_and_malformed(spark):
    from sparkcollector.operators.promparse import k8s_audit_parse

    lines = [
        ('{"kind":"Event","verb":"delete","user":{"username":"eve"},'
         '"objectRef":{"resource":"secrets","namespace":"prod",'
         '"name":"db-creds"},"responseStatus":{"code":403},'
         '"stage":"ResponseComplete"}',),
        ('{"kind":"Event","verb":"get","user":{"username":"bob"},'
         '"objectRef":{"resource":"pods","namespace":"dev"},'
         '"responseStatus":{"code":200},"stage":"ResponseComplete"}',),
        ('{"kind":"Pod","metadata":{}}',),   # not an audit Event
        ("not json at all",),
    ]
    out = k8s_audit_parse(
        spark.createDataFrame(lines, ["line"]), "line"
    ).collect()
    denied, ok, wrong_kind, bad = out
    assert denied["audit_verb"] == "delete"
    assert denied["audit_user"] == "eve"
    assert denied["audit_resource"] == "secrets"
    assert denied["audit_name"] == "db-creds"
    assert denied["audit_code"] == 403
    assert ok["audit_name"] is None and ok["audit_code"] == 200
    assert wrong_kind["audit_verb"] is None
    assert bad["audit_verb"] is None and bad["audit_code"] is None


def test_elb_log_parse_fields_and_null_semantics(spark):
    from sparkcollector.operators.promparse import elb_log_parse

    ok_line = (
        'http 2024-01-01T00:00:07.179575Z app/lb1 192.168.0.8:10007 '
        '10.0.1.7:8080 0.007 0.107 0.007 200 200 7 1007 '
        '"GET http://ex.com/click HTTP/1.1" "agent/1"'
    )
    no_target = (
        'https 2024-01-01T00:01:00.000000Z app/lb0 192.168.0.9:10008 '
        '- 0.010 -1 0.020 504 - 10 0 '
        '"POST http://ex.com/signup HTTP/1.1" ""'
    )
    df = spark.createDataFrame(
        [(1, ok_line), (2, no_target), (3, "junk")], "id long, line string"
    )
    out = {r["id"]: r for r in elb_log_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["req_type"] == "http"
    assert r["rtime"] == "2024-01-01 00:00:07"
    assert r["client_ip"] == "192.168.0.8" and r["client_port"] == 10007
    assert r["target"] == "10.0.1.7:8080"
    assert abs(r["target_t_s"] - 0.107) < 1e-9
    assert abs(r["total_time_s"] - 0.121) < 1e-9
    assert r["elb_status"] == 200 and r["target_status"] == 200
    assert r["method"] == "GET" and r["user_agent"] == "agent/1"
    r2 = out[2]
    assert r2["well_formed"] and r2["target"] is None
    assert r2["target_t_s"] is None and r2["total_time_s"] is None
    assert r2["target_status"] is None and r2["user_agent"] is None
    assert not out[3]["well_formed"] and out[3]["elb_status"] is None


def test_sshd_auth_parse_outcomes(spark):
    from sparkcollector.operators.promparse import sshd_auth_parse

    lines = [
        (1, "Jan 5 04:12:33 node1 sshd[1234]: Failed password for "
            "invalid user admin from 203.0.113.5 port 42424 ssh2"),
        (2, "Jan 5 04:12:35 node2 sshd[99]: Accepted publickey for "
            "alice from 198.51.100.7 port 50000 ssh2"),
        (3, "kernel: something else"),
    ]
    df = spark.createDataFrame(lines, "id long, line string")
    out = {r["id"]: r for r in sshd_auth_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["outcome"] == "Failed"
    assert r["auth_method"] == "password" and r["invalid_user"]
    assert r["user"] == "admin" and r["src_ip"] == "203.0.113.5"
    assert r["src_port"] == 42424 and r["pid"] == 1234
    r2 = out[2]
    assert r2["outcome"] == "Accepted" and not r2["invalid_user"]
    assert r2["auth_method"] == "publickey" and r2["user"] == "alice"
    assert not out[3]["well_formed"] and out[3]["user"] is None


def test_envoy_access_parse_upstream_split(spark):
    from sparkcollector.operators.promparse import envoy_access_parse

    ok = ('[2024-01-01T00:00:07.179Z] "GET /view/7 HTTP/2" 200 - 124 '
          '356 100 25 "10.0.0.3" "agent/2" "req-1" "svc-1.local" '
          '"10.1.0.4:8080"')
    no_upstream = (
        '[2024-01-01T00:00:08.000Z] "GET /error/1 HTTP/1.1" 503 UF '
        '10 0 7 - "-" "-" "req-2" "svc-0.local" "-"')
    df = spark.createDataFrame(
        [(1, ok), (2, no_upstream), (3, "nope")], "id long, line string"
    )
    out = {r["id"]: r for r in envoy_access_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["method"] == "GET"
    assert r["path"] == "/view/7" and r["proto"] == "HTTP/2"
    assert r["status"] == 200 and r["resp_flags"] == "-"
    assert r["duration_ms"] == 100 and r["upstream_ms"] == 25
    assert abs(r["upstream_frac"] - 0.25) < 1e-9
    assert r["xff"] == "10.0.0.3" and r["upstream_host"] == "10.1.0.4:8080"
    r2 = out[2]
    assert r2["well_formed"] and r2["resp_flags"] == "UF"
    assert r2["upstream_ms"] is None and r2["upstream_frac"] is None
    assert r2["xff"] is None and r2["user_agent"] is None
    assert not out[3]["well_formed"]


def test_s3_access_log_parse_latency_split(spark):
    from sparkcollector.operators.promparse import s3_access_log_parse

    ok = ('owner1 bkt-3 [01/Jan/2024:00:00:07 +0000] 10.2.0.8 '
          'arn:user/2 REQ77 REST.GET.OBJECT logs/click/77.gz '
          '"GET /logs/click HTTP/1.1" 200 - 5000 12000 80 30 '
          '"https://console/click" "aws-cli/1"')
    errline = ('owner0 bkt-1 [01/Jan/2024:00:01:00 +0000] 10.2.0.9 '
               'arn:user/3 REQ78 REST.GET.OBJECT logs/error/1.gz '
               '"GET /logs/error HTTP/1.1" 404 NoSuchKey - - 40 - '
               '"-" "aws-cli/0"')
    df = spark.createDataFrame(
        [(1, ok), (2, errline), (3, "corrupt")], "id long, line string"
    )
    out = {r["id"]: r for r in s3_access_log_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["bucket"] == "bkt-3"
    assert r["operation"] == "REST.GET.OBJECT"
    assert r["status"] == 200 and r["error_code"] is None
    assert r["bytes_sent"] == 5000 and r["object_size"] == 12000
    assert r["total_ms"] == 80 and r["turnaround_ms"] == 30
    assert r["first_byte_ms"] == 50
    assert r["referer"] == "https://console/click"
    r2 = out[2]
    assert r2["well_formed"] and r2["status"] == 404
    assert r2["error_code"] == "NoSuchKey"
    assert r2["bytes_sent"] is None and r2["first_byte_ms"] is None
    assert r2["referer"] is None
    assert not out[3]["well_formed"]


def test_auditd_parse_syscall_and_path(spark):
    from sparkcollector.operators.promparse import auditd_parse

    sysc = ('type=SYSCALL msg=audit(1704067200.123:42): syscall=59 '
            'success=no exit=-13 uid=1000 comm=bash exe=/usr/bin/bash '
            'key=exec-watch')
    path = 'type=PATH msg=audit(1704067201.5:43): item=0 name=/tmp/x'
    df = spark.createDataFrame(
        [(1, sysc), (2, path), (3, "junk")], "id long, line string"
    )
    out = {r["id"]: r for r in auditd_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["record_type"] == "SYSCALL"
    assert r["epoch_s"] == 1704067200 and r["millis"] == 123
    assert r["serial"] == 42 and r["syscall"] == 59
    assert r["success"] == "no" and r["exit_code"] == -13
    assert r["uid"] == 1000 and r["comm"] == "bash"
    assert r["audit_key"] == "exec-watch"
    r2 = out[2]
    assert r2["well_formed"] and r2["record_type"] == "PATH"
    assert r2["syscall"] is None and r2["uid"] is None
    assert not out[3]["well_formed"]


def test_postgres_log_parse_duration_and_messages(spark):
    from sparkcollector.operators.promparse import postgres_log_parse

    slow = ('2024-01-01 00:00:07.179 UTC [1234] app1@db2 LOG:  '
            'duration: 123.456 ms  statement: select * from t')
    err = ('2024-01-01 00:01:00.000 UTC [99] app0@db0 ERROR:  '
           'deadlock detected on relation r7')
    df = spark.createDataFrame(
        [(1, slow), (2, err), (3, "junk")], "id long, line string"
    )
    out = {r["id"]: r for r in postgres_log_parse(df).collect()}
    r = out[1]
    assert r["well_formed"] and r["severity"] == "LOG"
    assert r["pid"] == 1234 and r["db_user"] == "app1"
    assert r["database"] == "db2"
    assert abs(r["duration_ms"] - 123.456) < 1e-9
    assert r["statement_kind"] == "SELECT"
    assert r["message"] is None
    r2 = out[2]
    assert r2["severity"] == "ERROR" and r2["duration_ms"] is None
    assert r2["message"].startswith("deadlock")
    assert not out[3]["well_formed"]


def test_elb_log_parse_ipv6_client(spark):
    from sparkcollector.operators.promparse import elb_log_parse

    v6 = (
        'h2 2024-01-01T00:00:07.179575Z app/lb1 '
        '2001:db8:3333:4444:5555:6666:7777:8888:49153 '
        '10.0.1.7:8080 0.007 0.107 0.007 200 200 7 1007 '
        '"GET http://ex.com/click HTTP/2.0" "agent/1"'
    )
    df = spark.createDataFrame([(1, v6)], "id long, line string")
    r = elb_log_parse(df).collect()[0]
    assert r["well_formed"], "IPv6 client must not fail the parse"
    assert r["req_type"] == "h2"
    assert r["client_ip"] == "2001:db8:3333:4444:5555:6666:7777:8888"
    assert r["client_port"] == 49153
    assert r["elb_status"] == 200


def _xmlkv_parse_xpath(
    df: DataFrame,
    xml_col: str = "xml",
    root: str = "event",
    attrs: tuple[str, ...] = ("id", "type"),
    elements: tuple[str, ...] = ("host",),
) -> DataFrame:
    """Reference for ``xmlkv_parse``: the same parse via Spark's native
    XPath expressions (the two must agree row-for-row).

    XPath on malformed XML THROWS in the JVM, so every extraction is
    gated behind a cheap shape regex (CASE short-circuits per row —
    verified, the malformed path never reaches the XPath engine).
    Pure codegen, zero exchanges — but one DOM build per row is the
    JVM floor, ~10x slower than the Arrow kernel.
    """
    x = F.col(xml_col)
    ok = x.rlike(rf"^<{root}( |>).*</{root}>$") | x.rlike(
        rf"^<{root}( [^>]*)?/>$"
    )
    # every xpath_* call re-parses the document (a DOM build per call
    # per row — the 100k-row scan spent 22 s on 4 parses/row); one
    # XPath 1.0 concat() pulls all string fields in a single parse,
    # and only count() needs a second.
    # count(...) rides in the same concat (XPath 1.0 auto-stringifies
    # number arguments), so the whole parse is ONE DOM build per row.
    paths = [f"/{root}/@{a}" for a in attrs] + [
        f"/{root}/{e}" for e in elements
    ] + [f"count(/{root}/*)"]
    sep = "\x01"
    concat_expr = "concat(" + f", '{sep}', ".join(paths) + ")"
    parts = F.split(
        F.when(ok, F.xpath_string(x, F.lit(concat_expr))).otherwise(
            F.lit("")
        ),
        sep,
        -1,
    )
    cols = []
    for i, a in enumerate(attrs):
        cols.append(
            F.when(ok, F.try_element_at(parts, F.lit(i + 1))).alias(
                f"a_{a}"
            )
        )
    for j, e in enumerate(elements):
        v = F.try_element_at(parts, F.lit(len(attrs) + j + 1))
        cols.append(F.when(ok & (v != ""), v).alias(f"e_{e}"))
    n_children = F.when(
        ok,
        F.try_element_at(parts, F.lit(len(attrs) + len(elements) + 1))
        .cast("double")
        .cast("long"),
    ).alias("n_children")
    return df.select("*", ok.alias("well_formed"), *cols, n_children)


def test_xmlkv_vectorized_matches_xpath_twin(spark):
    """The Arrow kernel and the Catalyst XPath reference must agree
    row-for-row (same gate, same XPath string semantics)."""
    from sparkcollector.operators.promparse import xmlkv_parse

    eid = F.col("id")
    full = F.concat(
        F.lit('<event id="'), eid.cast("string"),
        F.lit('" type="t"><host>h'), (eid % 7).cast("string"),
        F.lit("</host><dur>"), (eid % 50).cast("string"),
        F.lit("</dur></event>"),
    )
    selfc = F.concat(F.lit('<event id="'), eid.cast("string"), F.lit('"/>'))
    noattr = F.lit("<event><other>y</other></event>")
    xml = (
        F.when(eid % 11 == 0, F.lit("junk <<<"))
        .when(eid % 5 == 0, selfc)
        .when(eid % 7 == 0, noattr)
        .otherwise(full)
    )
    df = spark.range(500).select(eid.alias("id"), xml.alias("xml"))
    a = xmlkv_parse(df, "xml", "event", ("id", "type"), ("host",))
    b = _xmlkv_parse_xpath(df, "xml", "event", ("id", "type"), ("host",))
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
