"""Broadcast enrichment + SCD dimension-update semantics
(pkg/receiver/smartagentreceiver/output.go:256-259, dimension.go:29-60
behaviors, re-expressed as broadcast joins / MERGE-INTO analog)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sparkcollector.enrich import apply_dim_updates, enrich_turns


def test_enrich_preserves_rows_and_adds_attrs(turns_df):
    out = enrich_turns(turns_df)
    assert out.count() == turns_df.count()
    for c in ("actor_kind", "priority", "team", "tool_category", "risk_level"):
        assert c in out.columns
    # every synth role/tool is in the lookup tables -> no NULL attrs
    assert out.filter(F.col("actor_kind").isNull()).count() == 0
    assert out.filter(F.col("tool_category").isNull()).count() == 0


def test_enrich_unknown_key_left_join(spark):
    df = spark.createDataFrame(
        [("c", 0, "alien", "t", "laser")], ["conv_id", "turn_idx", "role", "text", "tool"]
    ).withColumn("ts", F.current_timestamp())
    r = enrich_turns(df).collect()[0]
    assert r["actor_kind"] is None and r["tool_category"] is None


def test_enrich_plan_is_broadcast(turns_df):
    plan = enrich_turns(turns_df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _broadcast_sides(plan: str) -> list[str]:
    """The node directly under each BroadcastExchange in a plan string."""
    return re.findall(r"BroadcastExchange [^\n]*\n[ :|]*\+- (\w+)", plan)


def test_enrich_dims_are_local_relations(turns_df):
    """Both dimensions broadcast from an in-memory LocalTableScan: no
    pickled-RDD scan, so no Python worker runs outside the parse."""
    from sparkcollector.config import compile_pipeline

    for df in (enrich_turns(turns_df), compile_pipeline()(turns_df)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the AQE final plan
        assert _broadcast_sides(plan) == ["LocalTableScan"] * 2, plan
        assert "ExistingRDD" not in plan, plan


def test_apply_dim_updates_upsert_remove_last_wins(spark):
    dims = spark.createDataFrame(
        [("web", "t1", "alice"), ("db", "t2", "bob")],
        ["svc", "tier", "owner"],
    )
    updates = spark.createDataFrame(
        [
            ("web", "owner", "carol", 1),   # upsert
            ("web", "owner", "dave", 2),    # last wins
            ("db", "tier", None, 1),        # remove -> NULL
        ],
        ["svc", "property", "value", "seq"],
    )
    out = {r["svc"]: r for r in apply_dim_updates(dims, updates).collect()}
    assert out["web"]["owner"] == "dave" and out["web"]["tier"] == "t1"
    assert out["db"]["tier"] is None and out["db"]["owner"] == "bob"


def test_asof_join_picks_latest_prior_update(spark):
    from sparkcollector.enrich import asof_join

    left = spark.createDataFrame(
        [(1, 5, "e1"), (1, 10, "e2"), (1, 20, "e3"), (2, 7, "e4")],
        "user_id bigint, ts bigint, ev string",
    )
    right = spark.createDataFrame(
        [(1, 3, "bronze"), (1, 10, "silver"), (1, 15, "gold"), (2, 9, "late")],
        "user_id bigint, ts bigint, plan string",
    )
    out = {r["ev"]: r["plan"] for r in asof_join(left, right).collect()}
    assert out == {
        "e1": "bronze",   # latest update at ts<=5 is ts=3
        "e2": "silver",   # equal ts matches (inclusive)
        "e3": "gold",     # ts=15 < 20
        "e4": None,       # user 2's only update is later -> null
    }


def test_asof_join_rejects_column_clash(spark):
    import pytest as _pytest

    from sparkcollector.enrich import asof_join

    df = spark.createDataFrame([(1, 1, "x")], "user_id bigint, ts bigint, plan string")
    with _pytest.raises(ValueError):
        asof_join(df, df)


def test_rolling_features_trailing_window(spark):
    from sparkcollector.enrich import rolling_features
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(seconds=100), 20.0),
        (1, t0 + dt.timedelta(seconds=400), 40.0),  # first row out of 300s window
        (2, t0, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {
        (r["user_id"], r["value"]): (r["n_win"], r["mean_win"], r["max_win"])
        for r in rolling_features(df).collect()
    }
    assert out[(1, 10.0)] == (1, 10.0, 10.0)
    assert out[(1, 20.0)] == (2, 15.0, 20.0)
    assert out[(1, 40.0)] == (2, 30.0, 40.0)  # rows at t+100, t+400 (t0 aged out)
    assert out[(2, 5.0)] == (1, 5.0, 5.0)


def test_interval_join_matches_naive(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from sparkcollector.enrich import interval_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    facts = spark.createDataFrame(
        [(i, ts(m)) for i, m in enumerate([0, 5, 9, 10, 11, 25, 61])],
        "fact_id bigint, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(100, ts(0), ts(10)), (200, ts(8), ts(26)), (300, ts(50), ts(55))],
        "ival_id bigint, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r["ival_id"], r["fact_id"])
        for r in interval_join(
            facts, ivals, fact_ts="ts", start_col="start_ts",
            end_col="end_ts", bucket_sec=600,
        ).collect()
    )
    naive = sorted(
        (r["ival_id"], r["fact_id"])
        for r in facts.crossJoin(ivals)
        .filter(
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") <= F.col("end_ts"))
        )
        .collect()
    )
    # boundary-inclusive on both ends, empty interval 300 matches nothing
    assert got == naive
    assert (100, 3) in got and (200, 5) in got
    assert all(i != 300 for i, _ in got)


def test_interval_join_with_keys(spark):
    import datetime as dt

    from sparkcollector.enrich import interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    facts = spark.createDataFrame(
        [(1, "u1", ts(5)), (2, "u2", ts(5))],
        "fact_id bigint, user string, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [("u1", ts(0), ts(10))], "user string, start_ts timestamp, end_ts timestamp"
    )
    got = interval_join(
        facts, ivals, fact_ts="ts", start_col="start_ts", end_col="end_ts",
        keys=["user"],
    ).collect()
    # the equi-key restricts matches: u2's fact at the same time is out
    assert [r["fact_id"] for r in got] == [1]


def test_scd2_intervals_versions(spark):
    import datetime as dt

    from sparkcollector.enrich import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("k1", t0, "v1"),
            ("k1", t0 + dt.timedelta(days=1), "v2"),
            ("k2", t0, "x"),
        ],
        "key string, ts timestamp, attr string",
    )
    out = {
        (r["key"], r["version"]): r
        for r in scd2_intervals(df, ["key"], "ts").collect()
    }
    assert out[("k1", 1)]["valid_from"] == t0
    assert out[("k1", 1)]["valid_to"] == t0 + dt.timedelta(days=1)
    assert out[("k1", 1)]["is_current"] is False
    assert out[("k1", 2)]["valid_to"] is None
    assert out[("k1", 2)]["is_current"] is True
    assert out[("k2", 1)]["is_current"] is True


def test_k8s_owner_resolve_chain(spark):
    from sparkcollector.enrich import k8s_owner_resolve

    pods = spark.createDataFrame(
        [("pod-a", "rs-1"), ("pod-b", "rs-2"), ("pod-c", None)],
        "pod_name string, rs_name string",
    )
    rs = spark.createDataFrame(
        [("rs-1", "dep-x"), ("rs-2", None)],
        "rs_name string, deploy_name string",
    )
    got = {
        r["pod_name"]: (r["workload_kind"], r["workload_name"])
        for r in k8s_owner_resolve(pods, rs).collect()
    }
    assert got["pod-a"] == ("Deployment", "dep-x")
    assert got["pod-b"] == ("ReplicaSet", "rs-2")
    assert got["pod-c"] == ("Pod", "pod-c")


def test_resource_detection_override_semantics(spark):
    from pyspark.sql import functions as F

    from sparkcollector.enrich import resource_detection

    df = spark.createDataFrame(
        [("e1", "preset"), ("e2", None)], "id string, host string"
    )
    detectors = [
        ("env", {"host": F.lit("env-host"), "region": F.lit("r1")}),
    ]
    keep = {
        r["id"]: r["host"]
        for r in resource_detection(df, detectors, override=False).collect()
    }
    assert keep == {"e1": "preset", "e2": "env-host"}
    win = {
        r["id"]: r["host"]
        for r in resource_detection(df, detectors, override=True).collect()
    }
    assert win == {"e1": "env-host", "e2": "env-host"}


def test_priority_merge_lowest_priority_wins(spark):
    from sparkcollector.enrich import priority_merge

    rows = [
        (1, 3, "crawl", "c1"), (1, 1, "gold", "g1"), (1, 2, "silver", "s1"),
        (2, 3, "crawl", "c2"),
        (3, 2, "silver", "s3"), (3, 2, "backup", "b3"),  # tie -> name
    ]
    df = spark.createDataFrame(
        rows, "k long, priority int, source string, value string"
    )
    got = {r["k"]: (r["source"], r["value"], r["n_candidates"])
           for r in priority_merge(df, "k", "priority", "source", "value").collect()}
    assert got[1] == ("gold", "g1", 3)
    assert got[2] == ("crawl", "c2", 1)
    assert got[3] == ("backup", "b3", 2)  # tie broken by source name


def test_wildcard_lookup_specificity(spark):
    from sparkcollector.enrich import wildcard_lookup

    facts = spark.createDataFrame(
        [("api-1",), ("api-12",), ("web-9",), ("db-main",), ("other",)],
        "svc string",
    )
    lk = spark.createDataFrame(
        [("api-1", "exact"), ("api-*", "api-any"), ("*-9", "nine"),
         ("*", "fallback")],
        "pattern string, tier string",
    )
    got = {r["svc"]: r for r in
           wildcard_lookup(facts, lk, "svc", "pattern").collect()}
    assert got["api-1"]["tier"] == "exact"          # 0 wildcards wins
    assert got["api-12"]["tier"] == "api-any"
    assert got["web-9"]["tier"] == "nine"           # len('*-9') > len('*')
    assert got["db-main"]["tier"] == "fallback"
    assert got["other"]["tier"] == "fallback"


def test_cidr_lookup_longest_prefix_wins(spark):
    from sparkcollector.enrich import cidr_lookup

    facts = spark.createDataFrame(
        [
            (1, "10.1.2.7"),    # matches /0 /8 /16 /24 -> admin
            (2, "10.1.9.9"),    # /0 /8 /16 -> db
            (3, "10.9.9.9"),    # /0 /8 -> corp
            (4, "192.168.3.4"), # /0 /16 -> lab
            (5, "8.8.8.8"),     # /0 only -> internet
        ],
        "id long, ip string",
    )
    cidrs = spark.createDataFrame(
        [
            ("0.0.0.0/0", "internet"),
            ("10.0.0.0/8", "corp"),
            ("10.1.0.0/16", "db"),
            ("10.1.2.0/24", "admin"),
            ("192.168.0.0/16", "lab"),
        ],
        "cidr string, zone string",
    )
    got = {r["id"]: r["zone"] for r in cidr_lookup(facts, "ip", cidrs).collect()}
    assert got == {1: "admin", 2: "db", 3: "corp", 4: "lab", 5: "internet"}


def test_cidr_lookup_default_when_unmatched(spark):
    from sparkcollector.enrich import cidr_lookup

    facts = spark.createDataFrame([(1, "8.8.8.8")], "id long, ip string")
    cidrs = spark.createDataFrame(
        [("10.0.0.0/8", "corp")], "cidr string, zone string"
    )
    rows = cidr_lookup(facts, "ip", cidrs, default="unknown").collect()
    assert rows[0]["zone"] == "unknown"


def test_nearest_poi_assigns_closest_with_tiebreak(spark):
    from sparkcollector.enrich import nearest_poi

    facts = spark.createDataFrame(
        [(1, 40.7, -74.0), (2, 51.5, -0.1), (3, 45.0, -40.0)],
        "id long, lat double, lon double",
    )
    pois = spark.createDataFrame(
        [("nyc", 40.7, -74.0), ("lon", 51.5, -0.1)],
        "poi string, lat double, lon double",
    )
    got = {r["id"]: r for r in nearest_poi(facts, "lat", "lon", pois).collect()}
    assert got[1]["poi"] == "nyc" and got[1]["poi_km"] == 0.0
    assert got[2]["poi"] == "lon" and got[2]["poi_km"] == 0.0
    assert got[3]["poi"] in ("nyc", "lon") and got[3]["poi_km"] > 1000


def test_cdc_compact_tombstones_replays_out_of_order(spark):
    from sparkcollector.enrich import cdc_compact

    rows = [
        # k=1: out-of-order arrivals; latest (v=5) is an update
        (1, 3, "U", 30.0), (1, 5, "U", 50.0), (1, 4, "U", 40.0),
        # k=2: latest is a delete -> key vanishes entirely
        (2, 1, "I", 10.0), (2, 2, "D", None),
        # k=3: replayed duplicate of the winning version
        (3, 7, "U", 70.0), (3, 7, "U", 70.0), (3, 6, "I", 60.0),
        # k=4: delete then a LATER re-insert resurrects the key
        (4, 1, "D", None), (4, 2, "I", 20.0),
    ]
    df = spark.createDataFrame(rows, "k int, ver int, op string, p double")
    out = {r["k"]: r for r in cdc_compact(
        df, ["k"], ["ver"], "op").collect()}
    assert out[1]["ver"] == 5 and out[1]["p"] == 50.0
    assert 2 not in out
    assert out[3]["ver"] == 7 and out[3]["p"] == 70.0
    assert out[4]["op"] == "I" and out[4]["p"] == 20.0
    assert len(out) == 3
