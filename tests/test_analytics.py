"""Funnel / retention analytics + salted join + log templates."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ts(d, h=0):
    return dt.datetime(2024, 1, d, h)


def test_funnel_stages_ordering_and_depth(spark):
    from sparkcollector.operators.analytics import funnel_stages

    rows = [
        # u1 completes the full funnel in order
        (1, "signup", _ts(1)), (1, "click", _ts(2)), (1, "purchase", _ts(3)),
        # u2: purchase BEFORE click -> stage 2 only
        (2, "signup", _ts(1)), (2, "purchase", _ts(2)), (2, "click", _ts(3)),
        # u3: click before signup doesn't count; no click after -> stage 1
        (3, "click", _ts(1)), (3, "signup", _ts(2)),
        # u4 never signs up -> absent
        (4, "click", _ts(1)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    got = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(df, ["signup", "click", "purchase"]).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_retention_cohorts_offsets(spark):
    from sparkcollector.operators.analytics import retention_cohorts

    # week starts Mon 2024-01-01; u1 active weeks 0 and 2, u2 week 1 only
    rows = [
        (1, _ts(2)), (1, _ts(16)),
        (2, _ts(9)), (2, _ts(10)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_salted_join_equals_plain_join(spark):
    from sparkcollector.skew import salted_join

    facts = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], "fact_id bigint, k bigint"
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k bigint, v string"
    )
    got = sorted(
        (r["fact_id"], r["v"])
        for r in salted_join(facts, dim, "k", n_salts=4, salt_from="fact_id").collect()
    )
    plain = sorted((r["fact_id"], r["v"]) for r in facts.join(dim, "k").collect())
    assert got == plain


def test_log_templates_masking(spark):
    from sparkcollector.operators.telemetry import log_templates

    rows = [
        ("request 123 took 45ms",),
        ("request 999 took 7ms",),
        ("conn deadbeef01 closed",),
        ("user 'bob' logged in",),
        ("user 'alice' logged in",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = {r["template"]: (r["n"], r["example"]) for r in log_templates(df).collect()}
    assert got["request <*> took <*>ms"] == (2, "request 123 took 45ms")
    assert got["conn <*> closed"] == (1, "conn deadbeef01 closed")
    assert got["user <*> logged in"] == (2, "user 'alice' logged in")


def test_event_transition_matrix_probs(spark):
    from sparkcollector.operators.analytics import event_transition_matrix

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "c"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, event_type string")
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transition_matrix(df).collect()
    }
    # from 'a': 2x ->b, 1x ->c
    assert got[("a", "b")] == (2, round(2 / 3, 6))
    assert got[("a", "c")] == (1, round(1 / 3, 6))
    assert got[("b", "a")] == (1, 1.0)
    # last event of each user emits no transition
    assert ("b", None) not in got and sum(n for n, _ in got.values()) == 4


def test_salted_join_key_salt_rejected_and_default_spreads(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcollector.skew import salted_join

    facts = spark.createDataFrame(
        [(i, 7) for i in range(50)], "fact_id bigint, k bigint"
    )
    dim = spark.createDataFrame([(7, "hot")], "k bigint, v string")
    with _pytest.raises(ValueError, match="salt_from"):
        salted_join(facts, dim, "k", salt_from="k")
    # default (row-content salt) joins correctly AND actually spreads
    out = salted_join(facts, dim, "k", n_salts=8)
    assert out.count() == 50
    n_salts_used = (
        facts.withColumn(
            "_s",
            F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(8)),
        )
        .select("_s")
        .distinct()
        .count()
    )
    assert n_salts_used > 1


def test_ewma_smooth_matches_pandas_fold(spark):
    from sparkcollector.operators.analytics import ewma_smooth

    rows = [("k", i, float(x)) for i, x in enumerate([4, 1, 7, 7, 2])]
    df = spark.createDataFrame(rows, ["g", "bkt", "x"])
    r = ewma_smooth(df, "g", "bkt", "x", alpha=0.3).collect()[0]
    s = 4.0
    for x in [1.0, 7.0, 7.0, 2.0]:
        s = 0.3 * x + 0.7 * s
    assert r["n_points"] == 5 and r["last_raw"] == 2.0
    assert r["ewma"] == s  # identical IEEE fold -> exact equality


def test_ewma_smooth_single_point_is_identity(spark):
    from sparkcollector.operators.analytics import ewma_smooth

    df = spark.createDataFrame([("k", 0, 9.0)], ["g", "bkt", "x"])
    r = ewma_smooth(df, "g", "bkt", "x").collect()[0]
    assert r["ewma"] == 9.0 and r["n_points"] == 1


def test_alert_hysteresis_holds_between_thresholds(spark):
    from sparkcollector.operators.analytics import alert_hysteresis

    # fire > 10, clear < 5; middle values hold the previous state
    vals = [(1, 3.0), (2, 12.0), (3, 7.0), (4, 11.0), (5, 4.0), (6, 8.0)]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in vals], "key string, i long, v double"
    )
    out = {
        r["i"]: (r["state"], r["fire_edge"], r["clear_edge"])
        for r in alert_hysteresis(
            df, ["key"], "i", "v", fire=10.0, clear=5.0
        ).collect()
    }
    assert out[1] == (0, False, False)
    assert out[2] == (1, True, False)   # fires
    assert out[3] == (1, False, False)  # 7 holds alert (no chatter)
    assert out[4] == (1, False, False)  # still alert, no re-fire
    assert out[5] == (0, False, True)   # clears below 5
    assert out[6] == (0, False, False)  # 8 holds ok


def test_flap_detect_counts_transitions_per_window(spark):
    from sparkcollector.operators.analytics import flap_detect

    rows = [
        ("u", 1, 0, "d1"), ("u", 2, 1, "d1"), ("u", 3, 0, "d1"),
        ("u", 4, 1, "d1"),                     # 3 transitions in d1
        ("u", 5, 1, "d2"), ("u", 6, 0, "d2"),  # 1 transition in d2
    ]
    df = spark.createDataFrame(
        rows, "key string, i long, state int, win string"
    )
    got = {
        r["win"]: (r["n_transitions"], r["flapping"])
        for r in flap_detect(
            df, ["key"], "i", "state", "win", min_transitions=3
        ).collect()
    }
    assert got["d1"] == (3, True)
    assert got["d2"] == (1, False)


def test_top_movers_ranks_by_abs_delta(spark):
    from sparkcollector.operators.analytics import top_movers

    rows = (
        [("a", 1)] * 10 + [("b", 1)] * 2
        + [("a", 2)] * 1 + [("b", 2)] * 8 + [("c", 2)] * 3
    )
    df = spark.createDataFrame(rows, "key string, bucket long")
    got = {
        (r["bucket"], r["key"]): (r["delta"], r["rank"])
        for r in top_movers(df, "key", "bucket", k=2).collect()
    }
    # bucket 2: a dropped 9, b rose 6, c new +3 -> top2 = a, b
    assert got[(2, "a")] == (-9, 1)
    assert got[(2, "b")] == (6, 2)
    assert (2, "c") not in got
    # bucket 1: both keys are new movers vs 0
    assert got[(1, "a")] == (10, 1)


def test_holt_smooth_tracks_trend(spark):
    from sparkcollector.operators.analytics import holt_smooth

    # linear ramp: Holt's forecast should overshoot the last value,
    # plain level alone would lag it
    df = spark.createDataFrame(
        [("k", i, float(2 * i)) for i in range(20)],
        "key2 string, o long, x double",
    )
    r = holt_smooth(df, "key2", "o", "x", alpha=0.5, beta=0.3).collect()[0]
    assert r["n_points"] == 20
    assert r["trend"] > 1.0           # tracks the +2/step ramp
    assert r["forecast"] > r["level"]
    # hand-fold parity
    l, t = 0.0, 0.0
    for x in [2.0 * i for i in range(1, 20)]:
        nl = 0.5 * x + 0.5 * (l + t)
        t = 0.3 * (nl - l) + 0.7 * t
        l = nl
    assert abs(r["level"] - round(l, 6)) < 1e-9
    assert abs(r["trend"] - round(t, 6)) < 1e-9


def test_trend_slope_exact_line(spark):
    from sparkcollector.operators.analytics import trend_slope

    # key 'up': bucket b repeated b+1 times -> counts 1,2,3,4 over
    # buckets 10..13 -> slope exactly 1
    rows = []
    for b in range(10, 14):
        rows += [("up", b)] * (b - 9)
    rows += [("flat", 5), ("flat", 6), ("flat", 7)]  # counts all 1
    df = spark.createDataFrame(rows, "key string, bkt long")
    got = {r["key"]: r["slope_per_bucket"]
           for r in trend_slope(df, "key", "bkt").collect()}
    assert got["up"] == 1.0
    assert got["flat"] == 0.0


def test_cusum_changepoint_locates_level_shift(spark):
    from sparkcollector.operators.analytics import cusum_changepoint

    # counts 1/bucket for buckets 0..9, then 5/bucket for 10..19:
    # |CUSUM| peaks exactly at the shift boundary (bucket 9)
    rows = []
    for b in range(10):
        rows.append(("k", b))
    for b in range(10, 20):
        rows += [("k", b)] * 5
    df = spark.createDataFrame(rows, "key string, bkt long")
    r = cusum_changepoint(df, "key", "bkt", h=1.0).collect()[0]
    assert r["changepoint_bucket"] == 9
    assert r["shifted"] is True
    # a flat series never flags
    flat = spark.createDataFrame(
        [("f", b) for b in range(20)], "key string, bkt long"
    )
    rf = cusum_changepoint(flat, "key", "bkt", h=1.0).collect()[0]
    assert rf["shifted"] is False


def test_weighted_quantiles_lower_convention(spark):
    from sparkcollector.operators.analytics import weighted_quantiles

    # values 1,2,3 with weights 1,1,8: p50 lands in the heavy value
    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 8)],
        "grp string, v double, w long",
    )
    got = {r["q"]: r["quantile_value"]
           for r in weighted_quantiles(df, "v", "w", ["grp"]).collect()}
    assert got[0.5] == 3.0 and got[0.9] == 3.0


def test_cooccurrence_lift_values(spark):
    from sparkcollector.operators.analytics import cooccurrence_lift

    # 4 groups: {a,b} {a,b} {a} {c} -> P(a)=3/4 P(b)=2/4 P(ab)=2/4
    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # repeats collapse
        (2, "a"), (2, "b"),
        (3, "a"),
        (4, "c"),
    ]
    df = spark.createDataFrame(rows, "grp long, item string")
    out = {(r["item_a"], r["item_b"]): r
           for r in cooccurrence_lift(df, "grp", "item").collect()}
    ab = out[("a", "b")]
    assert (ab["n_both"], ab["n_a"], ab["n_b"]) == (2, 3, 2)
    assert abs(ab["lift"] - (0.5 / (0.75 * 0.5))) < 1e-6  # round(6)
    assert ("a", "c") not in out  # never co-occur


def test_user_churn_weekly_accounting(spark):
    import datetime

    from sparkcollector.operators.analytics import user_churn_weekly

    base = datetime.datetime(2024, 1, 4)  # inside some epoch week W
    week = datetime.timedelta(days=7)

    def at(u, w):
        return (u, base + w * week)

    # u1 active W0,W1,W2; u2 active W0 only; u3 joins W1, skips W2
    rows = [at(1, 0), at(1, 1), at(1, 2), at(2, 0), at(3, 1)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r["week"], r["n_active"], r["n_new"], r["n_retained"],
         r["n_churned"])
        for r in user_churn_weekly(df).collect()
    )
    w0, w1, w2 = got
    assert w0[1:] == (2, 2, 0, 0)      # u1,u2 new
    assert w1[1:] == (2, 1, 1, 1)      # u3 new, u1 retained, u2 churned
    assert w2[1:] == (1, 0, 1, 1)      # u1 retained, u3 churned


def test_pareto_concentration_interpolation(spark):
    from sparkcollector.operators.analytics import pareto_concentration

    # 10 users: one with 91 events, nine with 1 -> top 10% (1 user)
    # holds 91% of events
    rows = [(0,)] * 91 + [(u,) for u in range(1, 10)]
    df = spark.createDataFrame(rows, "user_id long")
    got = {r["q"]: r for r in
           pareto_concentration(df, "user_id", qs=(0.1, 0.5)).collect()}
    assert got[0.1]["n_top_keys"] == 1
    assert got[0.1]["event_share"] == 0.91
    # top 50% = 5 users = hot one + 4 singles = 95 events
    assert got[0.5]["n_top_keys"] == 5
    assert got[0.5]["event_share"] == 0.95


def test_psi_drift_zero_when_identical(spark):
    from sparkcollector.operators.analytics import psi_drift

    rows = [(float(v), p) for p in ("a", "b") for v in (5, 20, 20, 80, 200)]
    df = spark.createDataFrame(rows, "value double, period string")
    out = psi_drift(df, "value", "period", bounds=(10.0, 50.0, 100.0))
    terms = [r["psi_term"] for r in out.collect()]
    assert all(t == 0.0 for t in terms)  # identical distributions
    # now shift period b upward: PSI sum must be positive
    rows2 = [(float(v), "a") for v in (5, 5, 20, 20)] + [
        (float(v), "b") for v in (200, 200, 300, 80)
    ]
    df2 = spark.createDataFrame(rows2, "value double, period string")
    total = sum(r["psi_term"] for r in
                psi_drift(df2, "value", "period",
                          bounds=(10.0, 50.0, 100.0)).collect())
    assert total > 0.25  # actionable drift


def test_ab_conversion_z_directions_and_degenerate(spark):
    from sparkcollector.operators.analytics import ab_conversion_z

    # b converts 80%, a 20%, 50 users each -> strongly significant
    rows = [("a", 1)] * 10 + [("a", 0)] * 40 + [("b", 1)] * 40 + [("b", 0)] * 10
    df = spark.createDataFrame(rows, "variant string, converted int")
    r = ab_conversion_z(df, "variant", "converted").collect()[0]
    assert r["rate_a"] == 0.2 and r["rate_b"] == 0.8
    assert r["z"] > 1.96 and r["significant_95"]
    # degenerate: everyone converts -> z NULL, not significant
    allc = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 1)] * 5, "variant string, converted int"
    )
    r2 = ab_conversion_z(allc, "variant", "converted").collect()[0]
    assert r2["z"] is None and r2["significant_95"] is False


def test_funnel_latency_strictly_after(spark):
    import datetime

    from sparkcollector.operators.analytics import funnel_latency

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        (1, "signup", ts(0)), (1, "purchase", ts(100)),
        (2, "signup", ts(0)), (2, "purchase", ts(300)),
        (3, "purchase", ts(0)), (3, "signup", ts(10)),  # never after
        (4, "signup", ts(0)),                            # no purchase
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    r = funnel_latency(df, "signup", "purchase").collect()[0]
    assert r["n_converted"] == 2
    assert r["p50_s"] == 200.0 and r["max_s"] == 300.0


def test_dow_hour_heatmap_epoch_dow(spark):
    import datetime

    from sparkcollector.operators.analytics import dow_hour_heatmap

    # 2024-01-01 was a Monday (dow=1 with 0=Sunday), 15:00 UTC
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 15, 0),),
         (datetime.datetime(2024, 1, 7, 3, 0),)],  # Sunday
        "ts timestamp",
    )
    got = {(r["dow"], r["hour"]): r["n"] for r in dow_hour_heatmap(df).collect()}
    assert got[(1, 15)] == 1
    assert got[(0, 3)] == 1


def test_gini_extremes(spark):
    from sparkcollector.operators.analytics import gini_activity

    equal = spark.createDataFrame(
        [(u,) for u in range(10) for _ in range(5)], "k long"
    )
    g_eq = gini_activity(equal, "k").collect()[0]
    assert g_eq["gini"] == 0.0
    # one key with 99 events, 99 keys with 1: near-maximal inequality
    skew = spark.createDataFrame(
        [(0,)] * 99 + [(u,) for u in range(1, 100)], "k long"
    )
    g_sk = gini_activity(skew, "k").collect()[0]
    assert g_sk["n_keys"] == 100 and g_sk["gini"] > 0.45


def test_user_type_entropy_uniform_and_pure(spark):
    import math

    from sparkcollector.operators.analytics import user_type_entropy

    rows = (
        [(1, t) for t in ("a", "b", "c", "d")]  # uniform over 4 -> ln 4
        + [(2, "a")] * 5                          # pure -> 0
    )
    df = spark.createDataFrame(rows, "k long, t string")
    got = {r["k"]: r for r in user_type_entropy(df, "k", "t").collect()}
    assert abs(got[1]["entropy_nats"] - math.log(4)) < 1e-6
    assert got[2]["entropy_nats"] == 0.0 and got[2]["n_types"] == 1


def test_ks_statistic_shift_detection(spark):
    from sparkcollector.operators.analytics import ks_statistic

    # identical -> D = 0
    same = [(float(v), p) for p in ("a", "b") for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(same, "v double, period string")
    r = ks_statistic(df, "v", "period").collect()[0]
    assert r["ks_d"] == 0.0
    # disjoint supports -> D = 1 at the boundary value
    rows = [(float(v), "a") for v in (1, 2)] + [
        (float(v), "b") for v in (10, 11)
    ]
    df2 = spark.createDataFrame(rows, "v double, period string")
    r2 = ks_statistic(df2, "v", "period").collect()[0]
    assert r2["ks_d"] == 1.0 and r2["at_value"] == 2.0


def test_state_intervals_runs(spark):
    import datetime

    from sparkcollector.operators.analytics import state_intervals

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        ("k", 1, ts(0), "low"), ("k", 2, ts(10), "low"),
        ("k", 3, ts(20), "high"), ("k", 4, ts(35), "high"),
        ("k", 5, ts(50), "low"),
    ]
    df = spark.createDataFrame(rows, "k string, i long, ts timestamp, state string")
    got = {r["run_id"]: r for r in
           state_intervals(df, ["k"], "i", "state").collect()}
    assert got[1]["state"] == "low" and got[1]["duration_s"] == 10.0
    assert got[2]["state"] == "high" and got[2]["n_points"] == 2
    assert got[3]["state"] == "low" and got[3]["n_points"] == 1


def test_last_touch_attribution_rules(spark):
    import datetime

    from sparkcollector.operators.analytics import last_touch_attribution

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # u1: click ch1, later click ch2, then converts -> ch2
        (1, ts(0), 1, "touch", "ch1"), (1, ts(10), 2, "touch", "ch2"),
        (1, ts(20), 3, "conversion", None),
        # u2: converts with no prior touch -> organic
        (2, ts(5), 4, "conversion", None),
        # u3: touch at the SAME ts as conversion -> credited
        (3, ts(7), 5, "touch", "ch0"), (3, ts(7), 6, "conversion", None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, i long, kind string, channel string"
    )
    got = {r["channel"]: r["n_conversions"] for r in
           last_touch_attribution(df, "user_id", "ts", "kind",
                                  "channel", "i").collect()}
    assert got == {"ch2": 1, "organic": 1, "ch0": 1}


def test_backoff_detect_doubling_chain(spark):
    import datetime

    from sparkcollector.operators.analytics import backoff_detect

    t0 = datetime.datetime(2024, 1, 1)

    def rows_for(u, offsets):
        return [(u, i, t0 + datetime.timedelta(seconds=o))
                for i, o in enumerate(offsets)]

    # u1: gaps 10, 20, 40, 80 -> 3 doubling ratios
    data = rows_for(1, [0, 10, 30, 70, 150])
    # u2: steady gaps -> ratios = 1, no backoff
    data += rows_for(2, [0, 60, 120, 180])
    df = spark.createDataFrame(data, "user_id long, i long, ts timestamp")
    got = {r["user_id"]: r for r in backoff_detect(
        df, ["user_id"], "ts", order_cols=["ts", "i"]).collect()}
    assert got[1]["max_run"] == 3 and got[1]["backoff_detected"]
    assert got[2]["max_run"] == 0 and not got[2]["backoff_detected"]


def test_behavior_trigrams_counts(spark):
    from sparkcollector.operators.analytics import behavior_trigrams

    rows = [(1, i, t) for i, t in enumerate("abab")] + [
        (2, i, t) for i, t in enumerate("aba")
    ]
    df = spark.createDataFrame(rows, "u long, i long, t string")
    got = {(r["t1"], r["t2"], r["t3"]): r["n"] for r in
           behavior_trigrams(df, "u", "t", "i", k=5).collect()}
    # u1: aba, bab; u2: aba -> aba x2, bab x1
    assert got[("a", "b", "a")] == 2
    assert got[("b", "a", "b")] == 1


def test_lifetime_survival_thresholds(spark):
    import datetime

    from sparkcollector.operators.analytics import lifetime_survival

    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = []
    for u, days in [(1, 0), (2, 3), (3, 10), (4, 30)]:
        rows += [(u, t0), (u, t0 + days * day)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["day"]: r["n_surviving"] for r in
           lifetime_survival(df, "user_id", "ts").collect()}
    assert got == {1: 3, 7: 2, 14: 1, 28: 1}


def test_rfm_features_math(spark):
    import datetime

    from sparkcollector.operators.analytics import rfm_features

    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = [
        (1, t0, 10.0), (1, t0 + 20 * day, 5.0),      # active at horizon-10
        (2, t0 + 30 * day, 2.0),                      # horizon user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["user_id"]: r for r in
           rfm_features(df, "user_id", "ts", "value").collect()}
    assert got[2]["recency_days"] == 0.0 and got[2]["freq_7d"] == 1
    assert got[1]["recency_days"] == 10.0
    assert got[1]["frequency"] == 2 and got[1]["freq_7d"] == 0
    assert got[1]["monetary"] == 15.0


def test_hourly_latency_bands(spark):
    import datetime

    from sparkcollector.operators.telemetry import hourly_latency_bands

    t0 = datetime.datetime(2024, 1, 1, 10, 15)
    rows = [(t0, float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = hourly_latency_bands(df).collect()[0]
    assert r["n"] == 100
    assert r["p50"] == 50.5
    assert abs(r["p95"] - 95.05) < 1e-9


def test_cohort_ltv_accumulates(spark):
    import datetime

    from sparkcollector.operators.analytics import cohort_ltv

    t0 = datetime.datetime(2024, 1, 4)
    week = datetime.timedelta(days=7)
    rows = [
        (1, t0, 10.0), (1, t0 + week, 5.0), (1, t0 + 2 * week, 2.0),
        (2, t0 + week, 100.0),  # later cohort
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {(r["cohort_week"], r["week_offset"]): r for r in
           cohort_ltv(df, "user_id", "ts", "value").collect()}
    cohorts = sorted({c for c, _ in got})
    c0, c1 = cohorts
    assert got[(c0, 0)]["cumulative_value"] == 10.0
    assert got[(c0, 1)]["cumulative_value"] == 15.0
    assert got[(c0, 2)]["cumulative_value"] == 17.0
    assert got[(c1, 0)]["week_value"] == 100.0


def test_error_propagation_lift(spark):
    from sparkcollector.operators.analytics import error_propagation

    # heap per group: seq1 parent of 2,3; seq2 parent of 4
    # g1: parent(1) error, child(2) error -> propagation
    rows = [
        (1, 1, True), (1, 2, True), (1, 3, False), (1, 4, False),
        (2, 1, False), (2, 2, False), (2, 3, False),
    ]
    df = spark.createDataFrame(rows, "g long, i long, is_error boolean")
    r = error_propagation(df, "g", "i", "is_error").collect()[0]
    assert r["n_edges"] == 5
    assert r["n_error_children"] == 1
    assert r["parent_error_given_child_error"] == 1.0
    assert r["propagation_lift"] > 1.0


def test_churn_paths_last_trigram(spark):
    from sparkcollector.operators.analytics import churn_paths

    rows = [(1, i, t) for i, t in enumerate("xabc")] + [
        (2, i, t) for i, t in enumerate("abc")
    ] + [(3, 0, "a"), (3, 1, "b")]  # too short, excluded
    df = spark.createDataFrame(rows, "u long, i long, t string")
    got = {(r["t1"], r["t2"], r["t3"]): r["n_users"] for r in
           churn_paths(df, "u", "t", "i", k=5).collect()}
    assert got == {("a", "b", "c"): 2}


def test_capacity_forecast_crossing(spark):
    from sparkcollector.operators.analytics import capacity_forecast

    # rising series: counts 1,2,3,4 per bucket -> slope 1,
    # current 4, threshold 10 -> 6 buckets to go
    rows = []
    for b in range(4):
        rows += [("up", b)] * (b + 1)
    rows += [("flat", 0), ("flat", 1), ("flat", 2)]
    df = spark.createDataFrame(rows, "k string, bkt long")
    got = {r["k"]: r for r in
           capacity_forecast(df, "k", "bkt", threshold=10.0).collect()}
    assert got["up"]["current"] == 4
    assert got["up"]["buckets_to_threshold"] == 6.0
    assert got["flat"]["buckets_to_threshold"] is None


def test_conversion_propensity_window(spark):
    from sparkcollector.operators.analytics import conversion_propensity

    # user 1: a b c purchase -> a converts (3 steps), b (2), c (1)
    # user 2: a x x x purchase -> a does NOT convert (4 steps away)
    rows = [(1, i, t) for i, t in enumerate(["a", "b", "c", "purchase"])]
    rows += [(2, i, t) for i, t in enumerate(["a", "x", "x", "x", "purchase"])]
    df = spark.createDataFrame(rows, "u long, i long, t string")
    got = {r["from_type"]: r for r in conversion_propensity(
        df, "u", "t", "i", "purchase", lookahead=3).collect()}
    assert got["a"]["n"] == 2 and got["a"]["n_converted"] == 1
    assert got["b"]["propensity"] == 1.0
    assert got["x"]["n_converted"] == 3  # all within 3 of the purchase


def test_escalation_chains_lookback(spark):
    from sparkcollector.operators.analytics import escalation_chains

    seq = ["INFO", "WARN", "INFO", "ERROR",   # escalated (WARN 2 back)
           "INFO", "INFO", "INFO", "ERROR"]   # cold error
    rows = [(1, i, s) for i, s in enumerate(seq)]
    df = spark.createDataFrame(rows, "u long, i long, sev string")
    r = escalation_chains(df, ["u"], "i", "sev", lookback=3).collect()[0]
    assert r["n_errors"] == 2
    assert r["n_escalated"] == 1
    assert r["escalation_share"] == 0.5


def test_engagement_conversion_bands(spark):
    from sparkcollector.operators.analytics import engagement_conversion

    rows = []
    # user 1: 1 event, no purchase; user 2: 3 events incl purchase;
    # user 3: 4 events, no purchase
    rows += [(1, "view")]
    rows += [(2, "view"), (2, "click"), (2, "purchase")]
    rows += [(3, "view")] * 4
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {r["band"]: r for r in
           engagement_conversion(df, "user_id", "event_type").collect()}
    assert got[1]["n_users"] == 1 and got[1]["conversion_rate"] == 0.0
    assert got[4]["n_users"] == 2 and got[4]["n_converted"] == 1


def test_mase_seasonal_beats_naive_on_periodic_series(spark):
    from sparkcollector.operators.analytics import mase_baseline

    # strict period-4 series repeated: seasonal-naive error is 0
    rows = []
    pattern = [1, 5, 2, 8]
    for cyc in range(6):
        for i, c in enumerate(pattern):
            b = cyc * 4 + i
            rows += [("s", b)] * c
    df = spark.createDataFrame(rows, "k string, bkt long")
    r = mase_baseline(df, "k", "bkt", season=4).collect()[0]
    assert r["mae_seasonal"] == 0.0
    assert r["mae_naive"] > 0
    assert r["mase_ratio"] == 0.0


def test_mase_gap_fill_keeps_seasonal_lag_time_aligned(spark):
    from sparkcollector.operators.analytics import mase_baseline

    # period-4 series where one bucket has ZERO events (absent row).
    # Gap-filling must treat it as y=0, so the seasonal comparison
    # stays "same phase one cycle ago" — a row-based lag without the
    # fill would shift every later bucket by one and inflate the MAE.
    # Pattern per cycle: counts [1, 5, 0, 8] (bucket 2 missing).
    rows = []
    pattern = [1, 5, 0, 8]
    for cyc in range(6):
        for i, c in enumerate(pattern):
            rows += [("s", cyc * 4 + i)] * c
    df = spark.createDataFrame(rows, "k string, bkt long")
    r = mase_baseline(df, "k", "bkt", season=4).collect()[0]
    # every cycle is identical, so the seasonal-naive error is exactly 0
    assert r["mae_seasonal"] == 0.0
    assert r["mae_naive"] > 0
    assert r["mase_ratio"] == 0.0


def test_mutual_information_independent_vs_dependent(spark):
    from sparkcollector.operators.analytics import mutual_information

    # perfectly dependent: x == y -> MI = ln(2) for 2 uniform values
    dep = [("a", "a")] * 10 + [("b", "b")] * 10
    mi_dep = sum(r["mi_term"] for r in mutual_information(
        spark.createDataFrame(dep, "x string, y string"), "x", "y"
    ).collect())
    import math
    assert abs(mi_dep - math.log(2)) < 1e-6
    # independent: uniform cross product -> MI = 0
    ind = [(x, y) for x in "ab" for y in "cd" for _ in range(5)]
    mi_ind = sum(r["mi_term"] for r in mutual_information(
        spark.createDataFrame(ind, "x string, y string"), "x", "y"
    ).collect())
    assert abs(mi_ind) < 1e-9


def test_activation_velocity_percentiles(spark):
    import datetime

    from sparkcollector.operators.analytics import activation_velocity

    t0 = datetime.datetime(2024, 1, 1)

    def rows_for(u, gaps):
        t, out = 0, []
        for i, g in enumerate([0] + gaps):
            t += g
            out.append((u, i, t0 + datetime.timedelta(seconds=t)))
        return out

    data = rows_for(1, [10, 10, 10, 10])       # reaches 5th at 40s
    data += rows_for(2, [100, 100, 100, 100])  # reaches 5th at 400s
    data += rows_for(3, [5])                    # only 2 events
    df = spark.createDataFrame(data, "user_id long, i long, ts timestamp")
    r = activation_velocity(df, "user_id", "ts", "i", nth=5).collect()[0]
    assert r["n_users"] == 3 and r["n_reached"] == 2
    assert abs(r["never_share"] - 1 / 3) < 1e-6
    assert r["p50_s"] == 220.0  # midpoint of 40 and 400


def test_weekend_shift_shares(spark):
    import datetime

    from sparkcollector.operators.analytics import weekend_shift

    mon = datetime.datetime(2024, 1, 1, 12)   # Monday
    sat = datetime.datetime(2024, 1, 6, 12)   # Saturday
    rows = [("work", mon)] * 8 + [("work", sat)] * 2 + [
        ("play", mon)] * 2 + [("play", sat)] * 8
    df = spark.createDataFrame(rows, "t string, ts timestamp")
    got = {r["t"]: r for r in weekend_shift(df, "t", "ts").collect()}
    assert got["work"]["weekday_share"] == 0.8
    assert got["work"]["weekend_share"] == 0.2
    assert got["play"]["share_delta"] == 0.6


def test_journey_paths_truncation(spark):
    from sparkcollector.operators.analytics import journey_paths

    rows = [(1, i, t) for i, t in enumerate("abc")]
    rows += [(2, i, t) for i, t in enumerate("abc")]
    rows += [(3, i, "x") for i in range(10)]  # truncated at 8
    df = spark.createDataFrame(rows, "u long, i long, t string")
    got = {r["journey"]: r for r in
           journey_paths(df, "u", "t", "i", max_len=8).collect()}
    assert got["a>b>c"]["n_users"] == 2
    long = got[">".join(["x"] * 8)]
    assert long["n_users"] == 1 and long["n_truncated"] == 1


def test_benford_audit_digits_and_shares(spark):
    from sparkcollector.operators.analytics import benford_audit

    rows = [
        ("g", 1.5), ("g", 10.0), ("g", 0.019),   # digit 1 x3
        ("g", 25.0), ("g", 0.2),                  # digit 2 x2
        ("g", 900.0),                             # digit 9 x1
        ("g", -5.0), ("g", 0.0),                  # dropped
    ]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {r["digit"]: r for r in benford_audit(df, "v", "grp").collect()}
    assert set(got) == {1, 2, 9}
    assert got[1]["n"] == 3 and abs(got[1]["share"] - 0.5) < 1e-9
    assert got[2]["n"] == 2
    import math
    assert abs(got[1]["benford_share"] - round(math.log10(2), 6)) < 1e-9


def test_burstiness_fano_gap_filled(spark):
    from sparkcollector.operators.analytics import burstiness_fano

    # key 'a': 1 event in bucket 0, 3 in bucket 2 -> grid [1, 0, 3]
    rows = [("a", 0)] + [("a", 2)] * 3
    df = spark.createDataFrame(rows, "k string, bkt long")
    r = burstiness_fano(df, "k", "bkt").collect()[0]
    assert r["n_buckets"] == 3
    # S1=4, S2=10, n=3: mu=4/3, var=(10-16/3)/3=14/9, fano=7/6
    assert abs(r["mean_per_bucket"] - 4 / 3) < 1e-5
    assert abs(r["fano"] - 7 / 6) < 1e-5
    import math
    sigma, mu = math.sqrt(14 / 9), 4 / 3
    assert abs(r["burstiness"] - (sigma - mu) / (sigma + mu)) < 1e-5


def test_acf_lags_alternating_series(spark):
    from sparkcollector.operators.analytics import acf_lags

    # counts [2,0,2,0,2] on buckets 0..4 (gap-filled zeros at 1,3)
    rows = [("a", 0)] * 2 + [("a", 2)] * 2 + [("a", 4)] * 2
    df = spark.createDataFrame(rows, "k string, bkt long")
    r = acf_lags(df, "k", "bkt", lags=(1, 2)).collect()[0]
    assert r["n_buckets"] == 5
    # hand-computed: mu=1.2, denom=4.8; r1=-0.8, r2=2.72/4.8
    assert abs(r["acf_1"] - (-0.8)) < 1e-6
    assert abs(r["acf_2"] - 2.72 / 4.8) < 1e-6


def test_tool_adoption_curve_first_use_and_cum(spark):
    from sparkcollector.operators.analytics import tool_adoption_curve

    rows = [
        ("c1", "bash", "2024-01-01 10:00:00"),
        ("c1", "bash", "2024-01-03 10:00:00"),  # not a new adoption
        ("c2", "bash", "2024-01-02 10:00:00"),
        ("c1", "grep", "2024-01-02 09:00:00"),
        ("c3", "none", "2024-01-01 08:00:00"),  # excluded
    ]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(rows, "conv_id string, tool string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r["tool"], str(r["day"])): r
           for r in tool_adoption_curve(df).collect()}
    assert got[("bash", "2024-01-01")]["new_adopters"] == 1
    assert got[("bash", "2024-01-02")]["new_adopters"] == 1
    assert got[("bash", "2024-01-02")]["cum_adopters"] == 2
    assert ("bash", "2024-01-03") not in got  # repeat use, no new adopters
    assert got[("grep", "2024-01-02")]["cum_adopters"] == 1
    assert not any(t == "none" for t, _ in got)


def test_audience_overlap_jaccard(spark):
    from sparkcollector.operators.analytics import audience_overlap

    rows = [
        (1, "click"), (1, "view"), (1, "click"),   # dup event collapses
        (2, "click"), (2, "view"), (2, "buy"),
        (3, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {(r["type_a"], r["type_b"]): r
           for r in audience_overlap(df).collect()}
    cv = got[("click", "view")]
    assert cv["n_both"] == 2 and cv["n_a"] == 2 and cv["n_b"] == 3
    assert abs(cv["jaccard"] - 2 / 3) < 1e-6
    bc = got[("buy", "click")]
    assert bc["n_both"] == 1 and abs(bc["jaccard"] - 0.5) < 1e-6
    # pairs are sorted (a < b) and each unordered pair appears once
    assert all(a < b for a, b in got)


def test_json_key_drift_new_vs_active(spark):
    from sparkcollector.operators.analytics import json_key_drift

    rows = [
        ('{"a":1}', "2024-01-01 00:00:00"),
        ('{"a":2,"b":3}', "2024-01-02 00:00:00"),
        ('{"b":1}', "2024-01-03 00:00:00"),
    ]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(rows, "props string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {str(r["day"]): r for r in json_key_drift(df).collect()}
    assert got["2024-01-01"]["n_active_keys"] == 1
    assert got["2024-01-01"]["n_new_keys"] == 1
    assert got["2024-01-02"]["n_active_keys"] == 2
    assert got["2024-01-02"]["n_new_keys"] == 1  # only b is new
    assert got["2024-01-03"]["n_new_keys"] == 0
    assert got["2024-01-03"]["cum_keys"] == 2


def test_srm_check_flag_and_balanced(spark):
    from sparkcollector.operators.analytics import srm_check

    rows = [(i, "a") for i in range(60)] + [(i + 100, "b") for i in range(40)]
    df = spark.createDataFrame(rows, "user_id long, variant string")
    got = {r["variant"]: r for r in srm_check(df).collect()}
    # chi2 = (10^2/50)*2 = 4.0 > 3.841459 -> mismatch flagged
    assert got["a"]["n_units"] == 60 and got["b"]["n_units"] == 40
    assert abs(got["a"]["chi2_total"] - 4.0) < 1e-9
    assert got["a"]["srm_flag"] is True
    bal = [(i, "a") for i in range(50)] + [(i + 100, "b") for i in range(50)]
    got2 = srm_check(
        spark.createDataFrame(bal, "user_id long, variant string")
    ).collect()[0]
    assert got2["chi2_total"] == 0.0 and got2["srm_flag"] is False


def test_cuped_adjustment_closed_form(spark):
    from sparkcollector.operators.analytics import cuped_adjustment

    rows = [("a", 2.0, 1.0), ("a", 4.0, 2.0), ("b", 6.0, 3.0), ("b", 9.0, 4.0)]
    df = spark.createDataFrame(rows, "variant string, metric double, covariate double")
    got = {r["variant"]: r for r in cuped_adjustment(df).collect()}
    # hand: theta = cov/var = 2.875/1.25 = 2.3; mx = 2.5
    assert abs(got["a"]["theta"] - 2.3) < 1e-9
    assert abs(got["a"]["mean_adjusted"] - 5.3) < 1e-9   # 3 - 2.3*(1.5-2.5)
    assert abs(got["b"]["mean_adjusted"] - 5.2) < 1e-9   # 7.5 - 2.3*(3.5-2.5)
    assert abs(got["a"]["var_reduction"] - 2.3 * 2.875 / 6.6875) < 1e-6


def test_spearman_corr_monotone_and_ties(spark):
    from sparkcollector.operators.analytics import spearman_corr

    rows = [("m", 1.0, 1.0), ("m", 2.0, 4.0), ("m", 3.0, 9.0),      # rho 1
            ("d", 1.0, 9.0), ("d", 2.0, 4.0), ("d", 3.0, 1.0),      # rho -1
            ("t", 1.0, 5.0), ("t", 1.0, 5.0), ("t", 2.0, 7.0)]      # ties
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["key"]: r for r in spearman_corr(df, "k", "x", "y").collect()}
    assert abs(got["m"]["spearman_rho"] - 1.0) < 1e-9
    assert abs(got["d"]["spearman_rho"] + 1.0) < 1e-9
    assert abs(got["t"]["spearman_rho"] - 1.0) < 1e-9   # tied avg ranks align


def test_js_divergence_drift_hand_computed(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import js_divergence_drift

    rows = (
        [("a", "2024-01-01 00:00:00")] * 2
        + [("b", "2024-01-01 00:00:00")] * 2
        + [("a", "2024-01-02 00:00:00")] * 4
    )
    df = spark.createDataFrame(rows, "event_type string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = js_divergence_drift(df).collect()
    assert len(got) == 1  # only day 2 has a prior day
    # P=(.5,.5) vs Q=(1,0): JSD = (KL(P||M)+KL(Q||M))/2 = 0.311278 bits
    assert abs(got[0]["jsd_vs_prev_day"] - 0.311278) < 1e-6


def test_conditional_entropy_hand_computed(spark):
    from sparkcollector.operators.analytics import conditional_entropy

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 1, "a"), (2, 2, "c")]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string"
    )
    r = conditional_entropy(df).collect()[0]
    # transitions: (a,b)x2 (b,a)x1 (a,c)x1 -> H(X,Y)=1.5, H(X)=0.811278
    assert r["n_transitions"] == 4
    assert abs(r["h_next"] - 1.5) < 1e-6
    assert abs(r["h_next_given_prev"] - 0.688722) < 1e-6
    assert abs(r["predictability_gain"] - (1 - 0.688722 / 1.5)) < 1e-5


def test_moments_profile_hand_computed(spark):
    from sparkcollector.operators.analytics import moments_profile

    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4]], "grp string, value double"
    )
    r = moments_profile(df, "grp").collect()[0]
    assert r["n"] == 4 and abs(r["mean"] - 2.5) < 1e-9
    assert abs(r["stddev"] - 1.25 ** 0.5) < 1e-5
    assert abs(r["skewness"]) < 1e-9            # symmetric
    assert abs(r["excess_kurtosis"] - (-1.36)) < 1e-5


def test_runs_test_alternating_and_trending(spark):
    from sparkcollector.operators.analytics import runs_test

    alt = [("a", i, v) for i, v in enumerate([1.0, 9.0] * 3)]
    trend = [("t", i, float(i)) for i in range(6)]  # 0..5, mean 2.5
    df = spark.createDataFrame(alt + trend, "k string, o long, value double")
    got = {r["key"]: r for r in runs_test(df, "k", "o").collect()}
    # alternating: 6 runs vs E[R]=4, var=1.2 -> z = 2/sqrt(1.2)
    a = got["a"]
    assert (a["n"], a["n_above"], a["n_runs"]) == (6, 3, 6)
    assert abs(a["expected_runs"] - 4.0) < 1e-9
    assert abs(a["z"] - 2 / 1.2 ** 0.5) < 1e-5
    # monotone trend: exactly 2 runs (000111) -> strongly negative z
    t = got["t"]
    assert t["n_runs"] == 2 and t["z"] < -1.8


def test_theil_sen_slope_outlier_bucket(spark):
    from sparkcollector.operators.analytics import theil_sen_slope

    pts = [("k", 0, 0.0), ("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 100.0)]
    df = spark.createDataFrame(pts, "key string, b long, value double")
    r = theil_sen_slope(df, "key", "b").collect()[0]
    # slopes sorted: [1, 1, 1, 33.333, 49.5, 98] -> median 17.166667
    assert (r["n_buckets"], r["n_pairs"]) == (4, 6)
    assert abs(r["sen_slope"] - 17.166667) < 1e-6
    # odd-pair-count path: drop the outlier bucket -> slope exactly 1
    df2 = spark.createDataFrame(pts[:3], "key string, b long, value double")
    r2 = theil_sen_slope(df2, "key", "b").collect()[0]
    assert r2["n_pairs"] == 3 and r2["sen_slope"] == 1.0


def test_gumbel_return_level_closed_form(spark):
    import math
    from sparkcollector.operators.analytics import gumbel_return_level

    rows = [("k", 1, 0.5), ("k", 1, 1.0), ("k", 2, 2.0),
            ("k", 3, 3.0), ("k", 3, 2.5)]
    df = spark.createDataFrame(rows, "key string, b long, value double")
    r = gumbel_return_level(df, "key", "b").collect()[0]
    # maxima [1,2,3]: mean 2, var 2/3
    beta = (2 / 3) ** 0.5 * 6 ** 0.5 / math.pi
    mu = 2 - 0.5772156649015329 * beta
    level = mu - beta * math.log(-math.log(0.999))
    assert r["n_buckets"] == 3 and abs(r["mean_max"] - 2.0) < 1e-9
    assert abs(r["gumbel_beta"] - beta) < 1e-5
    assert abs(r["gumbel_mu"] - mu) < 1e-5
    assert abs(r["return_level"] - level) < 1e-4


def test_rank_churn_topk_stay_new_shift(spark):
    from sparkcollector.operators.analytics import rank_churn_topk

    rows = (
        [(1, "a")] * 3 + [(1, "b")] * 2 + [(1, "c")]
        + [(2, "b")] * 5 + [(2, "c")] * 4 + [(2, "a")]
    )
    df = spark.createDataFrame(rows, "period long, key string")
    got = rank_churn_topk(df, "key", "period", k=2).collect()
    assert len(got) == 1 and got[0]["period"] == 2
    r = got[0]
    # p1 top2 = [a,b]; p2 top2 = [b,c]: b stays (2->1), c new
    assert (r["n_stay"], r["n_new"]) == (1, 1)
    assert r["overlap_share"] == 0.5 and r["mean_rank_shift"] == 1.0


def test_ece_calibration_hand_computed(spark):
    from sparkcollector.operators.analytics import ece_calibration

    rows = [(0.1, 0), (0.3, 1), (0.9, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, "p double, y int")
    got = {r["bin"]: r for r in ece_calibration(df, "p", "y", n_bins=2).collect()}
    # bin 0: probs {0.1,0.3} labels {0,1}; bin 1: {0.9,1.0} (1.0 folds in)
    assert got[0]["n"] == 2 and abs(got[0]["mean_prob"] - 0.2) < 1e-9
    assert abs(got[0]["frac_pos"] - 0.5) < 1e-9
    assert abs(got[0]["ece_term"] - 0.15) < 1e-9
    assert got[1]["n"] == 2 and abs(got[1]["mean_prob"] - 0.95) < 1e-9
    assert abs(got[1]["ece_term"] - 0.025) < 1e-9
    assert abs(sum(r["ece_term"] for r in got.values()) - 0.175) < 1e-9


def test_hill_tail_index_closed_form(spark):
    import math
    from sparkcollector.operators.analytics import hill_tail_index

    # values e^3 > e^2 > e^1 > e^0: sum ln(x_i/x_k) = 6 -> alpha = 3/6
    rows = [("k", i, math.e ** (3 - i)) for i in range(4)]
    df = spark.createDataFrame(rows, "key string, event_id long, value double")
    r = hill_tail_index(df, "key", k=4).collect()[0]
    assert r["k_used"] == 4 and abs(r["x_k"] - 1.0) < 1e-6
    assert abs(r["alpha_hat"] - 0.5) < 1e-6


def test_mann_whitney_shift_ranks_and_ties(spark):
    from sparkcollector.operators.analytics import mann_whitney_shift

    sep = [("s", 0, 1.0), ("s", 0, 2.0), ("s", 1, 3.0), ("s", 1, 4.0)]
    tie = [("t", 0, 1.0), ("t", 0, 1.0), ("t", 1, 1.0), ("t", 1, 2.0)]
    df = spark.createDataFrame(sep + tie, "key string, seg int, value double")
    got = {r["key"]: r for r in mann_whitney_shift(df, "key", "seg").collect()}
    # separated: R1 = 3, U = 0, z = -2/sqrt(5/3)
    s = got["s"]
    assert (s["n_a"], s["n_b"]) == (2, 2) and s["u_stat"] == 0.0
    assert abs(s["z_score"] - (-2 / (5 / 3) ** 0.5)) < 1e-4
    # tied block: average rank 2 for the three 1.0s -> R1 = 4, U = 1
    t = got["t"]
    assert t["u_stat"] == 1.0
    assert abs(t["z_score"] - (-1 / (5 / 3) ** 0.5)) < 1e-4


def test_hhi_concentration_closed_form(spark):
    from sparkcollector.operators.analytics import hhi_concentration

    rows = [("e", "a")] * 4 + [("e", "b")]
    df = spark.createDataFrame(rows, "dim string, user string")
    r = hhi_concentration(df, "dim", "user").collect()[0]
    assert (r["n_entities"], r["n_rows"]) == (2, 5)
    assert abs(r["hhi"] - 0.68) < 1e-9          # (4/5)^2 + (1/5)^2
    assert abs(r["effective_n"] - 25 / 17) < 1e-4


def test_welch_t_test_closed_form(spark):
    from sparkcollector.operators.analytics import welch_t_test

    rows = [("k", 0, v) for v in (1.0, 2.0, 3.0)] + [
        ("k", 1, v) for v in (2.0, 4.0, 6.0, 8.0)
    ]
    df = spark.createDataFrame(rows, "key string, seg int, value double")
    r = welch_t_test(df, "key", "seg").collect()[0]
    # means 2 vs 5, var 1 vs 20/3: t = -3/sqrt(1/3 + 5/3) = -2.1213
    assert (r["n_a"], r["n_b"]) == (3, 4) and r["mean_diff"] == -3.0
    assert abs(r["t_stat"] - (-3 / 2 ** 0.5)) < 1e-4
    dof = 4.0 / ((1 / 3) ** 2 / 2 + (5 / 3) ** 2 / 3)
    assert abs(r["df_welch"] - dof) < 1e-2


def test_cramers_v_two_by_two(spark):
    from sparkcollector.operators.analytics import cramers_v

    rows = (
        [("r1", "c1")] * 10 + [("r1", "c2")] * 20
        + [("r2", "c1")] * 20 + [("r2", "c2")] * 10
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = cramers_v(df, "r", "c").collect()[0]
    # all marginals 30, expected 15: chi2 = 4 * 25/15 = 20/3
    assert out["n"] == 60 and out["dof"] == 1
    assert abs(out["chi2"] - 20 / 3) < 1e-3
    assert abs(out["cramers_v"] - 1 / 3) < 1e-5


def test_wasserstein_drift_unit_shift(spark):
    from sparkcollector.operators.analytics import wasserstein_drift

    rows = [("k", 0, 0.0), ("k", 0, 1.0), ("k", 1, 1.0), ("k", 1, 2.0)]
    df = spark.createDataFrame(rows, "key string, seg int, value double")
    r = wasserstein_drift(df, "key", "seg").collect()[0]
    # segment B is segment A shifted by exactly 1 value unit
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert abs(r["w1_distance"] - 1.0) < 1e-9


def test_kendall_tau_daily_monotone_and_ties(spark):
    from sparkcollector.operators.analytics import kendall_tau_daily

    mono = [("m", i, float(i)) for i in range(1, 5)]
    tied = [("t", 1, 1.0), ("t", 2, 1.0), ("t", 3, 2.0)]
    df = spark.createDataFrame(mono + tied, "key string, b long, value double")
    got = {r["key"]: r for r in kendall_tau_daily(df, "key", "b").collect()}
    m = got["m"]
    assert (m["n_buckets"], m["concordant"], m["discordant"]) == (4, 6, 0)
    assert m["tau_b"] == 1.0
    # one tied pair: tau_b = 2 / sqrt(3 * 2)
    t = got["t"]
    assert (t["concordant"], t["discordant"]) == (2, 0)
    assert abs(t["tau_b"] - 2 / 6 ** 0.5) < 1e-4


def test_adjacency_violation_audit_alternation(spark):
    from sparkcollector.operators.analytics import adjacency_violation_audit

    rows = [
        ("A", 0, "u"), ("A", 1, "a"), ("A", 2, "u"), ("A", 3, "a"),
        ("B", 0, "u"), ("B", 1, "u"), ("B", 2, "a"),
    ]
    df = spark.createDataFrame(rows, "conv string, idx long, role string")
    got = {r["conv"]: r for r in
           adjacency_violation_audit(df, "conv", "idx", "role").collect()}
    assert got["A"]["adjacent_repeats"] == 0
    assert got["A"]["strictly_alternating"] is True
    assert got["B"]["adjacent_repeats"] == 1
    assert got["B"]["repeat_rate"] == 0.5
    assert got["B"]["strictly_alternating"] is False


def test_seasonality_strength_anova_closed_form(spark):
    from datetime import datetime
    from sparkcollector.operators.analytics import seasonality_strength

    rows = [
        ("k", datetime(2024, 1, 1, 0, 5), 1.0),
        ("k", datetime(2024, 1, 1, 0, 10), 2.0),
        ("k", datetime(2024, 1, 1, 1, 5), 3.0),
        ("k", datetime(2024, 1, 1, 1, 10), 4.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    r = seasonality_strength(df, "key").collect()[0]
    # SS_t = 30 - 25 = 5; SS_b = 29 - 25 = 4; SS_w = 1
    assert (r["n"], r["n_hours"]) == (4, 2)
    assert abs(r["eta_sq"] - 0.8) < 1e-9
    assert abs(r["f_stat"] - 8.0) < 1e-9


def test_lead_lag_xcorr_shifted_series(spark):
    from datetime import datetime
    from sparkcollector.operators.analytics import lead_lag_xcorr

    def d(day, key, v):
        return (key, datetime(2024, 1, 1 + day, 12, 0), v)

    rows = [d(0, "a", 1.0), d(1, "a", 2.0), d(2, "a", 4.0),
            d(1, "b", 1.0), d(2, "b", 2.0), d(3, "b", 4.0)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    got = {r["lag"]: r for r in lead_lag_xcorr(df, "key", max_lag=3).collect()}
    # 4-day grid: lags ±3 have overlap 1 < 2 and are dropped
    assert len(got) == 5 and all(r["key_a"] == "a" for r in got.values())
    # b IS a delayed by one day: perfect correlation at lag +1
    assert got[1]["n_overlap"] == 3 and got[1]["xcorr"] == 1.0
    assert got[0]["xcorr"] < 1.0


def test_cliffs_delta_bands(spark):
    from sparkcollector.operators.analytics import cliffs_delta

    rows = (
        [("k", 0, 1.0), ("k", 0, 2.0), ("k", 1, 3.0), ("k", 1, 4.0)]
        + [("t", 0, 1.0), ("t", 0, 3.0), ("t", 1, 2.0), ("t", 1, 3.0)]
    )
    df = spark.createDataFrame(rows, "key string, seg int, value double")
    got = {r["key"]: r for r in cliffs_delta(df, "key", "seg").collect()}
    # complete separation: every A below every B
    assert got["k"]["cliffs_delta"] == -1.0
    assert got["k"]["magnitude"] == "large"
    # 1 win, 2 losses, 1 tie of 4 pairs: delta -0.25 -> small
    assert got["t"]["cliffs_delta"] == -0.25
    assert got["t"]["magnitude"] == "small"


def test_brier_decomposition_murphy_identity(spark):
    from sparkcollector.operators.analytics import brier_decomposition

    perfect = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 1.0), (0.0, 0.0), (0.0, 0.0)],
        "p double, y double",
    )
    r = brier_decomposition(perfect, "p", "y").collect()[0]
    assert (r["brier_score"], r["reliability"]) == (0.0, 0.0)
    assert (r["resolution"], r["uncertainty"]) == (0.25, 0.25)
    flat = spark.createDataFrame(
        [(0.75, 1.0), (0.75, 0.0)], "p double, y double"
    )
    r = brier_decomposition(flat, "p", "y").collect()[0]
    # within-bin-constant forecast: BRIER = REL - RES + UNC exactly
    assert r["brier_score"] == 0.3125 and r["reliability"] == 0.0625
    assert r["resolution"] == 0.0 and r["uncertainty"] == 0.25
    assert abs(r["reliability"] - r["resolution"] + r["uncertainty"]
               - r["brier_score"]) < 1e-9


def test_km_survival_hand_computed(spark):
    import datetime

    from sparkcollector.operators.analytics import km_survival

    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)

    def span(uid, first_d, last_d):
        return [(uid, t0 + first_d * day), (uid, t0 + last_d * day)]

    rows = []
    rows += span(1, 0, 1)    # lifetime 1, dies (last << max-7d)
    rows += span(2, 0, 1)    # lifetime 1, dies
    rows += span(3, 0, 3)    # lifetime 3, dies
    rows += span(4, 0, 30)   # lifetime 30, censored (at corpus end)
    rows += span(5, 0, 28)   # lifetime 28, censored (within 7d of end)
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["duration_day"]: r for r in
           km_survival(df, "user_id", "ts", horizon_days=7).collect()}
    # day 1: 5 at risk, 2 deaths -> S = 1 - 2/5 = 0.6
    assert got[1]["n_risk"] == 5 and got[1]["deaths"] == 2
    assert abs(got[1]["survival"] - 0.6) < 1e-9
    # day 3: 3 at risk, 1 death -> S = 0.6 * (1 - 1/3) = 0.4
    assert got[3]["n_risk"] == 3 and got[3]["deaths"] == 1
    assert abs(got[3]["survival"] - 0.4) < 1e-9
    # day 28: censored only -> factor 1, S stays 0.4
    assert got[28]["deaths"] == 0 and got[28]["censored"] == 1
    assert abs(got[28]["survival"] - 0.4) < 1e-9
    # censoring matters: naive curve would call users 4/5 deaths
    assert got[30]["censored"] == 1


def test_page_hinkley_detects_level_shift(spark):
    from sparkcollector.operators.analytics import page_hinkley

    # flat at 10 for 20 points, then jumps to 30: PH must alarm after
    # the shift, never before.
    rows = [("k", i, 10.0) for i in range(20)]
    rows += [("k", 20 + i, 30.0) for i in range(10)]
    # control series: flat forever, never alarms
    rows += [("q", i, 10.0) for i in range(30)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    got = {r["key"]: r for r in
           page_hinkley(df, "key", "o", "x", delta=0.5, lam=25.0).collect()}
    assert got["k"]["alarmed"] is True
    assert got["k"]["alarm_idx"] > 20        # fires only after the shift
    assert got["q"]["alarmed"] is False and got["q"]["alarm_idx"] is None
    assert got["q"]["ph_max"] < 1.0
    # hand-check the fold on a 3-point series: x=[0,0,30], delta=0
    # t1: mean 0, m=0;  t2: m=0;  t3: mean=10, m=20, min=0 -> PH=20
    df2 = spark.createDataFrame(
        [("z", 1, 0.0), ("z", 2, 0.0), ("z", 3, 30.0)],
        "key string, o long, x double",
    )
    r2 = page_hinkley(df2, "key", "o", "x", delta=0.0, lam=15.0).collect()[0]
    assert abs(r2["ph_max"] - 20.0) < 1e-9
    assert r2["alarmed"] is True and r2["alarm_idx"] == 3


def test_qq_shift_localizes_tail_move(spark):
    from sparkcollector.operators.analytics import qq_shift

    # seg 0: 1..100 ; seg 1: same body but the top decile doubled —
    # shift must be ~0 at p10..p80 and large at p90.
    rows = [("k", 0, float(v)) for v in range(1, 101)]
    rows += [("k", 1, float(v)) for v in range(1, 91)]
    rows += [("k", 1, float(v * 2)) for v in range(91, 101)]
    df = spark.createDataFrame(rows, "key string, seg int, value double")
    got = {r["pct"]: r for r in qq_shift(df, "key", "seg").collect()}
    assert len(got) == 9
    assert got[10]["n_a"] == 100 and got[10]["n_b"] == 100
    assert abs(got[50]["shift"]) < 1e-6
    assert abs(got[80]["shift"]) < 1e-6
    # p90 rank = 99*0.9 = 89.1 -> interpolates 90 + 0.1*(182-90) = 99.2
    # vs seg0's 90.1: shift = 9.1 exactly (hand-computed boundary)
    assert abs(got[90]["shift"] - 9.1) < 1e-6
    # q_a at p50 of 1..100 = 50.5 (exact interpolation)
    assert abs(got[50]["q_a"] - 50.5) < 1e-9


def test_eb_shrunk_rates_shrinks_thin_keys(spark):
    from sparkcollector.operators.analytics import eb_shrunk_rates

    rows = []
    # 20 keys with 100 obs each at rates spread around 0.3
    for k in range(20):
        rate = 0.2 + 0.01 * k
        rows += [(f"big{k}", i < int(100 * rate)) for i in range(100)]
    # one thin key: 1/1 = raw rate 1.0 — must shrink hard toward pooled
    rows += [("thin", True)]
    df = spark.createDataFrame(rows, "key string, ok boolean")
    got = {r["key"]: r for r in eb_shrunk_rates(df, "key", "ok").collect()}
    t = got["thin"]
    assert t["raw_rate"] == 1.0
    assert t["prior_alpha"] is not None and t["prior_alpha"] > 0
    assert t["shrunk_rate"] < 0.8            # pulled toward ~0.3 pool
    big = got["big19"]                       # 29/100
    assert abs(big["shrunk_rate"] - big["raw_rate"]) < abs(
        t["shrunk_rate"] - t["raw_rate"]
    )                                        # big keys barely move
    # degenerate: all keys identical rate -> zero variance -> fallback
    df2 = spark.createDataFrame(
        [("a", True), ("a", False), ("b", True), ("b", False)],
        "key string, ok boolean",
    )
    got2 = eb_shrunk_rates(df2, "key", "ok").collect()[0]
    assert got2["prior_alpha"] is None and got2["shrunk_rate"] == 0.5


def test_average_precision_known_rankings(spark):
    from sparkcollector.operators.analytics import average_precision

    # perfect ranking, no ties: positives at scores 4,3 -> AP = 1
    rows = [("p", 4.0, 1), ("p", 3.0, 1), ("p", 2.0, 0), ("p", 1.0, 0)]
    # worst ranking: positives at the bottom -> AP = (1/3 + 2/4)/2
    rows += [("w", 4.0, 0), ("w", 3.0, 0), ("w", 2.0, 1), ("w", 1.0, 1)]
    # all tied, 2 of 4 positive: enumerating the 6 arrangements of
    # RRNN gives mean AP = (1 + 5/6 + 3/4 + 7/12 + 1/2 + 5/12)/6
    # = 49/72 — the hypergeometric expectation, NOT p/n.
    rows += [("t", 1.0, 1), ("t", 1.0, 1), ("t", 1.0, 0), ("t", 1.0, 0)]
    df = spark.createDataFrame(rows, "key string, score double, label int")
    got = {r["key"]: r for r in
           average_precision(df, "key", "score", "label").collect()}
    assert got["p"]["avg_precision"] == 1.0
    assert abs(got["w"]["avg_precision"] - (1 / 3 + 2 / 4) / 2) < 1e-6
    assert abs(got["t"]["avg_precision"] - 49 / 72) < 1e-6
    assert got["t"]["n_pos"] == 2


def test_ndcg_at_k_known_rankings(spark):
    from sparkcollector.operators.analytics import ndcg_at_k
    import math

    d = lambda r: 1.0 / math.log2(r + 1)  # noqa: E731
    # perfect ranking: positives at ranks 1,2 -> nDCG = 1
    rows = [("p", 4.0, 1), ("p", 3.0, 1), ("p", 2.0, 0), ("p", 1.0, 0)]
    # worst: positives at ranks 3,4
    rows += [("w", 4.0, 0), ("w", 3.0, 0), ("w", 2.0, 1), ("w", 1.0, 1)]
    # all tied: expected gain p/n = 0.5 at every rank
    rows += [("t", 1.0, 1), ("t", 1.0, 1), ("t", 1.0, 0), ("t", 1.0, 0)]
    df = spark.createDataFrame(rows, "key string, score double, label int")
    got = {r["key"]: r for r in
           ndcg_at_k(df, "key", "score", "label", k=10).collect()}
    idcg = d(1) + d(2)
    assert got["p"]["ndcg_at_10"] == 1.0
    assert abs(got["w"]["dcg_at_10"] - (d(3) + d(4))) < 1e-6
    assert abs(got["t"]["dcg_at_10"]
               - 0.5 * (d(1) + d(2) + d(3) + d(4))) < 1e-6
    assert abs(got["t"]["ndcg_at_10"]
               - 0.5 * (d(1) + d(2) + d(3) + d(4)) / idcg) < 1e-6
    # k truncation: positives beyond rank k contribute nothing
    rows2 = [("z", float(10 - i), 1 if i >= 2 else 0) for i in range(4)]
    df2 = spark.createDataFrame(rows2, "key string, score double, label int")
    r2 = ndcg_at_k(df2, "key", "score", "label", k=2).collect()[0]
    assert r2["dcg_at_2"] == 0.0 and r2["ndcg_at_2"] == 0.0


def test_holt_winters_seasonal_learns_cycle(spark):
    from sparkcollector.operators.analytics import holt_winters_seasonal

    # season length 4, three full cycles of [10, 20, 10, 20] plus a
    # rising trend of +1 per step.
    vals = [10.0 + (i % 2) * 10 + i for i in range(12)]
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    r = holt_winters_seasonal(
        df, "key", "o", "x", season=2, alpha=0.5, beta=0.2, gamma=0.5
    ).collect()[0]
    assert r["n_points"] == 12
    # the trend must be learned positive, the level near the series end
    assert r["trend"] > 0
    assert 10.0 < r["level"] < 35.0
    # hand-fold the same recurrence in python and compare bit-for-bit
    a, b, g = 0.5, 0.2, 0.5
    st = [0.0] * 4  # [l, t, s1, s2]
    for x in vals:
        l0, t0, s0 = st[0], st[1], st[2]
        ln = a * (x - s0) + (1 - a) * (l0 + t0)
        tn = b * (ln - l0) + (1 - b) * t0
        sn = g * (x - ln) + (1 - g) * s0
        st = [ln, tn, st[3], sn]
    assert abs(r["level"] - round(st[0], 6)) < 1e-9
    assert abs(r["forecast_next"] - round(st[0] + st[1] + st[2], 6)) < 1e-9


def test_sprt_decisions(spark):
    from sparkcollector.operators.analytics import sprt_test

    # high converter: 40/100 per bucket >> p1 -> accept H1 fast
    rows = [("hi", d, 100, 40) for d in range(10)]
    # low converter: 10/100 per bucket << p0 -> accept H0
    rows += [("lo", d, 100, 10) for d in range(10)]
    # boundary: exactly between p0 and p1 drifts slowly -> undecided
    # with only two thin buckets
    rows += [("mid", 0, 10, 3), ("mid", 1, 10, 3)]
    df = spark.createDataFrame(rows, "key string, day long, n long, s long")
    got = {r["key"]: r for r in
           sprt_test(df, "key", "day", "n", "s", 0.25, 0.35).collect()}
    assert got["hi"]["decision"] == "accept_h1"
    assert got["lo"]["decision"] == "accept_h0"
    assert got["hi"]["decided_at_bucket"] == 1   # one rich bucket decides
    assert got["mid"]["decision"] == "undecided"
    assert got["mid"]["decided_at_bucket"] is None
    # frozen after decision: llr stops accumulating
    import math
    lr1, lr0 = math.log(0.35 / 0.25), math.log(0.65 / 0.75)
    first = 40 * lr1 + 60 * lr0
    assert abs(got["hi"]["final_llr"] - round(first, 6)) < 1e-9


def test_effective_sample_size_autocorr(spark):
    from sparkcollector.operators.analytics import effective_sample_size

    # strongly autocorrelated series (slow ramp): n_eff << n
    rows = [("ar", i, float(i)) for i in range(20)]
    # alternating series: negative r1 -> n_eff ~ capped at n
    rows += [("alt", i, float(i % 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    got = {r["key"]: r for r in
           effective_sample_size(df, "key", "o", "x").collect()}
    assert got["ar"]["lag1_autocorr"] > 0.8
    assert got["ar"]["n_eff"] < 5.0
    assert got["alt"]["lag1_autocorr"] < 0
    assert got["alt"]["n_eff"] == 20.0           # clamped at n
    assert got["ar"]["corrected_se"] > 0


def test_transaction_assemble_maxpause_maxspan(spark):
    from sparkcollector.operators.analytics import transaction_assemble
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # gaps 10,10,10 then the span cap (25s) splits; a 100s pause splits
    secs = [0, 10, 20, 30, 130, 140]
    rows = [("u", base + dt.timedelta(seconds=s), i) for i, s in enumerate(secs)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, id long")
    out = transaction_assemble(
        df, "key", "ts", "id", maxpause=50.0, maxspan=25.0
    ).orderBy("txn").collect()
    assert [(r["txn"], r["eventcount"], r["duration_s"]) for r in out] == [
        (1, 3, 20.0),   # 0,10,20 — event at 30 would exceed span 25
        (2, 1, 0.0),    # 30 alone (next gap 100 > maxpause 50)
        (3, 2, 10.0),   # 130,140
    ]


def test_transaction_assemble_pause_only(spark):
    from sparkcollector.operators.analytics import transaction_assemble
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [("u", base + dt.timedelta(seconds=s), i)
            for i, s in enumerate([0, 10, 200, 210])]
    df = spark.createDataFrame(rows, "key string, ts timestamp, id long")
    out = transaction_assemble(
        df, "key", "ts", "id", maxpause=60.0, maxspan=1e9
    ).orderBy("txn").collect()
    assert [(r["txn"], r["eventcount"]) for r in out] == [(1, 2), (2, 2)]


def test_periodogram_peak_detects_sine_period(spark):
    import math

    from sparkcollector.operators.analytics import periodogram_peak

    rows = [("k", t, 10.0 + 5.0 * math.sin(2 * math.pi * t / 12.0))
            for t in range(96)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    r = periodogram_peak(df, "key", "o", "x").collect()[0]
    assert r["best_period"] == 12
    # clean sinusoid: power = n * A^2 / 4 = 96 * 25 / 4
    assert abs(r["best_power"] - 600.0) < 1e-6


def test_periodogram_peak_min_points_filter(spark):
    from sparkcollector.operators.analytics import periodogram_peak

    rows = [("short", t, float(t)) for t in range(5)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    assert periodogram_peak(df, "key", "o", "x").count() == 0


def test_nelson_rules_closed_form(spark):
    from sparkcollector.operators.analytics import nelson_rules

    # a: one 3-sigma spike; the 14 trailing below-center points give
    # run lengths 1..14 -> six points with |run| >= 9
    rows = [("a", i, 10.0 + (50.0 if i == 5 else 0.0)) for i in range(20)]
    # b: 10 above then 10 below -> two points per run at lengths 9,10
    rows += [("b", i, 12.0 if i < 10 else 8.0) for i in range(20)]
    # c: strictly increasing 12 points -> trend steps 1..11, >=5 at 5..11
    rows += [("c", i, float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "key string, o long, x double")
    got = {r["key"]: r for r in nelson_rules(df, "key", "o", "x").collect()}
    assert got["a"]["rule1_points"] == 1
    assert got["a"]["rule2_points"] == 6
    assert got["b"]["rule1_points"] == 0
    assert got["b"]["rule2_points"] == 4
    assert got["c"]["rule3_points"] == 7
    assert got["c"]["rule1_points"] == 0


def test_chi_square_gof_closed_form(spark):
    from sparkcollector.operators.analytics import chi_square_gof

    # global mix: a=140/200, b=60/200; both keys n=100 -> E=(70,30)
    rows = [("d1", "a")] * 50 + [("d1", "b")] * 50
    rows += [("d2", "a")] * 90 + [("d2", "b")] * 10
    df = spark.createDataFrame(rows, "key string, cat string")
    got = {r["key"]: r for r in chi_square_gof(df, "key", "cat").collect()}
    # chi2 = 20^2/70 + 20^2/30 for both keys (symmetric deviations)
    assert abs(got["d1"]["chi2"] - (400 / 70 + 400 / 30)) < 1e-5
    assert got["d1"]["k_cats"] == 2
    assert got["d1"]["drifted"] and got["d2"]["drifted"]
    # Wilson-Hilferty df=1 ~ 3.75 (true 3.84)
    assert 3.5 < got["d1"]["crit95"] < 4.0


def test_chi_square_gof_missing_category_counts_full_e(spark):
    from sparkcollector.operators.analytics import chi_square_gof

    rows = [("d1", "a")] * 80 + [("d1", "b")] * 20 + [("d2", "a")] * 100
    df = spark.createDataFrame(rows, "key string, cat string")
    got = {r["key"]: r for r in chi_square_gof(df, "key", "cat").collect()}
    assert got["d2"]["k_cats"] == 2              # global list, not per-key
    # d2: O=(100,0), E=(90,10) -> 100/90 + 100/10
    assert abs(got["d2"]["chi2"] - (100 / 90 + 10.0)) < 1e-5


def test_kruskal_wallis_shift_and_ties(spark):
    from sparkcollector.operators.analytics import kruskal_wallis

    # clean separation: H = 12/(20*21)*(55^2/10 + 155^2/10) - 63
    rows = [("k", "a", float(i)) for i in range(1, 11)]
    rows += [("k", "b", float(i)) for i in range(11, 21)]
    # all-tied key: every value equal -> midranks equal -> H = 0, C = 0
    rows += [("t", "a", 5.0)] * 4 + [("t", "b", 5.0)] * 4
    df = spark.createDataFrame(rows, "key string, grp string, v double")
    got = {r["key"]: r for r in
           kruskal_wallis(df, "key", "grp", "v").collect()}
    assert abs(got["k"]["h"] - 14.285714) < 1e-5
    assert got["k"]["significant"]
    assert abs(got["t"]["h"]) < 1e-9
    assert got["t"]["h_corrected"] is None      # full-tie: C = 0
    assert not got["t"]["significant"]


def test_ks_two_sample_hand_computed(spark):
    from sparkcollector.operators.analytics import ks_two_sample

    rows = [("k", True, 1.0), ("k", True, 2.0), ("k", True, 3.0),
            ("k", False, 2.0), ("k", False, 3.0), ("k", False, 4.0),
            # tie-heavy key: a=[1,1], b=[1,2] -> D at v=1 is 1-0.5=0.5
            ("t", True, 1.0), ("t", True, 1.0),
            ("t", False, 1.0), ("t", False, 2.0)]
    df = spark.createDataFrame(rows, "key string, is_a boolean, v double")
    got = {r["key"]: r for r in
           ks_two_sample(df, "key", "is_a", "v").collect()}
    assert abs(got["k"]["d"] - round(1 / 3, 6)) < 1e-12
    assert got["k"]["n_a"] == 3 and got["k"]["n_b"] == 3
    assert got["t"]["d"] == 0.5
    # crit95 for n=3,3: 1.3581... * sqrt(6/9)
    import math
    assert abs(got["k"]["crit95"]
               - round(1.3581015157406195 * math.sqrt(6 / 9), 6)) < 1e-12
    assert not got["k"]["significant"]


def test_mann_kendall_trend_hand_computed(spark):
    import math

    from sparkcollector.operators.analytics import mann_kendall_trend

    rows = [("up", i, i * 10) for i in range(10)]          # S=45
    rows += [("flat", i, 7) for i in range(4)]             # all tied: S=0
    rows += [("tie", 0, 1), ("tie", 1, 1), ("tie", 2, 2)]  # S=2
    df = spark.createDataFrame(rows, "key string, b int, v long")
    got = {r["key"]: r for r in
           mann_kendall_trend(df, "key", "b", "v").collect()}
    assert got["up"]["s"] == 45
    assert abs(got["up"]["z"] - round(44 / math.sqrt(125.0), 6)) < 1e-12
    assert got["up"]["trend"] == "increasing"
    # fully tied series: Var = (n(n-1)(2n+5) - t(t-1)(2t+5))/18 = 0 -> z=0
    assert got["flat"]["s"] == 0 and got["flat"]["z"] == 0.0
    assert got["flat"]["trend"] == "no trend"
    assert got["tie"]["s"] == 2
    assert abs(got["tie"]["var_s"] - round(48 / 18, 6)) < 1e-12


def test_friedman_test_hand_computed(spark):
    from sparkcollector.operators.analytics import friedman_test

    # classic complete design: treatment c dominates every block ->
    # R = (3, 6, 9), Q = 2*18/6 = 6 > WH crit(df=2) ~= 5.937
    rows = [("k", b, t, v) for b, vals in
            [(1, [1.0, 2.0, 3.0]), (2, [1.5, 2.5, 3.5]),
             (3, [0.5, 1.0, 9.0])]
            for t, v in zip(["a", "b", "c"], vals)]
    rows.append(("k", 4, "a", 1.0))      # incomplete block -> dropped
    rows.append(("k", 4, "b", 2.0))
    df = spark.createDataFrame(rows, "key string, blk int, trt string, v double")
    got = friedman_test(df, "key", "blk", "trt", "v").collect()[0]
    assert got["n_blocks"] == 3 and got["k_treatments"] == 3
    assert got["q"] == 6.0 and got["significant"]


def test_friedman_test_ties_and_null_q(spark):
    from sparkcollector.operators.analytics import friedman_test

    # every block fully tied -> denom = A - C = 0 -> Q NULL, not inf
    rows = [("k", b, t, 1.0) for b in (1, 2) for t in ("a", "b")]
    df = spark.createDataFrame(rows, "key string, blk int, trt string, v double")
    got = friedman_test(df, "key", "blk", "trt", "v").collect()[0]
    assert got["q"] is None and not got["significant"]


def test_hurst_rs_hand_computed_blocks(spark):
    import math

    from sparkcollector.operators.analytics import hurst_rs

    rows = [("k", i, i + 1) for i in range(4)]          # 1,2,3,4
    rows += [("flat", i, 5) for i in range(4)]          # zero variance
    df = spark.createDataFrame(rows, "key string, b int, v long")
    got = {r["key"]: r for r in
           hurst_rs(df, "key", "b", "v", block_sizes=(2, 4)).collect()}
    # m=2 blocks [1,2],[3,4]: R_num=1, I=1 -> rs=1 each; m=4: R_num=8,
    # I=20 -> rs=8/sqrt(20); H = log2(rs4) - log2(rs2)
    rs4 = 8 / math.sqrt(20)
    assert got["k"]["rs2"] == 1.0
    assert abs(got["k"]["rs4"] - round(rs4, 6)) < 1e-12
    assert abs(got["k"]["hurst"] - round(math.log2(rs4), 6)) < 1e-6
    assert "flat" not in got                            # I=0 blocks skipped


def test_permutation_entropy_regular_vs_alternating(spark):
    import math

    from sparkcollector.operators.analytics import permutation_entropy

    rows = [("mono", i, float(i)) for i in range(10)]
    rows += [("alt", i, float(i % 2)) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, b int, v double")
    got = {r["key"]: r for r in
           permutation_entropy(df, "key", "b", "v").collect()}
    assert got["mono"]["pe"] == 0.0                     # single pattern
    assert got["mono"]["n_windows"] == 8
    # alternating: exactly two patterns, 50/50 -> PE = 1/log2(6)
    assert abs(got["alt"]["pe"] - round(1 / math.log2(6), 6)) < 1e-12


def test_brown_forsythe_hand_computed(spark):
    from sparkcollector.operators.analytics import brown_forsythe

    rows = [("k", "g1", v) for v in (1.0, 2.0, 3.0)]
    rows += [("k", "g2", v) for v in (10.0, 20.0, 30.0)]
    df = spark.createDataFrame(rows, "key string, grp string, v double")
    got = brown_forsythe(df, "key", "grp", "v").collect()[0]
    # z1=(1,0,1), z2=(10,0,10): F = 54/((202/3)/4) = 648/202
    assert got["bf_f"] == round(648 / 202, 4)
    assert got["df1"] == 1 and got["df2"] == 4


def test_brown_forsythe_even_count_median(spark):
    from sparkcollector.operators.analytics import brown_forsythe

    # degenerate: z constant within every group -> ss_w = 0 -> F NULL
    rows = [("k", "a", 1.0), ("k", "a", 3.0),
            ("k", "b", 9.0), ("k", "b", 11.0)]
    df = spark.createDataFrame(rows, "key string, grp string, v double")
    got = brown_forsythe(df, "key", "grp", "v").collect()[0]
    assert got["bf_f"] is None
    # even-count median (3+10)/2=6.5; identical z profiles -> F = 0
    rows2 = [("k", g, base + v) for g, base in (("a", 0.0), ("b", 100.0))
             for v in (0.0, 3.0, 10.0, 20.0)]
    df2 = spark.createDataFrame(rows2, "key string, grp string, v double")
    got2 = brown_forsythe(df2, "key", "grp", "v").collect()[0]
    assert got2["bf_f"] == 0.0 and got2["df2"] == 6


def test_markov_entropy_rate_hand_computed(spark):
    from sparkcollector.operators.analytics import markov_entropy_rate

    # deterministic cycle a->b->a->b: every state fully predictable
    det = [("k", 1, t, s) for t, s in enumerate(["a", "b"] * 5)]
    # coin state: a -> {a,b} 50/50, b -> a always
    rnd = [("r", 1, t, s) for t, s in
           enumerate(["a", "a", "b", "a", "b", "a", "a", "b", "a"])]
    df = spark.createDataFrame(det + rnd, "key string, seq int, o int, s string")
    got = {r["key"]: r for r in
           markov_entropy_rate(df, "key", "seq", ["o"], "s").collect()}
    assert got["k"]["entropy_rate"] == 0.0
    assert got["k"]["n_transitions"] == 9 and got["k"]["n_states"] == 2
    # r: from a (5 transitions: a->a x2, a->b x3)... compute directly
    import math
    pa, pb = 2 / 5, 3 / 5
    ha = round(-pa * math.log2(pa), 10) + round(-pb * math.log2(pb), 10)
    # from b: b->a always -> H=0; pi_a = 5/8
    exp = round(round((5 / 8) * ha, 10) + 0.0, 6)
    assert abs(got["r"]["entropy_rate"] - exp) < 1e-9


def test_jarque_bera_symmetric_sample(spark):
    from sparkcollector.operators.analytics import jarque_bera

    rows = [("k", float(i)) for i in range(1, 9)]     # 1..8, symmetric
    df = spark.createDataFrame(rows, "key string, v double")
    got = jarque_bera(df, "key", "v").collect()[0]
    assert got["skew"] == 0.0                          # exact symmetry
    # uniform-ish: platykurtic, JB small -> not significant
    m2, m4 = 5.25, 48.5625
    k = m4 / (m2 * m2) - 3.0
    assert got["ex_kurt"] == round(k, 6)
    assert got["jb"] == round(8 / 6 * (k * k / 4), 4)
    assert not got["significant"]
    # constant series (m2=0) excluded entirely
    dfc = spark.createDataFrame([("c", 1.0)] * 10, "key string, v double")
    assert jarque_bera(dfc, "key", "v").count() == 0


def test_pettitt_test_level_shift(spark):
    import math

    from sparkcollector.operators.analytics import pettitt_test

    rows = [("k", f"b{i}", v) for i, v in
            enumerate([1.0, 1.0, 1.0, 10.0, 10.0, 10.0])]
    df = spark.createDataFrame(rows, "key string, b string, v double")
    got = pettitt_test(df, "key", "b", "v").collect()[0]
    assert got["k_stat"] == 9 and got["change_bucket"] == "b2"
    p = min(1.0, 2 * math.exp(-6 * 81 / (216 + 36)))
    assert got["p_approx"] == round(p, 6)
    assert not got["significant"]                      # n=6 too small


def test_dunn_posthoc_hand_computed(spark):
    import math

    from sparkcollector.operators.analytics import dunn_posthoc

    rows = [("k", "g1", v) for v in (1.0, 2.0, 3.0)]
    rows += [("k", "g2", v) for v in (10.0, 20.0, 30.0)]
    df = spark.createDataFrame(rows, "key string, grp string, v double")
    got = dunn_posthoc(df, "key", "grp", "v").collect()[0]
    assert got["mean_rank_1"] == 2.0 and got["mean_rank_2"] == 5.0
    z = -3 / math.sqrt(3.5 * (2 / 3))
    assert abs(got["z"] - round(z, 6)) < 1e-12
    assert not got["significant"]                      # |z| < 2.807


def test_median_polish_hand_grid(spark):
    from sparkcollector.operators.analytics import median_polish

    # 3x3 additive grid + one spiked cell: polish should localize it
    rows = []
    row_eff = {"r0": 0.0, "r1": 10.0, "r2": 20.0}
    col_eff = {"c0": 0.0, "c1": 1.0, "c2": 2.0}
    for r, re_ in row_eff.items():
        for c, ce in col_eff.items():
            v = re_ + ce + (100.0 if (r, c) == ("r1", "c2") else 0.0)
            rows.append(("k", r, c, v))
    df = spark.createDataFrame(rows, "key string, r string, c string, v double")
    got = {(x["r"], x["c"]): x for x in
           median_polish(df, "key", "r", "c", "v").collect()}
    assert got[("r1", "c2")]["outlier"]
    clean = [x for k, x in got.items() if k != ("r1", "c2")]
    assert all(not x["outlier"] for x in clean)
    assert got[("r0", "c0")]["resid"] == 0.0
    # additive part recovered up to the common constant
    assert got[("r2", "c1")]["resid"] == 0.0


def test_ols_trend_exact_line_and_r2(spark):
    from sparkcollector.operators.analytics import ols_trend

    rows = [("k", x, 3 * x + 7) for x in range(10)]          # perfect fit
    rows += [("z", x, [5, 9, 4, 12][x]) for x in range(4)]   # noisy
    df = spark.createDataFrame(rows, "key string, x long, y long")
    got = {r["key"]: r for r in ols_trend(df, "key", "x", "y").collect()}
    assert got["k"]["slope"] == 3.0 and got["k"]["intercept"] == 7.0
    assert got["k"]["r2"] == 1.0
    # hand power sums for z: n=4 sx=6 sy=30 sxy=53 sxx=14 syy=266
    num, denx, deny = 4 * 53 - 6 * 30, 4 * 14 - 36, 4 * 266 - 900
    assert got["z"]["slope"] == round(num / denx, 6)
    assert got["z"]["r2"] == round(num * num / (denx * deny), 6)


def test_circuit_breaker_replay_scripted(spark):
    from sparkcollector.operators.analytics import circuit_breaker_replay

    seq = [True, True, False, False, True, False]
    rows = [("svc", i, f) for i, f in enumerate(seq)]
    df = spark.createDataFrame(rows, "svc string, o int, fail boolean")
    got = circuit_breaker_replay(
        df, "svc", ["o"], "fail", fail_threshold=2, cooldown=2
    ).collect()[0]
    # f,f -> trip(1); s,s rejected (cd 2->0, half); f -> trip(2);
    # s rejected (cd 2->1, still open)
    assert got["trips"] == 2 and got["n_rejected"] == 3
    assert got["final_state"] == "open" and got["n_events"] == 6
    # all-success service never trips
    ok = [("ok", i, False) for i in range(5)]
    df2 = spark.createDataFrame(ok, "svc string, o int, fail boolean")
    got2 = circuit_breaker_replay(df2, "svc", ["o"], "fail").collect()[0]
    assert got2["trips"] == 0 and got2["final_state"] == "closed"


def test_wilson_interval_hand_computed(spark):
    import math

    from sparkcollector.operators.analytics import wilson_interval

    rows = [("k", i < 3) for i in range(10)]     # 3/10
    rows += [("z", False)] * 5                   # 0/5 -> lo == 0
    df = spark.createDataFrame(rows, "key string, s boolean")
    got = {r["key"]: r for r in wilson_interval(df, "key", "s").collect()}
    z = 1.959963984540054
    z2 = z * z
    p, n = 0.3, 10.0
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / denom
    assert got["k"]["lo"] == round(center - half, 6)
    assert got["k"]["hi"] == round(center + half, 6)
    assert got["z"]["lo"] == 0.0 and got["z"]["rate"] == 0.0
    assert got["z"]["hi"] > 0.0                  # Wilson never collapses


def test_bh_fdr_step_up(spark):
    from sparkcollector.operators.analytics import bh_fdr

    # classic example: m=4, p=(.01,.02,.03,.20), q=.1
    # padj = (.04, .04, .04, .20) -> first three rejected
    rows = [(1, 0.01), (2, 0.02), (3, 0.03), (4, 0.20)]
    df = spark.createDataFrame(rows, "tid long, p double")
    got = {r["tid"]: r for r in bh_fdr(df, "tid", "p", q=0.1).collect()}
    assert got[1]["p_adj"] == 0.04 and got[1]["reject"]
    assert got[2]["p_adj"] == 0.04 and got[2]["reject"]
    assert got[3]["p_adj"] == 0.04 and got[3]["reject"]
    assert got[4]["p_adj"] == 0.2 and not got[4]["reject"]
    assert [got[i]["rank"] for i in (1, 2, 3, 4)] == [1, 2, 3, 4]


def test_ltob_downsample_keeps_spike_and_edges(spark):
    from sparkcollector.operators.analytics import ltob_downsample

    ys = [10.0] * 30
    ys[17] = 500.0                                   # the spike
    rows = [("k", float(i), y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    got = ltob_downsample(df, "key", "x", "y", n_out=6).collect()
    xs = sorted(r["x"] for r in got)
    assert xs[0] == 0.0 and xs[-1] == 29.0           # edges kept
    assert 17.0 in xs                                # spike survives
    assert len(got) == 6                             # 2 edges + 4 buckets
    # series shorter than n_out passes through unchanged
    small = spark.createDataFrame(rows[:5], "key string, x double, y double")
    assert ltob_downsample(small, "key", "x", "y", n_out=6).count() == 5


def test_savgol_smooth_reproduces_quadratics(spark):
    from sparkcollector.operators.analytics import savgol_smooth

    rows = [("k", i, float(2 * i * i - 3 * i + 5)) for i in range(9)]
    df = spark.createDataFrame(rows, "key string, b int, v double")
    got = {r["b"]: r for r in savgol_smooth(df, "key", "b", "v").collect()}
    # SG(5, quadratic) is exact on quadratics away from the edges
    for b in range(2, 7):
        assert got[b]["v_smooth"] == got[b]["v"]
        assert got[b]["resid"] == 0.0
    assert got[0]["v_smooth"] is None and got[8]["v_smooth"] is None


def test_kneedle_detect_sqrt_curve(spark):
    import math

    from sparkcollector.operators.analytics import kneedle_detect

    pts = [(i / 20, math.sqrt(i / 20)) for i in range(21)]
    df = spark.createDataFrame([("k", x, y) for x, y in pts],
                               "key string, x double, y double")
    got = kneedle_detect(df, "key", "x", "y", shape="concave").collect()[0]
    exp_x = max(pts, key=lambda p: p[1] - p[0])[0]   # analytic ~0.25
    assert got["knee_x"] == exp_x == 0.25
    assert got["max_diff"] == round(0.5 - 0.25, 6)


def test_jain_fairness_closed_forms(spark):
    from sparkcollector.operators.analytics import jain_fairness

    rows = [("fair", f"u{i}", 1, 10) for i in range(4)]
    rows += [("hog", "u0", 1, 100), ("hog", "u1", 1, 0),
             ("hog", "u2", 1, 0), ("hog", "u3", 1, 0)]
    df = spark.createDataFrame(rows, "key string, m string, one int, x long")
    got = {r["key"]: r for r in jain_fairness(df, "key", "m", "x").collect()}
    assert got["fair"]["jain"] == 1.0 and got["fair"]["max_share"] == 0.25
    assert got["hog"]["jain"] == 0.25                  # 1/n lower bound
    assert got["hog"]["max_share"] == 1.0


def test_erlang_queue_textbook_values(spark):
    from sparkcollector.operators.analytics import erlang_queue

    # 10 arrivals over exactly 10s -> lambda=1/s; mu=1, c=2 -> A=1
    # Erlang B(1,2) = 0.2; rho=0.5; C = .2/(1-.5*.8) = 1/3
    rows = [("k", f"2024-01-01 00:00:{i:02d}") for i in range(11)]
    df = spark.createDataFrame(rows, "key string, tss string").select(
        "key", F.col("tss").cast("timestamp").alias("ts")
    )
    # 11 points span exactly 10s -> n=11, lambda=1.1; use explicit span
    got = erlang_queue(df, "key", "ts", mu_per_s=1.1, servers=2).collect()[0]
    assert got["offered_load"] == 1.0 and got["utilization"] == 0.5
    assert got["erlang_b"] == 0.2
    assert got["erlang_c"] == round(1 / 3, 6)


def test_incident_mttr_islands(spark):
    from sparkcollector.operators.analytics import incident_mttr

    # two incidents: [0s..120s] and [7200s..7260s] -> MTTR 90s,
    # MTBF = 7200s between starts
    times = [0, 60, 120, 7200, 7260]
    rows = [("s", t) for t in times]
    df = spark.createDataFrame(rows, "svc string, off long").select(
        "svc",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("off"))).alias("ts"),
    )
    got = incident_mttr(df, "svc", "ts", gap_s=3600).collect()[0]
    assert got["n_incidents"] == 2 and got["n_error_events"] == 5
    assert got["mttr_s"] == 90.0 and got["mtbf_s"] == 7200.0


def test_cron_schedule_audit_grammar(spark):
    from sparkcollector.operators.analytics import cron_schedule_audit

    rows = [
        (1, "*/15 * * * *"),      # 96 fires
        (2, "0 9-17 * * 1-5"),    # ref day is Friday (dow=5): 9 fires
        (3, "0 9 * * 0,6"),       # weekend only -> 0 on Friday
        (4, "59 23 12 1 *"),      # exact ref date -> last minute
        (5, "bogus"),
    ]
    df = spark.createDataFrame(rows, "id long, cron string")
    got = {r["id"]: r for r in
           cron_schedule_audit(df, "id", "cron", 12, 1, 5).collect()}
    assert got[1]["n_fires_day"] == 96 and got[1]["first_fire_minute"] == 0
    assert got[2]["n_fires_day"] == 9 and got[2]["first_fire_minute"] == 540
    assert got[3]["n_fires_day"] == 0
    assert got[4]["n_fires_day"] == 1
    assert got[4]["first_fire_minute"] == 23 * 60 + 59
    assert not got[5]["well_formed"] and got[5]["n_fires_day"] is None


def test_iqr_outliers_tukey_hinges(spark):
    from sparkcollector.operators.analytics import iqr_outliers

    # n=9: lower half 1..5 -> hinge v[3]=3; upper half 5..9 -> v[7]=7
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    df = spark.createDataFrame([("k", v) for v in vals],
                               "key string, v double")
    got = iqr_outliers(df, "key", "v").collect()[0]
    assert got["q1"] == 3.0 and got["q3"] == 7.0 and got["iqr"] == 4.0
    assert got["lo_fence"] == -3.0 and got["hi_fence"] == 13.0
    assert got["n_outliers"] == 1                       # the 100.0
    # even n=4: halves of size 2 -> hinges are pair averages
    df2 = spark.createDataFrame([("e", v) for v in (1.0, 2.0, 3.0, 4.0)],
                                "key string, v double")
    got2 = iqr_outliers(df2, "key", "v").collect()[0]
    assert got2["q1"] == 1.5 and got2["q3"] == 3.5


def test_transaction_boundaries_semantics(spark):
    from sparkcollector.operators.analytics import transaction_boundaries

    # S=start E=end; sequence: x S a E t S b  -> txn1 complete with
    # 3 members + 1 trailing orphan, txn2 open with 2 members
    seq = [("x", False, False), ("S", True, False), ("a", False, False),
           ("E", False, True), ("t", False, False), ("S2", True, False),
           ("b", False, False)]
    rows = [("u", i, s, e) for i, (_n, s, e) in enumerate(seq)]
    df = spark.createDataFrame(rows, "key string, o int, s boolean, e boolean")
    got = {r["sid"]: r for r in transaction_boundaries(
        df, "key", ["o"], "s", "e").collect()}
    assert got[1]["n_events"] == 3 and got[1]["complete"]
    assert got[1]["n_trailing_orphans"] == 1
    assert got[1]["start_at"] == 1 and got[1]["end_at"] == 3
    assert got[2]["n_events"] == 2 and not got[2]["complete"]
    assert got[2]["n_trailing_orphans"] == 0


def test_soundex_grouping_textbook_codes(spark):
    from sparkcollector.operators.analytics import soundex_grouping

    rows = [("k", n) for n in
            ("robert", "rupert", "smith", "schmidt", "lonely")]
    df = spark.createDataFrame(rows, "key string, name string")
    got = {r["name"]: r for r in soundex_grouping(df, "key", "name").collect()}
    assert got["robert"]["code"] == "R163" == got["rupert"]["code"]
    assert got["robert"]["n_variants"] == 2
    assert got["smith"]["code"] == "S530" == got["schmidt"]["code"]
    assert got["lonely"]["n_variants"] == 1


def test_flap_detection_toggles(spark):
    from sparkcollector.operators.analytics import flap_detection

    flappy = [i % 2 == 0 for i in range(8)]        # toggles every obs
    steady = [False] * 4 + [True] * 4              # one toggle
    rows = [("flap", i, s) for i, s in enumerate(flappy)]
    rows += [("ok", i, s) for i, s in enumerate(steady)]
    df = spark.createDataFrame(rows, "key string, o int, st boolean")
    got = {r["key"]: r for r in flap_detection(
        df, "key", ["o"], "st", window=6, threshold=4).collect()}
    assert got["flap"]["n_toggles"] == 7
    assert got["flap"]["max_window_toggles"] == 6 and got["flap"]["flapping"]
    assert got["ok"]["n_toggles"] == 1 and not got["ok"]["flapping"]


def test_kmv_sketch_exact_when_underfull(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import kmv_sketch

    df = spark.createDataFrame(
        [("a", i % 5) for i in range(100)], "grp string, item long"
    )
    row = kmv_sketch(df, ["grp"], "item", k=32).collect()[0]
    assert row["k_used"] == 5
    assert row["est_distinct"] == 5.0


def test_kmv_sketch_estimate_within_tolerance(spark):
    from sparkcollector.operators.analytics import kmv_sketch

    df = spark.createDataFrame(
        [("a", i) for i in range(2000)], "grp string, item long"
    )
    row = kmv_sketch(df, ["grp"], "item", k=64).collect()[0]
    assert row["k_used"] == 64
    # KMV relative error ~ 1/sqrt(k) ~= 12.5%; allow 3 sigma
    assert abs(row["est_distinct"] - 2000) / 2000 < 0.40


def test_anova_oneway_matches_scipy_formula(spark):
    from sparkcollector.operators.analytics import anova_oneway

    rows = (
        [("a", v) for v in [1.0, 2.0, 3.0]]
        + [("b", v) for v in [2.0, 3.0, 4.0]]
        + [("c", v) for v in [5.0, 6.0, 7.0]]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    # hand-computed: means 2,3,6; grand 11/3; SSB=3*((2-11/3)^2+(3-11/3)^2+(6-11/3)^2)=26
    # SSW = 3 groups * 2 = 6; F = (26/2)/(6/6) = 13
    assert r["k"] == 3 and r["n"] == 9 and r["df1"] == 2 and r["df2"] == 6
    assert abs(r["ssb"] - 26.0) < 1e-6 and abs(r["ssw"] - 6.0) < 1e-6
    assert abs(r["f_stat"] - 13.0) < 1e-6


def test_business_hours_duration_weekend_and_clamp(spark):
    from sparkcollector.operators.analytics import business_hours_duration

    rows = [
        # Fri 2024-01-05 16:00 -> Mon 2024-01-08 10:00:
        # Fri 16-17 = 3600, Sat+Sun = 0, Mon 9-10 = 3600
        (1, "2024-01-05 16:00:00", "2024-01-08 10:00:00"),
        # entirely outside business hours (same evening)
        (2, "2024-01-03 18:00:00", "2024-01-03 20:00:00"),
        # end before start -> 0
        (3, "2024-01-03 12:00:00", "2024-01-03 11:00:00"),
        # within one business day
        (4, "2024-01-03 10:15:00", "2024-01-03 11:45:00"),
    ]
    df = spark.createDataFrame(rows, "id long, t0 string, t1 string")
    got = {
        r["id"]: r["business_seconds"]
        for r in business_hours_duration(df, ["id"], "t0", "t1").collect()
    }
    assert got == {1: 7200, 2: 0, 3: 0, 4: 5400}


def test_simpson_diversity_known_values(spark):
    from sparkcollector.operators.analytics import simpson_diversity

    # group g: 2 of 'a', 2 of 'b' -> D = 1 - (2*1+2*1)/(4*3) = 2/3
    # group h: 3 of 'a' only -> D = 1 - 6/6 = 0, BP = 1
    rows = [("g", "a"), ("g", "a"), ("g", "b"), ("g", "b"),
            ("h", "a"), ("h", "a"), ("h", "a")]
    df = spark.createDataFrame(rows, "grp string, cat string")
    got = {r["grp"]: r for r in simpson_diversity(df, ["grp"], "cat").collect()}
    assert abs(got["g"]["simpson"] - 2 / 3) < 1e-5
    assert got["g"]["berger_parker"] == 0.5 and got["g"]["n_cats"] == 2
    assert got["h"]["simpson"] == 0.0 and got["h"]["berger_parker"] == 1.0


def test_durbin_watson_alternating_vs_trending(spark):
    from sparkcollector.operators.analytics import durbin_watson

    # alternating residuals -> DW near 4; a smooth ramp -> DW near 0
    alt = [("alt", i, float(1 if i % 2 == 0 else -1)) for i in range(40)]
    ramp = [("ramp", i, float(i)) for i in range(40)]
    df = spark.createDataFrame(alt + ramp, "g string, t long, v double")
    got = {r["g"]: r["dw"] for r in durbin_watson(df, "g", ["t"], "v").collect()}
    assert got["alt"] > 3.5
    assert got["ramp"] < 0.1


def test_cohens_d_known_effect(spark):
    from sparkcollector.operators.analytics import cohens_d

    # seg0: mean 10 sd 1; seg1: mean 8 sd 1 -> d = 2.0
    rows = [("g", 0, 9.0), ("g", 0, 10.0), ("g", 0, 11.0),
            ("g", 1, 7.0), ("g", 1, 8.0), ("g", 1, 9.0)]
    df = spark.createDataFrame(rows, "grp string, seg int, v double")
    r = cohens_d(df, "grp", "seg", "v").collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert abs(r["mean_diff"] - 2.0) < 1e-6
    assert abs(r["pooled_sd"] - 1.0) < 1e-6
    assert abs(r["cohens_d"] - 2.0) < 1e-6
    # J = 1 - 3/(4*4-1) = 1 - 3/15 = 0.8
    assert abs(r["hedges_g"] - 1.6) < 1e-6


def test_mcnemar_discordant_only(spark):
    from sparkcollector.operators.analytics import mcnemar_test

    # units: 1 yes->no, 2 yes->no, 3 no->yes, 4 concordant yes,
    # 5 only-before (dropped)
    rows = [
        (1, 0, 1), (1, 1, 0),
        (2, 0, 1), (2, 1, 0),
        (3, 0, 0), (3, 1, 1),
        (4, 0, 1), (4, 1, 1),
        (5, 0, 1),
    ]
    df = spark.createDataFrame(rows, "u long, ph int, o int")
    r = mcnemar_test(df, ["u"], "ph", "o").collect()[0]
    assert r["n_units"] == 4 and r["b"] == 2 and r["c"] == 1
    assert abs(r["chi2"] - 1 / 3) < 1e-5
    assert r["chi2_corrected"] == 0.0


def test_grubbs_flags_planted_outlier(spark):
    from sparkcollector.operators.analytics import grubbs_test

    rows = [("g", float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 100]]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = grubbs_test(df, "grp", "v").collect()[0]
    assert r["outlier_value"] == 100.0
    assert r["g_stat"] > 2.0 and r["n"] == 8


def test_ljung_box_white_noise_vs_ramp(spark):
    from sparkcollector.operators.analytics import ljung_box

    # deterministic pseudo-noise (md5-derived) vs a smooth ramp
    import hashlib
    noise = [
        ("n", i, int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) / 65535.0)
        for i in range(200)
    ]
    ramp = [("r", i, float(i)) for i in range(200)]
    df = spark.createDataFrame(noise + ramp, "g string, t long, v double")
    got = {r["g"]: r for r in ljung_box(df, "g", ["t"], "v", max_lag=3).collect()}
    assert got["r"]["q_stat"] > 100.0      # ramp: massive autocorrelation
    assert got["n"]["q_stat"] < 15.0       # noise: near chi2(3) scale
    assert abs(got["r"]["r_1"]) > 0.9


def test_lorenz_deciles_equal_and_concentrated(spark):
    from sparkcollector.operators.analytics import lorenz_deciles

    # 10 equal units -> cum_value_share == cum_pop_share at every decile
    eq = [(i, 5.0) for i in range(10)]
    df = spark.createDataFrame(eq, "u long, v double")
    rows = lorenz_deciles(df, "u", "v").collect()
    for r in rows:
        assert abs(r["cum_value_share"] - r["cum_pop_share"]) < 1e-6
    # one unit holds everything -> last decile jumps from ~0 to 1
    conc = [(i, 0.000001) for i in range(9)] + [(9, 1000.0)]
    rows = {r["decile"]: r for r in lorenz_deciles(
        spark.createDataFrame(conc, "u long, v double"), "u", "v").collect()}
    assert rows[9]["cum_value_share"] < 0.001
    assert rows[10]["cum_value_share"] == 1.0


def test_dora_metrics_known_counts(spark):
    from sparkcollector.operators.analytics import dora_metrics

    deploys = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (1, "2024-01-02 00:00:00", 20.0),
            (2, "2024-01-03 00:00:00", 30.0),
            (3, "2024-01-05 00:00:00", 40.0),
        ],
        "user_id long, ts string, lead_minutes double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "lead_minutes")
    incidents = spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00"),  # fails deploy 1
            (2, "2024-01-03 02:00:00"),  # outside 1h window
        ],
        "user_id long, ts string",
    ).selectExpr("user_id", "cast(ts as timestamp) ts")
    r = dora_metrics(deploys, incidents).collect()[0]
    assert r["n_deploys"] == 4 and r["n_failed"] == 1
    assert abs(r["change_failure_rate"] - 0.25) < 1e-6
    assert abs(r["deploys_per_day"] - 1.0) < 1e-6  # 4 deploys / 4 days span
    assert abs(r["lead_p50"] - 25.0) < 1e-6


def test_kmv_jaccard_exact_small_sets(spark):
    from sparkcollector.operators.analytics import kmv_jaccard

    # A = {1..6}, B = {4..9}: intersect 3, union 9 -> J = 1/3; under k
    rows = [("a", i) for i in range(1, 7)] + [("b", i) for i in range(4, 10)]
    df = spark.createDataFrame(rows, "s string, item long")
    r = kmv_jaccard(df, "s", "item", "a", "b", k=64).collect()[0]
    assert r["n_a"] == 6 and r["n_b"] == 6 and r["n_intersect"] == 3
    assert abs(r["j_exact"] - 1 / 3) < 1e-6
    # sketch is under-full -> estimate equals exact
    assert r["k_used"] == 9 and abs(r["j_estimate"] - 1 / 3) < 1e-6


def test_theil_decomposition_identity(spark):
    from sparkcollector.operators.analytics import theil_index

    # two groups with internal inequality AND different means
    rows = [
        (1, "g1", 1.0), (2, "g1", 3.0),
        (3, "g2", 10.0), (4, "g2", 30.0),
    ]
    df = spark.createDataFrame(rows, "u long, g string, v double")
    r = theil_index(df, "u", "g", "v").collect()[0]
    assert r["n_units"] == 4
    # decomposition must be exact: T = T_between + T_within
    assert abs(r["t_total"] - (r["t_between"] + r["t_within"])) < 1e-5
    assert r["t_between"] > 0 and r["t_within"] > 0


def test_theil_zero_for_equal_units(spark):
    from sparkcollector.operators.analytics import theil_index

    rows = [(i, "g", 5.0) for i in range(8)]
    df = spark.createDataFrame(rows, "u long, g string, v double")
    r = theil_index(df, "u", "g", "v").collect()[0]
    assert r["t_total"] == 0.0 and r["t_between"] == 0.0


def test_kaplan_meier_textbook_curve(spark):
    from sparkcollector.operators.analytics import kaplan_meier

    # classic: events at t=1 (1 of 5), t=3 (1 of 3); censored at t=2, t=4, t=5
    rows = [(1, 1), (2, 0), (3, 1), (4, 0), (5, 0)]
    df = spark.createDataFrame(rows, "dur long, ev int")
    got = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[1]["n_risk"] == 5 and abs(got[1]["survival"] - 0.8) < 1e-6
    assert got[2]["n_risk"] == 4 and abs(got[2]["survival"] - 0.8) < 1e-6
    # at t=3: risk set 3, one event -> 0.8 * 2/3
    assert abs(got[3]["survival"] - 0.8 * 2 / 3) < 1e-5
    assert got[5]["n_censored"] == 1


def test_kaplan_meier_terminal_all_die_hits_zero(spark):
    from sparkcollector.operators.analytics import kaplan_meier

    df = spark.createDataFrame([(1, 1), (2, 1)], "dur long, ev int")
    got = {r["t"]: r["survival"] for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[2] == 0.0


def test_moods_median_balanced_vs_shifted(spark):
    from sparkcollector.operators.analytics import moods_median_test

    lo = [("lo", float(v)) for v in range(10)]        # 0..9
    hi = [("hi", float(v)) for v in range(10, 20)]    # 10..19
    df = spark.createDataFrame(lo + hi, "g string, v double")
    got = {r["g"]: r for r in moods_median_test(df, "g", "v").collect()}
    # pooled median 9.5: all of hi above, none of lo
    assert got["hi"]["n_above"] == 10 and got["lo"]["n_above"] == 0
    assert abs(got["hi"]["chi2"] - 20.0) < 1e-6


def test_welch_anova_equal_groups_small_f(spark):
    from sparkcollector.operators.analytics import welch_anova

    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0]] + [
        ("b", v) for v in [1.0, 2.0, 3.0, 4.0]
    ] + [("c", v) for v in [101.0, 102.0, 103.0, 104.0]]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_anova(df, "g", "v").collect()[0]
    assert r["k"] == 3 and r["df1"] == 2
    assert r["f_stat"] > 1000  # c is far away
    # identical groups only -> F = 0
    df2 = spark.createDataFrame(rows[:8], "g string, v double")
    r2 = welch_anova(df2, "g", "v").collect()[0]
    assert abs(r2["f_stat"]) < 1e-9


def test_cms_never_underestimates(spark):
    from sparkcollector.operators.analytics import cms_probe, count_min_sketch

    rows = [(i % 50,) for i in range(5000)]
    df = spark.createDataFrame(rows, "item long")
    sk = count_min_sketch(df, "item", depth=4, width=64)
    keys = df.distinct()
    probed = {
        r["item"]: r["cms_estimate"]
        for r in cms_probe(sk, keys, "item", depth=4, width=64).collect()
    }
    for k, est in probed.items():
        assert est >= 100  # exact count per key
    # total cells bounded
    assert sk.count() <= 4 * 64


def test_weibull_fit_recovers_exponential_shape(spark):
    import math

    from sparkcollector.operators.analytics import weibull_fit

    # exact Weibull(k=1) quantiles: t_i = -ln(1-F_i) -> slope == 1, r2 == 1
    n = 100
    rows = [("g", -math.log(1 - (i - 0.3) / (n + 0.4))) for i in range(1, n + 1)]
    df = spark.createDataFrame(rows, "g string, t double")
    r = weibull_fit(df, ["g"], "t").collect()[0]
    assert abs(r["shape"] - 1.0) < 1e-6
    assert abs(r["scale"] - 1.0) < 1e-6
    assert abs(r["r2"] - 1.0) < 1e-6


def test_acf_pacf_ar1_signature(spark):
    from sparkcollector.operators.analytics import acf_pacf_profile

    # AR(1) with phi=0.8 built deterministically from a fixed seed
    import random
    rng = random.Random(42)
    v, rows = 0.0, []
    for i in range(500):
        v = 0.8 * v + rng.gauss(0, 1)
        rows.append(("g", i, v))
    df = spark.createDataFrame(rows, "g string, t long, v double")
    r = acf_pacf_profile(df, "g", ["t"], "v").collect()[0]
    # ACF decays geometrically; PACF cuts off after lag 1
    assert r["r_1"] > 0.6 and r["r_2"] > 0.4
    assert abs(r["pacf_1"] - r["r_1"]) < 1e-9
    assert abs(r["pacf_2"]) < r["band"] * 3
    assert abs(r["pacf_3"]) < r["band"] * 3


def test_granger_lagged_copy_is_causal(spark):
    from sparkcollector.operators.analytics import granger_lag1

    import random
    rng = random.Random(7)
    xs = [rng.random() for _ in range(300)]
    rows = []
    for t in range(1, 300):
        # y depends on x lagged by one, not on its own past
        rows.append((t, xs[t - 1] * 10 + rng.gauss(0, 0.1), xs[t]))
    df = spark.createDataFrame(rows, "m long, y double, x double")
    r = granger_lag1(df, "m", "y", "x").collect()[0]
    assert r["r_partial"] > 0.9 and r["f_stat"] > 100


def test_mde_shrinks_with_traffic(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import mde_two_proportion

    small = [("s", i % 10 == 0) for i in range(100)]
    big = [("b", i % 10 == 0) for i in range(10000)]
    df = spark.createDataFrame(small + big, "g string, ok boolean")
    got = {r["g"]: r for r in mde_two_proportion(df, "g", "ok").collect()}
    assert abs(got["s"]["p"] - 0.1) < 1e-9
    assert got["b"]["mde_abs"] < got["s"]["mde_abs"] / 5


def test_logrank_identical_cohorts_zero_chi2(spark):
    from sparkcollector.operators.analytics import logrank_test

    rows = []
    for g in (0, 1):
        rows += [(g, 1, 1), (g, 2, 1), (g, 3, 0), (g, 4, 1)]
    df = spark.createDataFrame(rows, "g int, dur long, ev int")
    r = logrank_test(df, "g", "dur", "ev").collect()[0]
    assert r["n1"] == 4 and r["n2"] == 4
    assert abs(r["chi2"]) < 1e-9  # identical curves


def test_logrank_separated_cohorts_large_chi2(spark):
    from sparkcollector.operators.analytics import logrank_test

    early = [(1, d, 1) for d in range(1, 11)]
    late = [(0, d + 50, 1) for d in range(1, 11)]
    df = spark.createDataFrame(early + late, "g int, dur long, ev int")
    r = logrank_test(df, "g", "dur", "ev").collect()[0]
    assert r["chi2"] > 10.0


def test_classifier_eval_perfect_and_random(spark):
    from sparkcollector.operators.analytics import classifier_eval

    # perfectly separated scores
    rows = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    r = classifier_eval(df, "s", "y", threshold=50.0).collect()[0]
    assert r["tp"] == 50 and r["tn"] == 50 and r["fp"] == 0
    assert r["precision"] == 1.0 and r["recall"] == 1.0 and r["f1"] == 1.0
    assert r["auc"] == 1.0
    # all scores tied -> AUC must be exactly 0.5 (tie-aware)
    ties = [(1.0, i % 2) for i in range(100)]
    r2 = classifier_eval(
        spark.createDataFrame(ties, "s double, y int"), "s", "y", 2.0
    ).collect()[0]
    assert r2["auc"] == 0.5


def test_error_budget_burndown_exhaustion(spark):
    from sparkcollector.operators.analytics import error_budget_burndown

    # 1000 req/day at 1% budget = 10 err/day allowed; burning 30/day
    rows = [(d, 1000, 30) for d in range(1, 4)]
    df = spark.createDataFrame(rows, "day long, requests long, errors long")
    got = {r["day"]: r for r in error_budget_burndown(
        df, "day", "requests", "errors", slo=0.99).collect()}
    assert got[1]["cum_errors"] == 30 and abs(got[1]["cum_budget"] - 10.0) < 1e-9
    assert got[1]["remaining_frac"] == -2.0
    # already exhausted -> projection NULL
    assert got[1]["days_to_exhaustion"] is None
    # healthy service: 5 err/day -> remaining positive, never exhausts
    rows2 = [(d, 1000, 5) for d in range(1, 4)]
    got2 = error_budget_burndown(
        spark.createDataFrame(rows2, "day long, requests long, errors long"),
        "day", "requests", "errors", slo=0.99).collect()
    assert all(r["remaining_frac"] == 0.5 for r in got2)
    assert all(r["days_to_exhaustion"] is None for r in got2)


def test_morans_i_clustered_vs_checkerboard(spark):
    from sparkcollector.operators.analytics import morans_i

    clustered = [(i, 1.0 if i < 12 else 0.0) for i in range(24)]
    df = spark.createDataFrame(clustered, "i long, x double")
    r = morans_i(df, "i", "x", 24).collect()[0]
    assert r["morans_i"] > 0.8
    checker = [(i, float(i % 2)) for i in range(24)]
    r2 = morans_i(
        spark.createDataFrame(checker, "i long, x double"), "i", "x", 24
    ).collect()[0]
    assert r2["morans_i"] < -0.9


def test_cohens_kappa_perfect_and_independent(spark):
    from sparkcollector.operators.analytics import cohens_kappa

    perfect = [(l, l) for l in ["x", "y"] * 50]
    df = spark.createDataFrame(perfect, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["po"] == 1.0 and r["kappa"] == 1.0
    # independent raters: po == pe -> kappa ~ 0
    indep = [("x" if i % 2 == 0 else "y", "x" if i % 4 < 2 else "y")
             for i in range(100)]
    r2 = cohens_kappa(
        spark.createDataFrame(indep, "a string, b string"), "a", "b"
    ).collect()[0]
    assert abs(r2["kappa"]) < 1e-6


def test_fleiss_kappa_unanimous(spark):
    from sparkcollector.operators.analytics import fleiss_kappa

    # 3 raters, unanimous per item but split across items -> kappa 1
    rows = [(i, "bad" if i % 2 == 0 else "good") for i in range(20)] * 3
    df = spark.createDataFrame(rows, "i long, j string")
    r = fleiss_kappa(df, "i", "j").collect()[0]
    assert r["m"] == 3 and r["p_bar"] == 1.0 and r["kappa"] == 1.0


def test_bradley_terry_orders_clear_hierarchy(spark):
    from sparkcollector.operators.analytics import bradley_terry_ratings

    # a beats b 9:1, b beats c 9:1, a beats c 10:0
    duels = (
        [("a", "b")] * 9 + [("b", "a")] * 1
        + [("b", "c")] * 9 + [("c", "b")] * 1
        + [("a", "c")] * 10
    )
    df = spark.createDataFrame(duels, "w string, l string")
    got = {r["contestant"]: r for r in bradley_terry_ratings(df, "w", "l").collect()}
    assert got["a"]["rank"] == 1 and got["b"]["rank"] == 2 and got["c"]["rank"] == 3
    assert got["a"]["n_wins"] == 19 and got["c"]["n_wins"] == 1


def test_out_of_order_audit_counts_inversions(spark):
    from sparkcollector.operators.analytics import out_of_order_audit

    # arrival 1,2,3,4 with event times 10, 5, 20, 19
    rows = [("s", 1, "2024-01-01 00:00:10"), ("s", 2, "2024-01-01 00:00:05"),
            ("s", 3, "2024-01-01 00:00:20"), ("s", 4, "2024-01-01 00:00:19")]
    df = spark.createDataFrame(rows, "shard string, seq long, et string")
    r = out_of_order_audit(df, "shard", ["seq"], "et").collect()[0]
    assert r["n"] == 4 and r["n_late"] == 2
    assert r["max_late_s"] == 5.0 and abs(r["late_frac"] - 0.5) < 1e-9


def test_clock_drift_recovers_planted_rate(spark):
    from sparkcollector.operators.analytics import clock_drift_estimate

    # host A drifts +100 ppm, host B perfect with +2 s offset
    rows = []
    for i in range(10):
        t = float(i * 3600)
        rows.append(("A", t, t + 100e-6 * t))
        rows.append(("B", t, t + 2.0))
    df = spark.createDataFrame(rows, "host string, t double, rep double")
    got = {r["host"]: r for r in clock_drift_estimate(df, "host", "t", "rep").collect()}
    assert abs(got["A"]["drift_ppm"] - 100.0) < 1e-3
    assert abs(got["B"]["drift_ppm"]) < 1e-6 and got["B"]["offset_s"] == 2.0
    assert got["A"]["r2"] == 1.0


def test_offset_gap_audit_finds_holes(spark):
    from sparkcollector.operators.analytics import offset_gap_audit

    rows = [("s", o) for o in [1, 2, 3, 7, 8, 20]]  # gaps: 4-6 (3), 9-19 (11)
    df = spark.createDataFrame(rows, "shard string, off long")
    r = offset_gap_audit(df, "shard", "off").collect()[0]
    assert r["n_present"] == 6 and r["lo"] == 1 and r["hi"] == 20
    assert r["n_gaps"] == 2 and r["missing_total"] == 14 and r["max_gap"] == 11


def test_ohlc_candles_order_semantics(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import ohlc_candles

    rows = [("g", 1, 1, 10.0, 1.0), ("g", 1, 2, 30.0, 1.0),
            ("g", 1, 3, 5.0, 3.0), ("g", 2, 4, 7.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, b long, seq long, v double, w double")
    got = {r["bucket"]: r for r in ohlc_candles(
        df, ["g"], F.col("b"), ["seq"], "v", F.col("w")).collect()}
    c = got[1]
    assert c["open"] == 10.0 and c["close"] == 5.0
    assert c["high"] == 30.0 and c["low"] == 5.0
    assert abs(c["vwap"] - (10 + 30 + 15) / 5.0) < 1e-9
    assert got[2]["open"] == got[2]["close"] == 7.0


def test_maxmin_waterfill_known_allocation(spark):
    from sparkcollector.operators.analytics import maxmin_waterfill

    # demands 1, 2, 10, capacity 7 -> 1 and 2 satisfied, theta = 4
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 10.0)], "tenant string, dem double"
    )
    got = {r["tenant"]: r for r in maxmin_waterfill(df, "tenant", "dem", 7.0).collect()}
    assert got["a"]["allocation"] == 1.0 and got["a"]["satisfied"]
    assert got["b"]["allocation"] == 2.0
    assert got["c"]["allocation"] == 4.0 and not got["c"]["satisfied"]
    # capacity exceeds total demand -> everyone satisfied
    got2 = {r["tenant"]: r for r in maxmin_waterfill(df, "tenant", "dem", 100.0).collect()}
    assert all(got2[t]["satisfied"] for t in got2)
    # capacity below n * min demand -> equal split
    got3 = {r["tenant"]: r for r in maxmin_waterfill(df, "tenant", "dem", 1.5).collect()}
    assert all(abs(got3[t]["allocation"] - 0.5) < 1e-9 for t in got3)


def test_sax_words_shapes(spark):
    from sparkcollector.operators.analytics import sax_words

    # ramp -> monotone word; constant-ish series is degenerate (sd>0 needed)
    ramp = [("r", i, float(i)) for i in range(64)]
    vee = [("v", i, float(abs(i - 32))) for i in range(64)]
    df = spark.createDataFrame(ramp + vee, "g string, t long, v double")
    got = {r["g"]: r["sax_word"] for r in sax_words(df, "g", ["t"], "v", 8).collect()}
    assert got["r"] == "aabbccdd"
    assert got["v"][0] == "d" and got["v"][-1] == "d" and "a" in got["v"]


def test_naive_bayes_learns_perfect_feature(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import naive_bayes_eval

    # f perfectly determines y; half train half test
    rows = [(i % 2, 0, i % 2 == 1, i < 100) for i in range(200)]
    df = spark.createDataFrame(rows, "f int, g int, y boolean, tr boolean")
    r = naive_bayes_eval(df, ["f", "g"], "y", F.col("tr")).collect()[0]
    assert r["n_train"] == 100 and r["n_test"] == 100
    assert r["accuracy"] == 1.0 and r["fp"] == 0 and r["fn"] == 0


def test_decision_stump_ranks_informative_feature_first(spark):
    from sparkcollector.operators.analytics import decision_stump_gains

    # a == y (perfect); b random-ish (i%3); label = i%2
    rows = [(i % 2, i % 3, i % 2 == 0) for i in range(120)]
    df = spark.createDataFrame(rows, "a int, b int, y boolean")
    got = {r["feature"]: r for r in decision_stump_gains(df, ["a", "b"], "y").collect()}
    assert got["a"]["rank"] == 1 and got["a"]["info_gain"] == got["a"]["h_label"]
    assert got["b"]["info_gain"] < 1e-6


def test_mahalanobis_flags_joint_outlier_only(spark):
    from sparkcollector.operators.analytics import mahalanobis_2d

    import random
    rng = random.Random(3)
    # correlated cloud y ~= x, plus one point that breaks the correlation
    rows = [("g", v, v + rng.gauss(0, 0.1)) for v in
            [rng.gauss(0, 1) for _ in range(300)]]
    rows.append(("g", 2.0, -2.0))  # inside both marginals, outside jointly
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = mahalanobis_2d(df, "g", "x", "y").collect()[0]
    assert r["n_outliers"] >= 1
    assert r["max_d2"] > 100


def test_poisson_rate_ratio_doubling(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import poisson_rate_ratio

    # 10 events in [0, 100), 20 events in [100, 200) -> ratio 2
    rows = [("g", float(t), 1) for t in range(0, 100, 10)]
    rows += [("g", float(t), 1) for t in range(100, 200, 5)]
    df = spark.createDataFrame(rows, "g string, t double, e int")
    base = df.selectExpr("g", "timestamp_seconds(t) as ts", "e")
    r = poisson_rate_ratio(base, "g", "ts", F.col("e") == 1, 100.0).collect()[0]
    assert r["c1"] == 10 and r["c2"] == 20
    # r1 = 10/100, r2 = 20/95 -> ratio = 2 * 100/95
    assert abs(r["rate_ratio"] - 20.0 / 95.0 * 10.0) < 1e-6
    assert r["z"] > 1.0


def test_huber_one_step_resists_outlier(spark):
    from sparkcollector.operators.analytics import huber_one_step

    rows = [("g", float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 1000]]
    df = spark.createDataFrame(rows, "g string, v double")
    r = huber_one_step(df, "g", "v").collect()[0]
    # plain mean would be ~134; huber stays near the median
    assert abs(r["m1"] - 10.5) < 2.0
    assert r["frac_downweighted"] > 0.0 and r["m0"] == 10.5


def test_count_diagnostics_poisson_vs_zero_inflated(spark):
    from sparkcollector.operators.analytics import (
        count_distribution_diagnostics,
    )

    # equidispersed-ish counts vs heavy zero inflation
    ok = [("p", float(c)) for c in [2, 3, 2, 4, 3, 2, 3, 4, 2, 3]]
    zi = [("z", 0.0)] * 8 + [("z", 10.0), ("z", 12.0)]
    df = spark.createDataFrame(ok + zi, "g string, c double")
    totals = df.groupBy("g").agg(F.count(F.lit(1)).alias("n_cells"))
    got = {r["g"]: r for r in count_distribution_diagnostics(
        df.filter("c > 0"), "g", "c", totals).collect()}
    assert got["p"]["dispersion_ratio"] < 1.0
    assert got["p"]["nb_size_r"] is None  # not overdispersed
    assert got["z"]["dispersion_ratio"] > 5.0
    assert got["z"]["zero_frac"] == 0.8
    assert got["z"]["zero_frac"] > got["z"]["poisson_zero_frac"] * 3


def test_gamma_fit_recovers_exponential(spark):
    from sparkcollector.operators.analytics import gamma_moments_fit

    import math
    # exponential quantile spread (k = 1, rate = 2)
    n = 400
    rows = [("g", -math.log(1 - (i + 0.5) / n) / 2.0) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = gamma_moments_fit(df, "g", "v").collect()[0]
    assert abs(r["shape"] - 1.0) < 0.15
    assert abs(r["rate"] - 2.0) < 0.3


def test_burstiness_periodic_is_negative(spark):
    from sparkcollector.operators.analytics import burstiness_memory

    from pyspark.sql import functions as F
    # perfectly periodic arrivals -> sd = 0 -> B = -1
    rows = [(1, float(t * 10)) for t in range(50)]
    df = spark.createDataFrame(rows, "u long, t double").selectExpr(
        "u", "timestamp_seconds(t) as ts"
    )
    r = burstiness_memory(df, "u", (F.col("u") % 2), "ts").collect()[0]
    assert r["burstiness_b"] == -1.0


def test_hedge_effectiveness_uniform(spark):
    from sparkcollector.operators.analytics import hedge_effectiveness

    rows = [("g", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = hedge_effectiveness(df, "g", "v", q=0.99).collect()[0]
    # uniform 1..100: p99 ~ 99, hedged = p90 ~ 90.1
    assert abs(r["q_plain"] - 99.01) < 0.1
    assert abs(r["q_hedged"] - 90.1) < 0.2
    assert r["improvement"] > 1.05


def test_split_conformal_coverage_guarantee(spark):
    from pyspark.sql import functions as F
    from sparkcollector.operators.analytics import split_conformal

    import random
    rng = random.Random(11)
    rows = [("g", rng.gauss(50, 5), i < 500) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, v double, c boolean")
    r = split_conformal(df, "g", "v", F.col("c"), alpha=0.1).collect()[0]
    assert r["n_cal"] == 500 and r["n_test"] == 500
    # finite-sample guarantee: coverage >= 1 - alpha (minus noise)
    assert r["coverage"] >= 0.85


def test_lin_ccc_penalizes_bias_r_does_not(spark):
    from sparkcollector.operators.analytics import lin_ccc

    rows = [("g", float(v), float(v) + 100.0) for v in range(100)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = lin_ccc(df, "g", "x", "y").collect()[0]
    assert r["pearson_r"] == 1.0           # perfect correlation
    assert r["ccc"] < 0.2                  # terrible agreement
    assert r["bias_shift"] == 100.0


def test_burrows_delta_separates_styles(spark):
    from sparkcollector.operators.analytics import burrows_delta

    a = [("s1", "the the the cat sat on the mat and the dog ran")] * 4
    b = [("s2", "the cat sat, mat on a dog; a dog and a cat sat")] * 4
    c = [("s3", "the the the cat sat on the mat and the dog ran")] * 4
    df = spark.createDataFrame(a + b + c, "source string, text string")
    got = {(r["src_a"], r["src_b"]): r["delta"]
           for r in burrows_delta(df, "source", "text", top_n=8).collect()}
    # identical styles s1/s3 are closer than either is to s2
    assert got[("s1", "s3")] < got[("s1", "s2")]
    assert got[("s1", "s3")] < got[("s2", "s3")]


def test_poisson_bootstrap_ci_brackets_mean_deterministically(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(3000)], "id long, x double"
    ).withColumn("g", F.lit("all"))
    r1 = poisson_bootstrap_ci(df, ["g"], "id", "x", reps=32).collect()[0]
    # true mean is 49.5; a 95% CI from 3000 rows must bracket it tightly
    assert r1["ci_lo"] < 49.5 < r1["ci_hi"]
    assert r1["ci_hi"] - r1["ci_lo"] < 5
    assert r1["n_reps"] == 32
    # hash-seeded: bit-identical on re-run
    r2 = poisson_bootstrap_ci(df, ["g"], "id", "x", reps=32).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_page_trend_detects_monotone_order(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import page_trend

    # treatment means rise in label order in every block -> perfect L
    rows = []
    for blk in range(12):
        for j, trt in enumerate(["t1", "t2", "t3", "t4"]):
            rows.append((blk, trt, float(j * 10 + blk)))
    up = spark.createDataFrame(rows, "blk int, trt string, v double")
    r = page_trend(up, "blk", "trt", "v").collect()[0]
    # perfect agreement: L = b * sum j^2 = 12 * 30 = 360
    assert r["l_stat"] == 360 and r["trend"] and r["z"] > 3
    assert r["n_blocks"] == 12 and r["k_treatments"] == 4
    # anti-monotone -> significantly NEGATIVE z
    down = spark.createDataFrame(
        [(b, t, -v) for b, t, v in rows], "blk int, trt string, v double"
    )
    assert page_trend(down, "blk", "trt", "v").collect()[0]["z"] < -3
    # incomplete block dropped
    incomplete = spark.createDataFrame(
        rows + [(99, "t1", 0.0)], "blk int, trt string, v double"
    )
    assert page_trend(incomplete, "blk", "trt", "v").collect()[0][
        "n_blocks"] == 12


def test_cramer_von_mises_same_vs_shifted(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import cramer_von_mises

    # split by block (i//100 parity) so BOTH samples sweep the full
    # 0..99 grid -> identical empirical CDFs -> T = 0 exactly
    same = spark.createDataFrame(
        [((i // 100) % 2, float(i % 100)) for i in range(4000)],
        "s int, v double",
    )
    r = cramer_von_mises(same, F.col("s") == 0, "v").collect()[0]
    assert not r["drift"] and r["cvm_stat"] < 0.05
    assert r["n_a"] == 2000 and r["n_b"] == 2000
    # small uniform shift in one sample: KS-gap stays modest but the
    # integrated-square statistic accumulates it decisively
    shifted = spark.createDataFrame(
        [((i // 100) % 2, float(i % 100) + (8.0 if (i // 100) % 2 == 0 else 0.0))
         for i in range(4000)],
        "s int, v double",
    )
    r2 = cramer_von_mises(shifted, F.col("s") == 0, "v").collect()[0]
    assert r2["drift"] and r2["cvm_stat"] > 1


def test_gesd_peels_masked_outliers(spark):
    from sparkcollector.operators.analytics import gesd_outliers

    # two near-equal huge spikes MASK each other for single Grubbs;
    # GESD peels both, then round 3 finds nothing extreme
    rows = [("g", i, float(i % 7)) for i in range(200)]
    rows += [("g", 900, 500.0), ("g", 901, 480.0)]
    df = spark.createDataFrame(rows, "g string, id long, x double")
    out = {r["round"]: r for r in gesd_outliers(
        df, "g", "id", "x", max_k=3).collect()}
    assert out[1]["outlier_value"] == 500.0 and out[1]["flagged"]
    assert out[2]["outlier_value"] == 480.0 and out[2]["flagged"]
    assert not out[3]["flagged"]
    # round-2 statistic computed on the REDUCED sample is larger than
    # round-1's masked statistic
    assert out[2]["r_stat"] > out[1]["r_stat"]


def test_hampel_despike_flags_and_replaces(spark):
    from sparkcollector.operators.analytics import hampel_despike

    # smooth ramp with one glitch; ±5 frame
    vals = [float(i) for i in range(30)]
    vals[13] = 1000.0
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "g string, t int, x double",
    )
    out = {r["t"]: r for r in hampel_despike(
        df, ["g"], ["t"], "x").collect()}
    assert out[13]["is_spike"]
    # replaced by the local median (13 excluded from median by
    # robustness, not by construction)
    assert abs(out[13]["cleaned"] - out[13]["window_median"]) < 1e-9
    assert out[13]["cleaned"] < 20
    # neighbors untouched
    assert not out[12]["is_spike"] and out[12]["cleaned"] == 12.0
    assert not out[20]["is_spike"] and out[20]["cleaned"] == 20.0


def test_dga_score_separates_generated_from_words(spark):
    from sparkcollector.operators.textstats import dga_score

    df = spark.createDataFrame(
        [("paymentshop.com",), ("clickmail.com",),
         ("x7f3k9q2m1z8.net",), ("a1b2c3d4e5f6.org",)],
        ["domain"],
    )
    out = {r["domain"]: r for r in dga_score(df, "domain").collect()}
    assert not out["paymentshop.com"]["is_dga"]
    assert not out["clickmail.com"]["is_dga"]
    assert out["x7f3k9q2m1z8.net"]["is_dga"]
    assert out["a1b2c3d4e5f6.org"]["is_dga"]
    assert out["x7f3k9q2m1z8.net"]["digit_ratio"] > 0.3


def test_position_bias_ipw_recovers_relevance(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import position_bias_ipw

    # two items with IDENTICAL relevance 0.5, but item B only ever
    # renders at position 2 where examination is halved: raw CTR says
    # B is worse; IPW says they're equal.
    rows = []
    for i in range(2000):
        rows.append((1, "A", 1.0 if i % 2 == 0 else 0.0))
        # position 2: examined half the time -> clicks halve
        rows.append((2, "B", 1.0 if i % 4 == 0 else 0.0))
        # item A also at position 2 to identify the bias
        rows.append((2, "A", 1.0 if i % 4 == 1 else 0.0))
    df = spark.createDataFrame(rows, "pos int, item string, clk double")
    out = {r["item"]: r for r in position_bias_ipw(
        df, "pos", "clk", ["item"]).collect()}
    assert out["B"]["raw_ctr"] < out["A"]["raw_ctr"]
    # debiased: B's 0.25 CTR at bias-0.5 position -> 0.5 relevance
    assert abs(out["B"]["ipw_ctr"] - 0.5) < 0.01


def test_lift_gains_table_orders_and_sums(spark):
    from sparkcollector.operators.analytics import lift_gains_table

    # score perfectly ranks the label: all positives in top bins
    rows = [(i, float(1000 - i), 1 if i < 100 else 0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    out = sorted(lift_gains_table(df, "id", "score", "label").collect(),
                 key=lambda r: r["bin"])
    assert [r["n_units"] for r in out] == [100] * 10
    assert out[0]["positives"] == 100 and out[0]["cum_capture"] == 1.0
    assert out[0]["cum_lift"] == 10.0  # top decile captures everything
    assert out[9]["cum_capture"] == 1.0 and abs(
        out[9]["cum_lift"] - 1.0) < 1e-9


def test_hash_reservoir_exact_k_and_stable(spark):
    from sparkcollector.operators.corpus import hash_reservoir_sample

    df = spark.createDataFrame(
        [("g1", i) for i in range(500)] + [("g2", i) for i in range(5)],
        "g string, id long",
    )
    out = hash_reservoir_sample(df, ["g"], "id", k=10).collect()
    g1 = sorted(r["id"] for r in out if r["g"] == "g1")
    g2 = sorted(r["id"] for r in out if r["g"] == "g2")
    assert len(g1) == 10 and len(g2) == 5  # min(k, n)
    # stable: repartitioned input picks the identical sample
    out2 = hash_reservoir_sample(
        df.repartition(7), ["g"], "id", k=10).collect()
    assert sorted(r["id"] for r in out2 if r["g"] == "g1") == g1


def test_shapley_efficiency_and_fairness(spark):
    from sparkcollector.operators.analytics import shapley_attribution

    # channel A alone converts 100%, B alone 0%, A+B 100%: all credit
    # to A; symmetric users (C==D behavior) earn equal shares
    rows = []
    for i in range(100):
        rows.append((f"a{i}", "A", 1))            # A only, converts
        rows.append((f"b{i}", "B", 0))            # B only, no
        rows.append((f"ab{i}", "A", 1))
        rows.append((f"ab{i}", "B", 1))
    df = spark.createDataFrame(rows, "uid string, ch string, conv int")
    out = {r["channel"]: r for r in shapley_attribution(
        df, "uid", "ch", ["A", "B"], "conv").collect()}
    assert out["A"]["shapley_value"] > 0.4
    assert abs(out["B"]["shapley_value"]) < 0.3
    # efficiency: sum(phi) = v(full) - v(empty); here every observed
    # coalition with A converts, so total credit is positive and
    # A dominates
    assert out["A"]["share"] > 0.6


def test_qini_positive_for_real_uplift(spark):
    from sparkcollector.operators.analytics import qini_uplift

    # high-score users convert ONLY when treated -> positive qini that
    # accumulates over the top bins; control arm never converts
    rows = []
    for i in range(1000):
        score = float(1000 - i)
        t = i % 2
        y = 1 if (i < 400 and t == 1) else 0
        rows.append((i, score, t, y))
    df = spark.createDataFrame(rows, "id long, score double, t int, y int")
    out = sorted(qini_uplift(df, "id", "score", "t", "y").collect(),
                 key=lambda r: r["bin"])
    assert out[0]["qini"] > 0
    # qini is monotone while uplift persists, flat after
    assert out[3]["qini"] >= out[0]["qini"]
    assert abs(out[9]["qini"] - out[4]["qini"]) < 1e-6
    assert out[0]["uplift_rate"] > 0.9 and abs(out[9]["uplift_rate"]) < 0.01


def test_markov_attribution_credits_the_gateway_channel(spark):
    from sparkcollector.operators.analytics import markov_attribution

    # every conversion path goes A -> B -> conv; C appears only on
    # non-converting paths.  Removing A (or B) kills ALL conversions;
    # removing C changes nothing.
    rows = []
    for i in range(50):
        rows.append((f"c{i}", 1, "A")); rows.append((f"c{i}", 2, "B"))
        rows.append((f"c{i}", 3, "purchase"))
        rows.append((f"n{i}", 1, "C"))
    df = spark.createDataFrame(rows, "u string, t int, ch string")
    out = {r["channel"]: r for r in markov_attribution(
        df, "u", ["t"], "ch", ["A", "B", "C"], "purchase").collect()}
    assert out["A"]["removal_effect"] == 1.0
    assert out["B"]["removal_effect"] == 1.0
    assert out["C"]["removal_effect"] == 0.0
    assert abs(out["A"]["attribution_share"] - 0.5) < 1e-9
    assert out["A"]["p_conv_full"] == 0.5  # half the journeys convert


def test_allan_variance_separates_white_from_drift(spark):
    from sparkcollector.operators.analytics import allan_variance

    # white noise: avar halves per tau doubling; random walk: grows
    rows = []
    for b in range(256):
        rows.append(("white", b, float((b * 2654435761) % 97) - 48.0))
        rows.append(("walk", b, float(b)))  # pure drift
    df = spark.createDataFrame(rows, "g string, b long, y double")
    out = {(r["g"], r["tau"]): r["avar"] for r in allan_variance(
        df, ["g"], "b", "y").collect()}
    assert out[("white", 8)] < out[("white", 1)] / 3  # ~1/8 in theory
    assert out[("walk", 8)] > out[("walk", 1)] * 10   # grows with tau
    # pure linear drift: avar(tau) = tau^2 exactly
    assert abs(out[("walk", 1)] - 0.5) < 1e-9
    assert abs(out[("walk", 2)] - 2.0) < 1e-9


def test_dtw_tolerates_phase_shift(spark):
    from sparkcollector.operators.analytics import dtw_profile_distance

    # B is A shifted by one slot; C is a different shape.  Euclid
    # would punish B; DTW must rank B far closer to A than C.
    rows = []
    for s in range(24):
        peak_a = 5 if s == 10 else 1
        peak_b = 5 if s == 11 else 1
        peak_c = 5 if s in (2, 20) else 1
        rows += [("A", s)] * peak_a + [("B", s)] * peak_b
        rows += [("C", s)] * peak_c
    df = spark.createDataFrame(rows, "g string, h int")
    out = {(r["g_a"], r["g_b"]): r["dtw_dist"] for r in
           dtw_profile_distance(df, "g", "h", "h").collect()}
    assert out[("A", "B")] < out[("A", "C")] / 2
    assert out[("A", "B")] < 0.08


def test_kalman_level_converges_and_smooths(spark):
    from sparkcollector.operators.analytics import kalman_level

    # constant signal with one glitch: filter stays near 10 and the
    # glitch is damped by the converged (small) gain
    vals = [10.0] * 30
    vals[20] = 30.0
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "g string, o int, x double",
    )
    out = {r["o"]: r["kalman_level"] for r in kalman_level(
        df, ["g"], "o", "x").collect()}
    assert out[0] == 10.0
    assert abs(out[19] - 10.0) < 1e-6
    assert 10.0 < out[20] < 16.0       # damped, not swallowed whole
    assert abs(out[29] - 10.0) < 1.0   # recovers


def test_linear_counting_accuracy_in_sparse_regime(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import linear_counting

    df = spark.createDataFrame(
        [("g", i % 700) for i in range(5000)], "g string, k long"
    )
    r = linear_counting(df, ["g"], "k", m=4096).collect()[0]
    assert r["exact_distinct"] == 700
    # sparse bitmap: estimate within ~3% of truth
    assert abs(r["lc_estimate"] - 700) < 25
    # saturated bitmap -> NULL (escalate to HLL)
    big = spark.createDataFrame(
        [("g", i) for i in range(60000)], "g string, k long"
    )
    assert linear_counting(big, ["g"], "k", m=64).collect()[0][
        "lc_estimate"] is None


def test_fellegi_sunter_ranks_fields_by_information(spark):
    from sparkcollector.operators.analytics import fellegi_sunter

    rows = []
    for i in range(2000):
        match = i % 4 == 0
        # id field: perfect; weak field agrees 30% on non-matches;
        # noise agrees half the time regardless
        rows.append((
            1.0 if match else 0.0,
            1.0 if match else 0.0,
            1.0 if (match or i % 10 < 3) else 0.0,
            1.0 if i % 3 == 0 else 0.0,  # %3 independent of %4 label
        ))
    df = spark.createDataFrame(rows, "label double, f_id double, "
                               "f_weak double, f_noise double")
    out = {r["field"]: r for r in fellegi_sunter(
        df, "label", ["f_id", "f_weak", "f_noise"]).collect()}
    assert out["f_id"]["w_agree"] > out["f_weak"]["w_agree"] > 0
    assert abs(out["f_noise"]["w_agree"]) < 0.3   # uninformative
    assert out["f_id"]["w_disagree"] < -5         # disagree kills match


def test_harmonic_ols_recovers_planted_coefficients(spark):
    import math

    from sparkcollector.operators.analytics import harmonic_ols

    # y = 10 + 3*t/24 + 2 sin + 0.5 cos, noiseless
    rows = []
    for b in range(24 * 14):
        ang = 2 * math.pi * ((b % 24) / 24.0)
        y = 10 + 3 * (b / 24.0) + 2 * math.sin(ang) + 0.5 * math.cos(ang)
        rows.append(("g", b, y))
    df = spark.createDataFrame(rows, "g string, b long, y double")
    r = harmonic_ols(df, ["g"], "b", "y", period=24).collect()[0]
    assert abs(r["beta0"] - 10) < 1e-6
    assert abs(r["beta1"] - 3) < 1e-6
    assert abs(r["beta2"] - 2) < 1e-6
    assert abs(r["beta3"] - 0.5) < 1e-6
    assert r["r2"] == 1.0


def test_dp_noisy_counts_deterministic_and_calibrated(spark):
    from sparkcollector.operators.analytics import dp_noisy_counts

    df = spark.createDataFrame(
        [(f"g{i % 50}", j) for i in range(50) for j in range(20)],
        "g string, x int",
    )
    r1 = {r["g"]: r for r in dp_noisy_counts(df, ["g"], 1.0).collect()}
    r2 = {r["g"]: r for r in dp_noisy_counts(df, ["g"], 1.0).collect()}
    assert all(r1[g]["noisy_count"] == r2[g]["noisy_count"] for g in r1)
    assert all(r["true_count"] == 20 for r in r1.values())
    errs = sorted(r["abs_err"] for r in r1.values())
    # Laplace(1): median |noise| = ln(2) ~ 0.69; sanity-band the
    # empirical median over 50 deterministic draws
    assert 0.2 < errs[len(errs) // 2] < 2.0
    # higher epsilon -> strictly less noise, same draw
    tight = {r["g"]: r for r in dp_noisy_counts(df, ["g"], 10.0).collect()}
    assert all(tight[g]["abs_err"] < r1[g]["abs_err"] + 1e-12 for g in r1)


def test_quantile_normalize_aligns_shifted_source(spark):
    from sparkcollector.operators.analytics import (
        quantile_normalize_sources,
    )

    # source B = source A shifted by +1000: after normalization B's
    # mapped values must land on the POOLED grid, i.e. B's p50 bucket
    # maps far below its raw bucket.
    rows = [("A", (i % 40) * 50) for i in range(2000)]
    rows += [("B", (i % 40) * 50 + 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "source string, n_chars int")
    out = {(r["source"], r["bucket"]): r for r in
           quantile_normalize_sources(df, "source", "n_chars", 50)
           .collect()}
    # B's lowest bucket (raw 1000) maps near the pooled low end
    assert out[("B", 1000)]["mapped_value"] <= 550
    # A's lowest bucket stays at the pooled low end
    assert out[("A", 0)]["mapped_value"] <= 50
    # monotone mapping within B
    bs = sorted(
        (b, r["mapped_value"]) for (s, b), r in out.items() if s == "B"
    )
    assert all(m1 <= m2 for (_, m1), (_, m2) in zip(bs, bs[1:]))


def test_classical_decomposition_recovers_planted_cycle(spark):
    import math

    from sparkcollector.operators.analytics import classical_decomposition

    rows = []
    for b in range(24 * 10):
        y = 50 + 0.5 * b + 10 * math.sin(2 * math.pi * (b % 24) / 24.0)
        rows.append(("g", b, y))
    df = spark.createDataFrame(rows, "g string, b long, y double")
    out = classical_decomposition(df, ["g"], "b", "y").collect()
    mid = [r for r in out if r["trend"] is not None]
    # trend tracks the linear component (sin averages out over 2x24)
    for r in mid[::20]:
        assert abs(r["trend"] - (50 + 0.5 * r["b"])) < 0.5
    # seasonal at phase 6 ~ +10 (sin peak), phase 18 ~ -10
    ph = {r["b"] % 24: r["seasonal"] for r in out}
    assert abs(ph[6] - 10) < 0.5 and abs(ph[18] + 10) < 0.5
    # remainder is ~0 everywhere a full window exists
    assert all(abs(r["remainder"]) < 1.0 for r in mid)
    # edges: NULL trend, never a shortened kernel
    assert out[0]["trend"] is None


def test_diff_in_diff_detects_planted_lift_only(spark):
    from sparkcollector.operators.analytics import diff_in_diff

    rows = []
    for i in range(4000):
        t, p = i % 2, (i // 2) % 2
        base = 10.0 + 2 * t + 3 * p          # group + time effects
        y = base + (5.0 if t == 1 and p == 1 else 0.0) \
            + float((i * 2654435761) % 7) - 3.0
        rows.append((t, p, y))
    df = spark.createDataFrame(rows, "t int, p int, y double")
    r = diff_in_diff(df, "t", "p", "y").collect()[0]
    assert abs(r["did"] - 5.0) < 0.5 and r["significant"]
    # no-effect data: did ~ 0, not significant
    null_rows = [(t, p, 10.0 + 2 * t + 3 * p + float((i * 97) % 5))
                 for i, (t, p, _) in enumerate(rows)]
    r0 = diff_in_diff(
        spark.createDataFrame(null_rows, "t int, p int, y double"),
        "t", "p", "y").collect()[0]
    assert abs(r0["did"]) < 0.5


def test_bandit_replay_picks_best_arm(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import bandit_replay_eval

    # ctx 0: arm 2 pays 0.9, others 0.1; ctx 1: arm 0 pays 0.8
    rows = []
    for i in range(6000):
        ctx, arm = i % 2, (i // 2) % 3
        train = (i // 6) % 2 == 0
        if ctx == 0:
            pay = 0.9 if arm == 2 else 0.1
        else:
            pay = 0.8 if arm == 0 else 0.2
        r = 1.0 if (i * 2654435761) % 100 < pay * 100 else 0.0
        rows.append((ctx, arm, r, train))
    df = spark.createDataFrame(rows, "ctx int, arm int, r double, "
                               "is_train boolean")
    out = {r["ctx"]: r for r in bandit_replay_eval(
        df, "ctx", "arm", "r", F.col("is_train")).collect()}
    assert out[0]["policy_arm"] == 2 and out[1]["policy_arm"] == 0
    # replayed policy beats the uniform logging baseline in both ctxs
    assert out[0]["replay_reward"] > out[0]["logging_baseline"]
    assert out[1]["replay_reward"] > out[1]["logging_baseline"]
    # matched fraction ~ 1/3 (uniform logging over 3 arms)
    frac = out[0]["n_matched"] / out[0]["n_eval"]
    assert 0.2 < frac < 0.5


def test_isotonic_calibration_monotone_and_pools_violators(spark):
    from sparkcollector.operators.analytics import isotonic_calibration

    # bin rates 0.1, 0.4, 0.2, 0.8: PAVA pools bins 2+3 -> 0.3
    rows = []
    for i in range(1000):
        b = i % 4
        rate = [0.1, 0.4, 0.2, 0.8][b]
        y = 1.0 if (i // 4) % 10 < rate * 10 else 0.0
        rows.append(((b + 0.5) / 4.0, y))
    df = spark.createDataFrame(rows, "score double, y double")
    out = sorted(isotonic_calibration(df, "score", "y", n_bins=4)
                 .collect(), key=lambda r: r["bin"])
    iso = [r["iso_rate"] for r in out]
    assert iso == sorted(iso)                       # monotone
    assert abs(iso[1] - 0.3) < 1e-9                 # pooled (0.4+0.2)/2
    assert abs(iso[1] - iso[2]) < 1e-12             # same pooled block
    assert abs(iso[0] - 0.1) < 1e-9 and abs(iso[3] - 0.8) < 1e-9
    raw = [r["raw_rate"] for r in out]
    assert raw[1] > raw[2]                          # violation existed


def test_mg1_waiting_matches_mm1_special_case(spark):
    import datetime

    from sparkcollector.operators.analytics import mg1_waiting

    # deterministic service D: E[S^2] = E[S]^2 -> Wq = rho*S/(2(1-rho))
    # (half the M/M/1 wait, the textbook M/D/1 result)
    T0 = 1_700_000_000
    rows = []
    for i in range(1000):
        rows.append(("d", datetime.datetime.fromtimestamp(
            T0 + i * 10, datetime.timezone.utc), 5.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, s double")
    r = mg1_waiting(df, ["g"], "ts", "s").collect()[0]
    lam = 1000 / (999 * 10.0)
    rho = lam * 5.0
    expected_wq = lam * 25.0 / (2 * (1 - rho))
    assert abs(r["rho"] - rho) < 1e-6
    assert abs(r["wq"] - expected_wq) < 1e-6
    # unstable system -> NULL wait
    fast = df.withColumn("s", df.s * 3)
    assert mg1_waiting(fast, ["g"], "ts", "s").collect()[0]["wq"] is None


def test_seasonal_esd_finds_spike_hidden_by_cycle(spark):
    import math

    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import (
        classical_decomposition, gesd_outliers,
    )

    # strong diurnal cycle amplitude 50; spike +40 at an OFF-PEAK hour
    # is smaller than the cycle swing (raw z-score can't see it) but
    # huge in the remainder.
    rows = []
    for b in range(24 * 12):
        y = 100 + 50 * math.sin(2 * math.pi * (b % 24) / 24.0)
        if b == 24 * 6 + 18:      # trough hour
            y += 40
        rows.append(("g", b, y))
    df = spark.createDataFrame(rows, "g string, b long, y double")
    dec = classical_decomposition(df, ["g"], "b", "y")
    rem = dec.filter(F.col("trend").isNotNull()).select(
        "g", "b", F.col("remainder").alias("x"))
    out = sorted(gesd_outliers(rem, "g", "b", "x", max_k=2).collect(),
                 key=lambda r: r["round"])
    assert out[0]["b"] == 24 * 6 + 18 and out[0]["flagged"]
    # the spike dominates; anything later (MA-smear echoes on this
    # noise-free synthetic) is far weaker
    assert out[0]["r_stat"] > 3 * out[1]["r_stat"]


def test_needleman_wunsch_hand_scores(spark):
    from sparkcollector.operators.analytics import needleman_wunsch

    pairs = spark.createDataFrame(
        [
            (1, ["a", "b", "c"], ["a", "b", "c"]),      # identical: +3
            (2, ["a", "b", "c"], ["a", "x", "c"]),      # 1 mismatch: +1
            (3, ["a", "b", "c"], ["a", "c"]),           # 1 gap: 2-1=1
            (4, ["a", "b"], ["x", "y", "z"]),           # nothing aligns
        ],
        "pid int, sa array<string>, sb array<string>",
    )
    out = {r["pid"]: r for r in needleman_wunsch(
        pairs, "sa", "sb").collect()}
    assert out[1]["nw_score"] == 3.0 and out[1]["nw_sim"] == 1.0
    assert out[2]["nw_score"] == 1.0
    assert out[3]["nw_score"] == 1.0
    # best case for pair 4: mismatches+gap = -2 -1 = -3 (or all gaps -5)
    assert out[4]["nw_score"] == -3.0


def test_lof_flags_isolated_point_not_cluster_members(spark):
    from sparkcollector.operators.analytics import lof_outliers

    # tight cluster around e1, second cluster around e2, and one
    # isolated point between/none: LOF >> 1 only for the loner
    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.001 * i, 0.0]))
        rows.append((100 + i, [0.0, 1.0, 0.001 * i]))
    rows.append((999, [0.7, 0.7, 0.3]))  # belongs to neither
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in lof_outliers(df, k=5).collect()}
    assert out[999]["lof"] > 1.5 and out[999]["is_outlier"]
    inliers = [out[i]["lof"] for i in range(20)]
    assert max(inliers) < 1.3


def test_stratified_kfold_exact_balance_and_stability(spark):
    from sparkcollector.operators.analytics import stratified_kfold

    df = spark.createDataFrame(
        [(i, "a" if i < 103 else "b") for i in range(200)],
        "id long, cls string",
    )
    out = stratified_kfold(df, ["cls"], "id", k=5).collect()
    from collections import Counter

    sizes = Counter((r["cls"], r["fold"]) for r in out)
    for cls, n in (("a", 103), ("b", 97)):
        per = [sizes[(cls, f)] for f in range(5)]
        assert max(per) - min(per) <= 1 and sum(per) == n
    # stable under repartition
    out2 = stratified_kfold(df.repartition(7), ["cls"], "id", k=5).collect()
    assert {(r["id"], r["fold"]) for r in out} == {
        (r["id"], r["fold"]) for r in out2}


def test_holm_vs_bh_power_ordering(spark):
    from sparkcollector.operators.analytics import bh_fdr, holm_bonferroni

    # 3 tiny p-values among 20: Holm (FWER) rejects a subset of BH
    ps = [0.0001, 0.0005, 0.001] + [0.2 + 0.03 * i for i in range(17)]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "tid int, p double"
    )
    holm = {r["tid"]: r for r in holm_bonferroni(
        df, "tid", "p").collect()}
    bh = {r["tid"]: r for r in bh_fdr(df, "tid", "p", q=0.05).collect()}
    assert holm[0]["reject"] and holm[1]["reject"] and holm[2]["reject"]
    # Holm adjusted p = running max of (m-k+1)p: first = 20*0.0001
    assert abs(holm[0]["p_adj"] - 0.002) < 1e-12
    # Holm rejections are a subset of BH's (FWER stricter than FDR)
    assert all(bh[t]["reject"] for t in holm if holm[t]["reject"])
    assert not holm[5]["reject"]


def test_gmm_em_recovers_planted_bimodal(spark):
    from sparkcollector.operators.analytics import gmm_em_2comp

    # two clear components: N(10, 1)-ish and N(50, 2)-ish grids
    rows = []
    for i in range(1500):
        if i % 3 == 0:
            rows.append(("g", 10.0 + ((i * 5) % 21 - 10) / 10.0))
        else:
            rows.append(("g", 50.0 + ((i * 11) % 41 - 20) / 10.0))
    df = spark.createDataFrame(rows, "g string, x double")
    r = gmm_em_2comp(df, ["g"], "x").collect()[0]
    assert abs(r["mu1"] - 10.0) < 0.5 and abs(r["mu2"] - 50.0) < 0.5
    assert abs(r["weight1"] - 1 / 3) < 0.05
    assert r["sigma1"] < 2 and r["sigma2"] < 3
    # deterministic: re-run bit-identical
    r2 = gmm_em_2comp(df, ["g"], "x").collect()[0]
    assert (r["mu1"], r["sigma1"], r["weight1"]) == (
        r2["mu1"], r2["sigma1"], r2["weight1"])


def test_viterbi_bridges_single_quiet_hour(spark):
    from sparkcollector.operators.analytics import viterbi_burst_states

    # burst block with ONE embedded quiet observation: threshold
    # labeling flickers, Viterbi must bridge it (switch cost 2 x 2 >
    # emission gain 3)
    obs = [0] * 10 + [1, 1, 1, 0, 1, 1, 1] + [0] * 10
    df = spark.createDataFrame(
        [("g", i, o) for i, o in enumerate(obs)],
        "g string, t int, y int",
    )
    out = {r["t"]: r["state"] for r in viterbi_burst_states(
        df, ["g"], "t", "y").collect()}
    assert out[13] == 1                      # bridged
    assert all(out[i] == 1 for i in range(10, 17))
    assert all(out[i] == 0 for i in range(0, 10))
    assert all(out[i] == 0 for i in range(17, 27))


def test_ndv_gee_beats_naive_scaling_on_skew(spark):
    from sparkcollector.operators.analytics import ndv_from_sample_gee

    # 100 hot keys (many dups) + 5000 singletons: naive d/q wildly
    # off; GEE's singleton correction lands near the truth
    rows = [("g", i, i % 100) for i in range(20000)]
    rows += [("g", 20000 + i, 1000 + i) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, rid long, k long")
    r = ndv_from_sample_gee(
        df, ["g"], "k", "rid", sample_pct=10).collect()[0]
    assert r["exact_ndv"] == 5100
    assert 0.6 < r["ratio"] < 1.4          # GEE within +-40%
    # naive scaling of the sampled distinct count is far worse than
    # the GEE correction on this skew
    naive = r["d_sample"] * 10
    assert abs(r["ndv_estimate"] - 5100) < abs(naive - 5100)


def test_pot_gpd_exponential_tail_has_zero_xi(spark):
    import math

    from sparkcollector.operators.analytics import pot_gpd_fit

    # exponential-ish excesses (memoryless): xi ~ 0, beta ~ mean excess
    rows = [("g", -10.0 * math.log((i + 0.5) / 4000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = pot_gpd_fit(df, ["g"], "x", threshold_q=0.9).collect()[0]
    assert abs(r["xi"]) < 0.15             # exponential domain
    assert 7 < r["beta"] < 13              # ~ the exp scale 10
    assert r["return_level"] > r["u"]      # extrapolates beyond u


def test_moe_router_balance_flags_collapse(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import moe_router_balance

    # balanced router: uniform probs, round-robin top
    bal = spark.createDataFrame(
        [(0.25, 0.25, 0.25, 0.25, i % 4) for i in range(1000)],
        "p0 double, p1 double, p2 double, p3 double, top int",
    )
    rb = moe_router_balance(
        bal, ["p0", "p1", "p2", "p3"], F.col("top")).collect()
    assert abs(rb[0]["aux_loss"] - 1.0) < 1e-9
    assert rb[0]["load_cv2"] < 1e-12
    # collapsed router: everything to expert 0
    col = spark.createDataFrame(
        [(0.97, 0.01, 0.01, 0.01, 0) for _ in range(1000)],
        "p0 double, p1 double, p2 double, p3 double, top int",
    )
    rc = moe_router_balance(
        col, ["p0", "p1", "p2", "p3"], F.col("top")).collect()
    assert rc[0]["aux_loss"] > 3.5 and rc[0]["load_cv2"] > 2.5


def test_iv_recovers_true_effect_ols_does_not(spark):
    from sparkcollector.operators.analytics import iv_2sls

    # y = 3x + 5u with u also driving x: OLS pulled toward the
    # confounder; IV via z recovers ~3 with a strong first stage
    rows = []
    for i in range(5000):
        z = float(i % 7)
        u = float((i * 31) % 50)
        x = 2 * z + u + float((i * 13) % 11 - 5)
        y = 3 * x + 5 * u + float((i * 17) % 9 - 4)
        rows.append(("g", z, x, y))
    df = spark.createDataFrame(rows, "g string, z double, x double, y double")
    r = iv_2sls(df, ["g"], "z", "x", "y").collect()[0]
    assert abs(r["beta_iv"] - 3.0) < 0.2
    assert r["beta_ols"] > 3.5                 # confounding bias visible
    assert r["first_stage_f"] > 100            # strong instrument


def test_rd_measures_planted_jump(spark):
    from sparkcollector.operators.analytics import regression_discontinuity

    rows = []
    for i in range(4000):
        run = float(i % 200)
        y = 2.0 + 0.1 * (run - 100) + (6.0 if run >= 100 else 0.0) \
            + float(i % 5 - 2) / 10
        rows.append((run, y))
    df = spark.createDataFrame(rows, "running double, y double")
    r = regression_discontinuity(df, "running", "y", 100.0, 40.0).collect()[0]
    assert abs(r["rd_effect"] - 6.0) < 0.3
    assert abs(r["slope_left"] - 0.1) < 0.05
    assert abs(r["slope_right"] - 0.1) < 0.05
    # starved side -> NULL effect
    left_only = df.filter("running < 100")
    assert regression_discontinuity(
        left_only, "running", "y", 100.0, 40.0).collect()[0][
        "rd_effect"] is None


def test_propensity_matching_removes_selection_bias(spark):
    from sparkcollector.operators.analytics import propensity_matching

    # treated units have systematically HIGHER scores and score also
    # drives the outcome (selection bias); matched comparison must
    # recover the +2 true effect, raw difference is much larger
    rows = []
    for i in range(3000):
        t = 1 if i % 3 == 0 else 0
        s = (i % 100) / 100.0 + (0.2 if t else 0.0)
        y = 10 * s + (2.0 if t else 0.0)
        rows.append((i, t, s, y))
    df = spark.createDataFrame(rows, "id long, t int, s double, y double")
    r = propensity_matching(df, "id", "t", "s", "y", 0.02).collect()[0]
    raw_diff = 10 * 0.2 + 2.0  # ~4 raw
    assert abs(r["att"] - 2.0) < 0.3
    assert r["att"] < raw_diff - 1
    assert r["match_rate"] > 0.7  # top-score treated lack controls


def test_randomized_response_unbiased_and_private(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import randomized_response

    df = spark.createDataFrame(
        [(i, 1 if i % 5 == 0 else 0) for i in range(20000)],
        "id long, y int",
    ).withColumn("g", F.lit("all"))
    r = randomized_response(
        df, ["g"], "id", F.col("y") == 1, p_truth=0.7).collect()[0]
    assert r["true_rate"] == 0.2
    # observed rate is scrambled toward 0.5, estimator recovers truth
    assert 0.3 < r["observed_rate"] < 0.45
    assert abs(r["estimated_rate"] - 0.2) < 0.03
    # deterministic re-run
    r2 = randomized_response(
        df, ["g"], "id", F.col("y") == 1, p_truth=0.7).collect()[0]
    assert r["estimated_rate"] == r2["estimated_rate"]


def test_krippendorff_alpha_extremes(spark):
    from sparkcollector.operators.analytics import krippendorff_alpha

    # perfect agreement -> alpha = 1
    perfect = spark.createDataFrame(
        [(u, u % 3) for u in range(100) for _ in range(3)],
        "unit int, cat int",
    )
    assert krippendorff_alpha(perfect, "unit", "cat").collect()[0][
        "alpha"] == 1.0
    # systematic within-unit disagreement -> alpha near or below 0
    bad = spark.createDataFrame(
        [(u, r % 2) for u in range(100) for r in range(2)],
        "unit int, cat int",
    )
    a = krippendorff_alpha(bad, "unit", "cat").collect()[0]["alpha"]
    assert a < 0.05
    # single-rating units are excluded from n
    mixed = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 1)], "unit int, cat int"
    )
    r = krippendorff_alpha(mixed, "unit", "cat").collect()[0]
    assert r["n_ratings"] == 2 and r["alpha"] == 0.0
    # degenerate: all kept ratings one category -> De = 0 -> NULL
    degen = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 1)], "unit int, cat int"
    )
    assert krippendorff_alpha(degen, "unit", "cat").collect()[0][
        "alpha"] is None


def test_capture_recapture_estimates_population(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import capture_recapture

    # population 1001 = 7 * 11 * 13; windows keyed on coprime moduli
    # are exactly independent by CRT -> Chapman lands on the truth
    rows = [(i, (i % 7) < 4, (i % 11) < 5) for i in range(1001)]
    df = spark.createDataFrame(rows, "id long, s1 boolean, s2 boolean")
    r = capture_recapture(
        df, "id", F.col("s1"), F.col("s2")).collect()[0]
    assert r["exact"] == 1001
    assert abs(r["n_estimate"] - 1001) < 60
    assert r["m"] == 1001 * 4 * 5 // (7 * 11)


def test_aa_calibration_rejects_about_alpha(spark):
    from sparkcollector.operators.analytics import aa_test_calibration

    df = spark.createDataFrame(
        [(i, float((i * 2654435761) % 997)) for i in range(4000)],
        "id long, x double",
    )
    out = aa_test_calibration(df, "id", "x", n_splits=20).collect()
    assert len(out) == 20
    fp = sum(1 for r in out if r["false_positive"])
    assert fp <= 3                      # ~5% of 20, generous band
    # arms roughly balanced under the hash
    for r in out:
        assert abs(r["n_a"] - r["n_b"]) < 400


def test_degree_assortativity_sign(spark):
    from sparkcollector.operators.graph import degree_assortativity

    # star graph: hub to leaves only -> strongly negative
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 11)], "a int, b int"
    )
    r = degree_assortativity(star).collect()[0]
    assert r["assortativity"] == -1.0 and r["n_edges"] == 10
    # two disjoint cliques of equal size: every endpoint degree equal
    # -> correlation undefined (zero variance) -> NULL
    k3 = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
    r2 = degree_assortativity(
        spark.createDataFrame(k3, "a int, b int")).collect()[0]
    assert r2["assortativity"] is None


def test_ams_f2_within_factor_of_exact(spark):
    from sparkcollector.operators.analytics import ams_f2_sketch

    # zipf-ish key: F2 dominated by hot keys
    df = spark.createDataFrame(
        [(i % (1 + i % 37),) for i in range(20000)], ["k"]
    )
    r = ams_f2_sketch(df, "k", n_estimators=16).collect()[0]
    assert 0.4 < r["ratio"] < 2.5   # AMS variance band, 16 estimators
    # deterministic: identical re-run
    r2 = ams_f2_sketch(df, "k", n_estimators=16).collect()[0]
    assert r["f2_estimate"] == r2["f2_estimate"]


def test_simpsons_paradox_flags_reversal_only(spark):
    from sparkcollector.operators.analytics import simpsons_paradox_detect

    rows = []
    for i in range(3000):
        g = i % 3
        x = float(i % 10 + 10 * g)
        y_rev = 2 * x - 30 * g          # within +, pooled -
        y_ok = 2 * x + 5 * g            # within +, pooled +
        rows.append((g, x, y_rev, y_ok))
    df = spark.createDataFrame(rows, "g int, x double, yr double, yk double")
    r = simpsons_paradox_detect(df, "g", "x", "yr").collect()[0]
    assert r["paradox"] and r["n_pos"] == 3 and r["pooled_slope"] < 0
    r2 = simpsons_paradox_detect(df, "g", "x", "yk").collect()[0]
    assert not r2["paradox"] and r2["pooled_slope"] > 0


def test_mediation_recovers_planted_paths(spark):
    from sparkcollector.operators.analytics import mediation_analysis

    rows = []
    for i in range(4000):
        x = float(i % 20)
        m = 2 * x + float((i * 11) % 7 - 3) / 10
        y = 3 * m + 0.5 * x + float((i * 13) % 9 - 4) / 10
        rows.append((x, m, y))
    df = spark.createDataFrame(rows, "x double, m double, y double")
    r = mediation_analysis(df, "x", "m", "y").collect()[0]
    assert abs(r["a_path"] - 2.0) < 0.05
    assert abs(r["b_path"] - 3.0) < 0.05
    assert abs(r["direct_effect"] - 0.5) < 0.15
    assert abs(r["total_effect"] - 6.5) < 0.05
    assert abs(r["indirect_effect"] - 6.0) < 0.2
    assert 0.85 < r["prop_mediated"] < 0.99


def test_adtributor_finds_planted_driver(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import adtributor_rootcause

    # equal-size windows; the after-window adds rows ONLY to the
    # (svc=payments) slice -> payments tops the svc dimension and
    # explains ~all of the total change
    rows = []
    for i in range(6000):
        svc = ["payments", "search", "web"][i % 3]
        # (i % 4) // 2 keeps region alternating WITHIN the i%6==0
        # extras too — the planted change must not leak into region
        region = ["eu", "us"][(i % 4) // 2]
        after = i % 2 == 0
        rows.append((svc, region, after))
        if after and svc == "payments" and i % 6 == 0:
            rows.append((svc, region, True))
            rows.append((svc, region, True))
    df = spark.createDataFrame(rows, "svc string, region string, "
                               "aft boolean")
    out = adtributor_rootcause(
        df, ["svc", "region"], F.col("aft"), top_k=2).collect()
    svc_top = [r for r in out if r["dimension"] == "svc"
               and r["rank"] == 1][0]
    assert svc_top["value"] == "payments"
    assert svc_top["explanatory_power"] > 0.6
    # region stayed proportional: its top surprise is far smaller
    reg_top = [r for r in out if r["dimension"] == "region"
               and r["rank"] == 1][0]
    assert reg_top["surprise"] < svc_top["surprise"] / 5


def test_hotelling_detects_diagonal_shift_z_tests_miss(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import hotelling_t2

    # PAIRED construction: both arms share the identical (u, noise)
    # sequence, arm b then shifted (+1, -1) AGAINST the correlation —
    # small marginals, huge Mahalanobis distance
    rows = []
    for i in range(4000):
        j = i // 2
        u = float(j % 100)
        x = u + float((j * 7) % 11) / 10
        y = u + float((j * 13) % 11) / 10
        if i % 2 == 1:
            x, y = x + 1.0, y - 1.0
        rows.append((i % 2, x, y))
    df = spark.createDataFrame(rows, "s int, x double, y double")
    r = hotelling_t2(df, F.col("s") == 1, "x", "y").collect()[0]
    assert abs(r["shift_x"] - 1.0) < 1e-9
    assert abs(r["shift_y"] + 1.0) < 1e-9
    assert r["t2"] > 1000 and r["shifted"]
    # exact no-shift control (paired arms identical)
    df0 = df.withColumn("x", F.col("x") - F.when(
        F.col("s") == 1, 1.0).otherwise(0.0)).withColumn(
        "y", F.col("y") + F.when(F.col("s") == 1, 1.0).otherwise(0.0))
    assert not hotelling_t2(
        df0, F.col("s") == 1, "x", "y").collect()[0]["shifted"]


def test_newsvendor_quantile_beats_mean_under_asymmetry(spark):
    from sparkcollector.operators.analytics import newsvendor_quantile

    df = spark.createDataFrame(
        [("g", float((i * 2654435761) % 100)) for i in range(5000)],
        "g string, demand double",
    )
    r = newsvendor_quantile(df, ["g"], "demand", 9.0, 1.0).collect()[0]
    assert r["critical_ratio"] == 0.9
    assert r["q_star"] > r["mean_demand"]          # cu >> co -> stock up
    assert r["exp_cost_at_q"] < r["exp_cost_at_mean"]


def test_twfe_recovers_beta_naive_ols_confounded(spark):
    from sparkcollector.operators.analytics import twfe_panel

    rows = []
    for unit in range(30):
        for day in range(40):
            x = float((unit * 3 + day * 5) % 10)   # x varies within
            y = 2.0 * x + 7.0 * unit - 3.0 * day \
                + float((unit + day) % 5 - 2) / 10
            rows.append((unit, day, x, y))
    df = spark.createDataFrame(rows, "u int, d int, x double, y double")
    r = twfe_panel(df, "u", "d", "x", "y").collect()[0]
    assert abs(r["beta_within"] - 2.0) < 0.05
    assert r["r2_within"] > 0.95
    # naive pooled OLS on the same data is badly confounded
    import numpy as np

    xs = np.array([r2[2] for r2 in rows])
    ys = np.array([r2[3] for r2 in rows])
    naive = np.cov(xs, ys)[0, 1] / np.var(xs)
    assert abs(naive - 2.0) > 0.3


def test_adstock_beats_naive_on_carryover_response(spark):
    from sparkcollector.operators.analytics import adstock_fit

    # y responds to the ADSTOCKED spend exactly: fitting raw spend
    # underestimates; fitting adstock recovers 5.0
    rows = []
    a = 0.0
    for tday in range(200):
        s = float((tday * 7) % 13)
        a = s + 0.6 * a if tday else s
        y = 5.0 * a + float(tday % 3 - 1) / 10
        rows.append(("g", tday, s, y))
    df = spark.createDataFrame(rows, "g string, o int, s double, y double")
    r = adstock_fit(df, ["g"], "o", "s", "y", decay=0.6).collect()[0]
    assert abs(r["beta_adstock"] - 5.0) < 0.05
    assert abs(r["beta_naive"] - 5.0) > 0.5  # carryover missed


def test_qte_shows_proportional_effect_growing(spark):
    from sparkcollector.operators.analytics import quantile_treatment_effect

    rows = []
    for i in range(4000):
        t = i % 2
        base = float((i * 2654435761) % 1000) / 10
        rows.append((t, base * (1 + 0.2 * t)))
    df = spark.createDataFrame(rows, "t int, y double")
    out = sorted(quantile_treatment_effect(df, "t", "y").collect(),
                 key=lambda r: r["quantile"])
    qtes = [r["qte"] for r in out]
    # proportional effect: gap grows with the quantile
    assert qtes == sorted(qtes)
    assert qtes[-1] > 3 * max(qtes[0], 0.5)


def test_leave_one_out_influence_sums_consistently(spark):
    from sparkcollector.operators.analytics import leave_one_out_influence

    # group "bad" has an inverted x-y relation: removing it must RAISE
    # the slope (positive influence); removing an aligned group lowers
    rows = []
    for i in range(3000):
        x = float(i % 50)
        if i % 3 == 0:
            rows.append(("bad", x, -2.0 * x))
        else:
            rows.append((f"ok{i % 2}", x, 3.0 * x))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in leave_one_out_influence(
        df, ["g"], "x", "y").collect()}
    assert out["bad"]["influence"] > 1.0
    assert out["ok0"]["influence"] < 0
    # removing "bad" yields the clean 3.0 slope
    assert abs(out["bad"]["slope_without"] - 3.0) < 1e-6
    # all rows share the same slope_full
    fulls = {r["slope_full"] for r in out.values()}
    assert len(fulls) == 1


def test_forecast_combo_beats_components_on_mixed_signal(spark):
    from sparkcollector.operators.analytics import forecast_combo

    # signal = weekly cycle + slow drift + small noise: seasonal-naive
    # nails the cycle, drift nails the trend; the combo beats both
    rows = []
    for d in range(120):
        y = 100 + 2.0 * d + 30.0 * (d % 7 == 0) + float(d % 3) / 10
        rows.append(("g", d, y))
    df = spark.createDataFrame(rows, "g string, o int, y double")
    r = forecast_combo(df, ["g"], "o", "y", season=7).collect()[0]
    assert r["n_evals"] == 113
    assert r["mae_combo"] <= min(
        r["mae_naive"], r["mae_seasonal_naive"], r["mae_drift"]) * 1.05
    assert r["combo_wins"] or r["mae_combo"] < r["mae_seasonal_naive"]


def test_rmst_flat_and_dropping_curves(spark):
    import datetime

    from sparkcollector.operators.analytics import rmst

    T0 = 1_700_000_000

    def ts(days):
        return datetime.datetime.fromtimestamp(
            T0 + days * 86400, datetime.timezone.utc)

    # every unit active the whole window (censored) -> S stays 1 up to
    # its observed duration; RMST near tau for long-lived units
    rows = []
    for u in range(50):
        rows.append((u, ts(0)))
        rows.append((u, ts(20)))     # 20-day lifetime, censored
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    r = rmst(df, "user_id", "ts", horizon_days=7, tau_days=14).collect()[0]
    assert r["rmst_days"] == 14.0    # S=1 past tau
    # all die on day 2 (well before horizon) -> area = 2 * 1.0
    rows2 = []
    for u in range(50):
        rows2.append((u, ts(0)))
        rows2.append((u, ts(2)))
    rows2 += [(999, ts(0)), (999, ts(29))]   # keeps the window open
    df2 = spark.createDataFrame(rows2, "user_id long, ts timestamp")
    r2 = rmst(df2, "user_id", "ts", horizon_days=7,
              tau_days=14).collect()[0]
    assert 2.0 <= r2["rmst_days"] < 4.0


def test_obf_boundaries_gate_early_peeking(spark):
    from sparkcollector.operators.analytics import obrien_fleming_looks

    # modest constant effect: z ~ 2.6 at every look — crosses ONLY the
    # late lenient boundaries, never the early conservative ones
    rows = []
    for i in range(20000):
        look = i % 5 + 1
        t = i % 2
        # base depends on i//10 only -> balanced across arms and looks
        x = float((i // 10 * 7) % 100) + (1.0 if t else 0.0)
        rows.append((look, t, x))
    df = spark.createDataFrame(rows, "look int, t int, x double")
    out = sorted(obrien_fleming_looks(df, "look", "t", "x").collect(),
                 key=lambda r: r["look"])
    assert not out[0]["crossed"]               # 4.88 wall at look 1
    assert out[4]["boundary"] == 2.0310
    crossings = [r for r in out if r["first_crossing"]]
    assert len(crossings) <= 1                 # at most one first stop
    # z grows with accrual for a constant effect
    assert abs(out[4]["z"]) > abs(out[0]["z"])


def test_snips_lower_variance_than_ips_shape(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import snips_offpolicy

    # arm 2 pays 0.9 in ctx 0; uniform logging over 3 arms
    rows = []
    for i in range(9000):
        ctx, arm = 0, i % 3
        train = (i // 3) % 2 == 0
        pay = 0.9 if arm == 2 else 0.1
        r = 1.0 if (i * 2654435761) % 100 < pay * 100 else 0.0
        rows.append((ctx, arm, r, train))
    df = spark.createDataFrame(rows, "ctx int, arm int, r double, "
                               "is_train boolean")
    out = snips_offpolicy(
        df, "ctx", "arm", "r", 1.0 / 3, F.col("is_train")).collect()[0]
    assert out["policy_arm"] == 2
    # both estimators near the true 0.9, way above logging value
    assert abs(out["snips_value"] - 0.9) < 0.06
    assert abs(out["ips_value"] - 0.9) < 0.15
    assert out["logging_value"] < 0.5
    # ESS ~ n/3 (only matched events carry weight)
    assert 0.2 < out["ess"] / out["n_eval"] < 0.5


def test_conformance_scores_clean_vs_deviant_journeys(spark):
    from sparkcollector.operators.analytics import conformance_fitness

    allowed = [("START", "a"), ("a", "b"), ("b", "c")]
    rows = []
    # 10 perfectly conformant journeys a->b->c
    for u in range(10):
        rows += [(u, 1, "a"), (u, 2, "b"), (u, 3, "c")]
    # 5 journeys with one illegal move (c->a)
    for u in range(10, 15):
        rows += [(u, 1, "a"), (u, 2, "b"), (u, 3, "c"), (u, 4, "a")]
    df = spark.createDataFrame(rows, "u int, o int, act string")
    r = conformance_fitness(df, "u", ["o"], "act", allowed).collect()[0]
    assert r["n_units"] == 15
    assert abs(r["fully_conformant_rate"] - 10 / 15) < 1e-6
    assert r["min_fitness"] == 0.75          # 3 of 4 moves legal
    assert abs(r["mean_fitness"] - (10 * 1.0 + 5 * 0.75) / 15) < 1e-5


def test_usl_recovers_planted_contention(spark):
    from sparkcollector.operators.analytics import usl_fit

    lam, sig, kap = 500.0, 0.08, 0.002
    rows = []
    for i in range(1600):
        n = float(i % 32 + 1)
        x = lam * n / (1 + sig * (n - 1) + kap * n * (n - 1))
        rows.append((n, x))
    df = spark.createDataFrame(rows, "n double, x double")
    r = usl_fit(df, "n", "x").collect()[0]
    assert abs(r["lambda_1"] - lam) < 1
    assert abs(r["sigma"] - sig) < 0.002
    assert abs(r["kappa"] - kap) < 0.0002
    import math

    assert abs(r["n_peak"] - math.sqrt((1 - sig) / kap)) < 0.5


def test_brunner_munzel_p_hat_and_unequal_variance(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import brunner_munzel

    # identical distributions -> p_hat ~ 0.5, not significant
    same = spark.createDataFrame(
        [((i // 100) % 2, float(i % 100)) for i in range(4000)],
        "g int, v double",
    )
    r = brunner_munzel(same, F.col("g") == 1, "v").collect()[0]
    assert abs(r["p_hat"] - 0.5) < 0.01 and not r["significant"]
    # group b stochastically larger (shift +20) -> p_hat >> 0.5
    shifted = spark.createDataFrame(
        [((i // 100) % 2,
          float(i % 100) + (20.0 if (i // 100) % 2 else 0.0))
         for i in range(4000)],
        "g int, v double",
    )
    r2 = brunner_munzel(shifted, F.col("g") == 1, "v").collect()[0]
    assert r2["p_hat"] > 0.55 and r2["significant"]
    assert r2["bm_stat"] > 3


def test_composite_slo_arithmetic(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import composite_slo

    # exact availabilities: a=0.9, b=0.99, c=0.9
    rows = []
    for i in range(1000):
        rows.append(("a", i % 10 != 0))
        rows.append(("b", i % 100 != 0))
        rows.append(("c", i % 10 != 0))
    df = spark.createDataFrame(rows, "svc string, ok boolean")
    out = {r["tier"]: r for r in composite_slo(
        df, "svc", F.col("ok"),
        {"chain": ("serial", ["a", "b"]),
         "redundant": ("parallel", ["a", "c"])},
        quorum=("q", 2, ["a", "b", "c"]),
    ).collect()}
    assert abs(out["chain"]["availability"] - 0.9 * 0.99) < 1e-9
    assert abs(out["redundant"]["availability"]
               - (1 - 0.1 * 0.1)) < 1e-9
    # 2-of-3 with (0.9, 0.99, 0.9)
    a, b, c = 0.9, 0.99, 0.9
    q = (a * b * (1 - c) + a * (1 - b) * c + (1 - a) * b * c
         + a * b * c)
    assert abs(out["q"]["availability"] - q) < 1e-9
    # downtime minutes consistent
    assert abs(out["chain"]["downtime_min_month"]
               - (1 - 0.9 * 0.99) * 43200) < 0.1


def test_retry_amplification_multiplies_along_paths(spark):
    from sparkcollector.operators.analytics import retry_amplification

    edges = spark.createDataFrame(
        [("fe", "api", 3.0), ("api", "db", 2.0), ("api", "cache", 1.0),
         ("db", "disk", 2.0)],
        "src string, dst string, attempts double",
    )
    out = {r["svc"]: r for r in retry_amplification(
        edges, "fe", max_depth=3).collect()}
    assert out["api"]["worst_amplification"] == 3.0
    assert out["db"]["worst_amplification"] == 6.0
    assert out["disk"]["worst_amplification"] == 12.0
    assert out["disk"]["worst_path"] == "fe>api>db>disk"
    assert out["cache"]["worst_amplification"] == 3.0


def test_transfer_entropy_directionality(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import transfer_entropy

    # y follows x with lag 1 (y_t = x_{t-1}); x is an exogenous
    # pseudo-random bit -> TE(x->y) >> TE(y->x)
    xs, rows = [], []
    v = 1
    for t in range(600):
        v = (v * 1103515245 + 12345) % 2147483648
        x = (v >> 16) & 1
        y = xs[-1] if xs else 0
        xs.append(x)
        rows.append((t, x == 1, y == 1))
    df = spark.createDataFrame(rows, "b long, x boolean, y boolean")
    r = transfer_entropy(df, "b", F.col("x"), F.col("y")).collect()[0]
    assert r["te_x_to_y"] > 0.5          # y is a copy of x's past
    assert r["te_y_to_x"] < 0.05         # nothing flows back
    assert r["asymmetry"] > 0.45
    # independent streams: both directions ~ 0
    rows2 = [(t, (t // 3) % 2 == 0, (t // 5) % 2 == 0)
             for t in range(600)]
    df2 = spark.createDataFrame(rows2, "b long, x boolean, y boolean")
    r2 = transfer_entropy(df2, "b", F.col("x"), F.col("y")).collect()[0]
    assert abs(r2["te_x_to_y"]) < 0.1 and abs(r2["te_y_to_x"]) < 0.1


def test_littles_law_holds_for_constant_stream(spark):
    from datetime import datetime, timedelta

    from sparkcollector.operators.analytics import littles_law_audit

    # one arrival every 10s, each in system exactly 20s ->
    # lambda = 0.1/s, W = 20s, L = 2 (edge effects only at hour ends)
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [(base + timedelta(seconds=10 * i), 20.0)
            for i in range(720)]  # exactly two hours of arrivals
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["hour_bucket"]: r for r in littles_law_audit(df).collect()}
    h0 = min(out)
    r = out[h0]
    assert r["n_arrivals"] == 360
    assert abs(r["lambda_per_s"] - 0.1) < 1e-9
    assert abs(r["w_mean_s"] - 20.0) < 1e-9
    assert abs(r["l_predicted"] - 2.0) < 1e-9
    # measured L loses only the last arrival's spillover into hour+1
    assert abs(r["l_measured"] - 2.0) < 0.01
    assert abs(r["rel_err"]) < 0.005


def test_littles_law_spillover_credited_to_next_hour(spark):
    from datetime import datetime

    from sparkcollector.operators.analytics import littles_law_audit

    # single request arriving 30s before the hour boundary, 60s long:
    # 30 busy-seconds in its own hour, 30 in the next (which has no
    # arrivals, so it only shows on the arrival hour's row)
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 59, 30), 60.0)],
        "ts timestamp, value double",
    )
    r = littles_law_audit(df).collect()
    assert len(r) == 1
    assert abs(r[0]["l_measured"] - 30.0 / 3600) < 1e-6


def test_cochran_armitage_detects_monotone_trend(spark):
    from sparkcollector.operators.analytics import cochran_armitage_trend

    # success probability rises deterministically with the score:
    # group w has w successes out of 10 -> strong positive trend
    rows = []
    for w in range(10):
        for i in range(10):
            rows.append((float(w), 1 if i < w else 0))
    df = spark.createDataFrame(rows, "w double, y int")
    r = cochran_armitage_trend(df, "w", "y").collect()[0]
    assert r["n_groups"] == 10
    assert r["n_total"] == 100 and r["n_success"] == 45
    assert r["z"] > 5 and r["significant_95"]
    # flat: no trend
    flat = spark.createDataFrame(
        [(float(w), i % 2) for w in range(10) for i in range(10)],
        "w double, y int",
    )
    r2 = cochran_armitage_trend(flat, "w", "y").collect()[0]
    assert abs(r2["z"]) < 1e-6 and not r2["significant_95"]


def test_adamic_adar_rare_shared_shingles_win(spark):
    from sparkcollector.operators.analytics import adamic_adar_pairs

    # docs 1/2 share a rare 3-shingle (df=2); docs 3/4/5 share one
    # with df=3 -> pair (1,2) outscores any pair of {3,4,5}
    docs = [
        (1, "alpha beta gamma zz1 yy1 xx1"),
        (2, "alpha beta gamma zz2 yy2 xx2"),
        (3, "delta epsilon zeta zz3 yy3 xx3"),
        (4, "delta epsilon zeta zz4 yy4 xx4"),
        (5, "delta epsilon zeta zz5 yy5 xx5"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = adamic_adar_pairs(df, min_df=2, max_df=10, top_k=10).collect()
    scores = {(r["d1"], r["d2"]): r["aa_score"] for r in out}
    import math
    assert abs(scores[(1, 2)] - 1 / math.log(2)) < 1e-6
    assert abs(scores[(3, 4)] - 1 / math.log(3)) < 1e-6
    assert scores[(1, 2)] > scores[(3, 4)]
    # df-band excludes ubiquitous shingles: nothing links 1 to 3
    assert (1, 3) not in scores


def test_jonckheere_detects_ordered_shift(spark):
    from sparkcollector.operators.analytics import jonckheere_terpstra

    # group g's values all sit strictly above group g-1's -> U is
    # maximal: every cross-group pair counts, z large positive
    rows = [(g, float(g * 10 + i)) for g in range(4) for i in range(8)]
    df = spark.createDataFrame(rows, "g long, v double")
    r = jonckheere_terpstra(df, "g", "v").collect()[0]
    # max U = sum over pairs of n_i*n_j = 6 pairs * 64
    assert r["jt_u"] == 6 * 64
    assert r["z"] > 3 and r["significant_95"]
    # identical distributions -> U == E[U], z == 0
    flat = spark.createDataFrame(
        [(g, float(i)) for g in range(4) for i in range(8)],
        "g long, v double",
    )
    r2 = jonckheere_terpstra(flat, "g", "v").collect()[0]
    assert abs(r2["jt_u"] - r2["expected_u"]) < 1e-9
    assert abs(r2["z"]) < 1e-9 and not r2["significant_95"]


def test_kendalls_w_perfect_vs_reversed(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import kendalls_w

    # three judges giving identical scores -> W = 1
    rows = [(j, o, float(o + 1)) for j in "abc" for o in range(4)]
    df = spark.createDataFrame(rows, "judge string, obj int, x double")
    r = kendalls_w(df, "judge", "obj", F.col("x")).collect()[0]
    assert r["n_judges"] == 3 and r["n_objects"] == 4
    assert abs(r["kendalls_w"] - 1.0) < 1e-9
    # two judges exactly reversed -> rank sums all equal -> W = 0
    rows2 = ([("a", o, float(o + 1)) for o in range(4)]
             + [("b", o, float(4 - o)) for o in range(4)])
    df2 = spark.createDataFrame(rows2, "judge string, obj int, x double")
    r2 = kendalls_w(df2, "judge", "obj", F.col("x")).collect()[0]
    assert abs(r2["kendalls_w"]) < 1e-9


def test_cronbach_alpha_consistent_vs_independent(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import cronbach_alpha

    # items perfectly correlated across units (x_i = unit level for
    # every item): var_total = k^2 * var_item -> alpha = k/(k-1)*(1-1/k) = 1
    rows = [(u, it, float(u + 1))
            for u in range(6) for it in ["a", "b", "c"]]
    df = spark.createDataFrame(rows, "unit int, item string, x double")
    r = cronbach_alpha(
        df, "unit", "item", F.col("x"), ["a", "b", "c"]
    ).collect()[0]
    assert r["n_items"] == 3 and r["n_units"] == 6
    assert abs(r["alpha"] - 1.0) < 1e-9
    # missing cells zero-fill: a unit with no 'c' rows still counts
    rows2 = rows + [(99, "a", 5.0)]
    df2 = spark.createDataFrame(rows2, "unit int, item string, x double")
    r2 = cronbach_alpha(
        df2, "unit", "item", F.col("x"), ["a", "b", "c"]
    ).collect()[0]
    assert r2["n_units"] == 7


def test_theta_forecast_recovers_pure_trend(spark):
    from sparkcollector.operators.analytics import theta_forecast

    # exact linear series x_t = 10 + 2t: Hyndman & Billah show the
    # theta forecast equals SES-with-drift-b/2 — successive horizons
    # step by b/2 = 1.0 exactly, and the forecast sits between the
    # (lagging) SES level and the trend extrapolation
    rows = [("a", t, 10.0 + 2.0 * t) for t in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, o long, x double")
    out = {r["h"]: r["forecast"] for r in theta_forecast(
        df, ["g"], "o", "x", alpha=0.3, horizon=3).collect()}
    assert abs((out[2] - out[1]) - 1.0) < 1e-6
    assert abs((out[3] - out[2]) - 1.0) < 1e-6
    # level at T is 50; trend at T+1 is 52 -> forecast in between
    assert 45.0 < out[1] < 52.0
    # constant series: forecast is flat at the constant
    flat = spark.createDataFrame(
        [("c", t, 7.0) for t in range(1, 21)], "g string, o long, x double"
    )
    outf = {r["h"]: r["forecast"] for r in theta_forecast(
        flat, ["g"], "o", "x", horizon=2).collect()}
    assert abs(outf[1] - 7.0) < 1e-6 and abs(outf[2] - 7.0) < 1e-6


def test_croston_tracks_size_and_interval(spark):
    from sparkcollector.operators.analytics import croston_intermittent

    # demand of 6 every 3rd period: z -> 6, p -> 3, rate -> 2
    rows = [("s", t, 6.0 if t % 3 == 0 else 0.0)
            for t in range(1, 31)]
    df = spark.createDataFrame(rows, "g string, o long, d double")
    per = df.groupBy("g").agg(F.count(F.lit(1)).alias("n_periods"))
    r = croston_intermittent(df, ["g"], "o", "d", per, alpha=0.2).collect()[0]
    assert r["n_periods"] == 30 and r["demand_periods"] == 10
    assert abs(r["z_hat"] - 6.0) < 1e-9
    assert 2.5 < r["p_hat"] <= 3.0
    assert abs(r["croston_rate"] - 6.0 / r["p_hat"]) < 1e-6
    assert abs(r["sba_rate"] - 0.9 * r["croston_rate"]) < 1e-6
    # all-zero series: no demand ever -> NULL rate
    z = spark.createDataFrame(
        [("z", t, 0.0) for t in range(1, 11)], "g string, o long, d double"
    )
    per_z = z.groupBy("g").agg(F.count(F.lit(1)).alias("n_periods"))
    rz = croston_intermittent(z, ["g"], "o", "d", per_z).collect()[0]
    assert rz["demand_periods"] == 0 and rz["croston_rate"] is None


def test_variance_ratio_random_walk_vs_reverting(spark):
    from sparkcollector.operators.analytics import variance_ratio_test

    # deterministic pseudo-random walk: VR approx 1, not significant
    rows, x, v = [], 0.0, 1
    for t in range(800):
        v = (v * 1103515245 + 12345) % 2147483648
        x += 1.0 if ((v >> 16) & 1) else -1.0
        rows.append((t, x))
    df = spark.createDataFrame(rows, "o long, x double")
    r = variance_ratio_test(df, "o", "x", q=4).collect()[0]
    assert 0.7 < r["variance_ratio"] < 1.3
    # strict alternation (maximal mean reversion): q-period returns
    # nearly cancel -> VR far below 1, significant
    alt = spark.createDataFrame(
        [(t, float(t % 2)) for t in range(800)], "o long, x double"
    )
    r2 = variance_ratio_test(alt, "o", "x", q=4).collect()[0]
    assert r2["variance_ratio"] < 0.1 and r2["significant_95"]


def test_ivm_delta_matches_direct_recompute(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import ivm_delta_apply

    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0), ("b", 4, 40.0)],
        "g string, id int, x double",
    )
    # delete id=2 (a loses a row), insert two new rows into b and c
    delta = spark.createDataFrame(
        [("a", 2, 20.0, -1), ("b", 5, 5.0, 1), ("c", 6, 6.0, 1)],
        "g string, id int, x double, sign int",
    )
    out = {r["g"]: r for r in ivm_delta_apply(
        base, delta, ["g"], sum_col="x").collect()}
    assert out["a"]["maintained_n"] == 1
    assert out["a"]["maintained_sum"] == 10.0
    assert out["b"]["maintained_n"] == 3
    assert out["b"]["maintained_sum"] == 75.0
    # group born entirely from the delta appears
    assert out["c"]["base_n"] == 0 and out["c"]["maintained_n"] == 1
    # group deleted to zero disappears
    base2 = spark.createDataFrame(
        [("z", 1, 1.0)], "g string, id int, x double")
    delta2 = spark.createDataFrame(
        [("z", 1, 1.0, -1)], "g string, id int, x double, sign int")
    assert ivm_delta_apply(base2, delta2, ["g"], sum_col="x").count() == 0


def test_beaconing_metronome_vs_bursty(spark):
    from datetime import datetime, timedelta

    from sparkcollector.operators.analytics import beaconing_detect

    base = datetime(2024, 1, 1)
    rows = []
    # beacon: exactly every 60s
    for i in range(40):
        rows.append(("bot", "c2", base + timedelta(seconds=60 * i)))
    # bursty: alternating 5s / 600s gaps
    t = base
    for i in range(40):
        t += timedelta(seconds=5 if i % 2 == 0 else 600)
        rows.append(("human", "web", t))
    df = spark.createDataFrame(rows, "src string, dst string, ts timestamp")
    out = {(r["src"], r["dst"]): r for r in beaconing_detect(
        df, "src", "dst", "ts", min_gaps=20).collect()}
    b = out[("bot", "c2")]
    assert b["gap_cv"] == 0.0 and b["share_regular"] == 1.0
    assert b["beacon_suspect"]
    h = out[("human", "web")]
    assert h["gap_cv"] > 0.9 and not h["beacon_suspect"]
    assert h["share_regular"] == 0.0


def test_password_spray_wide_shallow_flags(spark):
    from sparkcollector.operators.analytics import password_spray_detect

    rows = [("sprayer", f"acct{i}") for i in range(30)]          # 1 try each
    rows += [("bruteforcer", "admin")] * 50                      # 1 acct deep
    rows += [("normal", "alice"), ("normal", "alice"), ("normal", "bob")]
    df = spark.createDataFrame(rows, "src string, account string")
    out = {r["src"]: r for r in password_spray_detect(
        df, "src", "account").collect()}
    assert out["sprayer"]["spray_suspect"]
    assert out["sprayer"]["n_accounts"] == 30
    assert not out["bruteforcer"]["spray_suspect"]
    assert not out["normal"]["spray_suspect"]


def test_impossible_travel_flags_only_fast_hops(spark):
    from datetime import datetime, timedelta

    from sparkcollector.operators.analytics import impossible_travel

    base = datetime(2024, 1, 1)
    lats = [40.7128, 51.5074]   # NYC, London (~5570 km apart)
    lons = [-74.0060, -0.1278]
    rows = [
        ("u1", 0, base),
        ("u1", 1, base + timedelta(hours=1)),    # 5570 km/h: flagged
        ("u2", 0, base),
        ("u2", 1, base + timedelta(hours=8)),    # ~700 km/h: plane, ok
        ("u3", 0, base),
        ("u3", 0, base + timedelta(seconds=1)),  # same site: never flagged
    ]
    df = spark.createDataFrame(rows, "u string, loc int, ts timestamp")
    out = impossible_travel(df, "u", "loc", "ts", lats, lons).collect()
    users = {r["user"] for r in out}
    assert users == {"u1"}
    r = out[0]
    assert 5500 < r["dist_km"] < 5600
    assert r["speed_kmh"] > 5000


def test_platt_scaling_calibrates_separable_scores(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import platt_scaling

    # y depends on s through a true logistic with A=2, B=-1:
    # deterministic thresholding at the sigmoid median keeps it exact
    import math
    rows = []
    for i in range(-50, 51):
        s = i / 10.0
        p_true = 1 / (1 + math.exp(-(2 * s - 1)))
        # 10 replicas, y=1 for the first round(10*p) of them
        k = round(10 * p_true)
        for j in range(10):
            rows.append((s, 1 if j < k else 0))
    df = spark.createDataFrame(rows, "s double, y int")
    r = platt_scaling(df, F.col("s"), F.col("y")).collect()[0]
    # the round(10p) label discretization biases the fit slightly
    assert abs(r["platt_a"] - 2.0) < 0.35
    assert abs(r["platt_b"] - (-1.0)) < 0.35
    assert abs(r["mean_calibrated_p"] - r["base_rate"]) < 0.01
    # uninformative score: A ~ 0, mean p == base rate
    flat = spark.createDataFrame(
        [(float(i % 7), i % 3 == 0) for i in range(300)],
        "s double, y boolean",
    )
    r2 = platt_scaling(flat, F.col("s"), F.col("y")).collect()[0]
    assert abs(r2["platt_a"]) < 0.05
    assert abs(r2["mean_calibrated_p"] - r2["base_rate"]) < 0.005


def test_roc_auc_perfect_random_and_ties(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import roc_auc_rank

    # perfectly separated: AUC = 1
    rows = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    r = roc_auc_rank(df, F.col("s"), F.col("y")).collect()[0]
    assert r["auc"] == 1.0 and r["gini"] == 1.0
    # all scores tied: AUC = 0.5 exactly via midranks
    tied = spark.createDataFrame(
        [(1.0, i % 2) for i in range(100)], "s double, y int"
    )
    r2 = roc_auc_rank(tied, F.col("s"), F.col("y")).collect()[0]
    assert r2["auc"] == 0.5
    # anti-separated: AUC = 0
    anti = spark.createDataFrame(
        [(float(i), 1 if i < 50 else 0) for i in range(100)],
        "s double, y int",
    )
    r3 = roc_auc_rank(anti, F.col("s"), F.col("y")).collect()[0]
    assert r3["auc"] == 0.0 and r3["gini"] == -1.0


def test_dialog_act_rules(spark):
    from sparkcollector.operators.analytics import dialog_act_mix

    rows = [
        ("c1", "Can you restart the service?"),
        ("c1", "what happened here"),
        ("c1", "please run the backfill"),
        ("c1", "the job finished."),
        ("c1", "Deploys were fine yesterday?"),   # trailing ? wins
    ]
    df = spark.createDataFrame(rows, "conv string, utt string")
    r = dialog_act_mix(df, "conv", "utt").collect()[0]
    assert r["n_turns"] == 5
    assert r["n_question"] == 3
    assert r["n_command"] == 1
    assert r["n_statement"] == 1
    assert abs(r["question_ratio"] - 0.6) < 1e-9


def test_context_window_keeps_recent_suffix(spark):
    from sparkcollector.operators.analytics import context_window_fit

    # 5 turns of 10 tokens each, budget 25 -> newest 2 kept
    rows = [("c", i, " ".join(["w"] * 10)) for i in range(5)]
    df = spark.createDataFrame(rows, "conv string, idx int, text string")
    r = context_window_fit(df, "conv", "idx", "text", 25).collect()[0]
    assert r["kept_turns"] == 2 and r["dropped_turns"] == 3
    assert r["first_kept_idx"] == 3
    assert abs(r["budget_utilization"] - 20 / 25) < 1e-9
    # oversized single newest turn still kept
    rows2 = [("c", 0, " ".join(["w"] * 10)), ("c", 1, " ".join(["w"] * 99))]
    df2 = spark.createDataFrame(rows2, "conv string, idx int, text string")
    r2 = context_window_fit(df2, "conv", "idx", "text", 25).collect()[0]
    assert r2["kept_turns"] == 1 and r2["first_kept_idx"] == 1


def test_chow_detects_slope_break(spark):
    from sparkcollector.operators.analytics import chow_break_test

    # slope 1 before t=50, slope 5 after: massive F
    rows = [(t, float(t if t < 50 else 50 + 5 * (t - 50)))
            for t in range(100)]
    df = spark.createDataFrame(rows, "h long, x double")
    r = chow_break_test(df, "h", "x", break_at=None).collect()[0]
    assert r["f_stat"] > 100 and r["break_at_95"]
    # one unbroken line: SSR identical, F == 0
    line = spark.createDataFrame(
        [(t, 3.0 * t + 1) for t in range(100)], "h long, x double"
    )
    r2 = chow_break_test(line, "h", "x", break_at=None).collect()[0]
    assert abs(r2["f_stat"]) < 1e-6 and not r2["break_at_95"]


def test_nelson_aalen_textbook_case(spark):
    from sparkcollector.operators.analytics import nelson_aalen

    # durations: deaths at 1,2,2 and censored at 3: H(1)=1/4,
    # H(2)=1/4+2/3
    rows = [(1, 1), (2, 1), (2, 1), (3, 0)]
    df = spark.createDataFrame(rows, "t int, e int")
    out = {r["t"]: r for r in nelson_aalen(df, "t", "e").collect()}
    assert out[1]["n_risk"] == 4 and out[1]["d_events"] == 1
    assert abs(out[1]["cum_hazard"] - 0.25) < 1e-6
    assert out[2]["n_risk"] == 3
    assert abs(out[2]["cum_hazard"] - (0.25 + 2 / 3)) < 1e-6
    # censored-only time emits no row
    assert 3 not in out
    import math
    assert abs(out[2]["survival_fh"]
               - math.exp(-(0.25 + 2 / 3))) < 1e-6


def test_g_test_detects_skewed_slice(spark):
    from sparkcollector.operators.analytics import g_test_gof

    rows = []
    # slices a,b follow the global 50/50 mix; slice c is all 'x'
    for s, mix in [("a", 50), ("b", 50), ("c", 100)]:
        for i in range(100):
            rows.append((s, "x" if i < mix else "y"))
    df = spark.createDataFrame(rows, "s string, c string")
    out = {r["s"]: r for r in g_test_gof(df, "s", "c", 3.841).collect()}
    assert out["c"]["g_stat"] > out["a"]["g_stat"]
    assert out["c"]["drifted_95"]
    assert out["c"]["df"] == 1


def test_betabinomial_overdispersed_vs_pure(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import betabinomial_fit

    # polarized units: half convert 9/10, half 1/10 -> strong
    # overdispersion (rho >> 0, var ratio >> 1)
    rows = []
    for u in range(40):
        k = 9 if u % 2 == 0 else 1
        for j in range(10):
            rows.append((u, 1 if j < k else 0))
    df = spark.createDataFrame(rows, "u int, y int")
    r = betabinomial_fit(df, "u", F.col("y"), 10).collect()[0]
    assert r["p_mean"] == 0.5
    assert r["var_ratio_vs_binomial"] > 3
    assert r["rho_overdispersion"] > 0.5
    assert r["alpha"] > 0 and abs(r["alpha"] - r["beta"]) < 1e-6


def test_engle_granger_cointegrated_vs_independent_walks(spark):
    from sparkcollector.operators.analytics import engle_granger_coint

    # y = 2x + stationary alternating noise: strongly cointegrated
    rows, x = [], 0.0
    v = 1
    for t in range(400):
        v = (v * 1103515245 + 12345) % 2147483648
        x += 1.0 if ((v >> 16) & 1) else -1.0
        y = 2 * x + (0.5 if t % 2 == 0 else -0.5)
        rows.append((t, x, y))
    df = spark.createDataFrame(rows, "o long, x double, y double")
    r = engle_granger_coint(df, "o", "x", "y").collect()[0]
    assert abs(r["coint_beta"] - 2.0) < 0.01
    assert r["df_t_stat"] < -5 and r["cointegrated_5pct"]
    # two independent walks: residual is itself a walk, t ~ 0
    rows2, x2, y2 = [], 0.0, 0.0
    v = 7
    for t in range(400):
        v = (v * 1103515245 + 12345) % 2147483648
        x2 += 1.0 if ((v >> 16) & 1) else -1.0
        y2 += 1.0 if ((v >> 13) & 1) else -1.0
        rows2.append((t, x2, y2))
    df2 = spark.createDataFrame(rows2, "o long, x double, y double")
    r2 = engle_granger_coint(df2, "o", "x", "y").collect()[0]
    assert r2["df_t_stat"] > -3.5


def test_newey_west_inflates_se_under_autocorrelation(spark):
    from sparkcollector.operators.analytics import newey_west_trend

    # AR(1)-ish residuals via a slow deterministic sine on top of a
    # trend: HAC se must exceed the naive se
    import math
    rows = [(t, 2.0 * t + 30 * math.sin(t / 8.0)) for t in range(300)]
    df = spark.createDataFrame(rows, "o long, y double")
    r = newey_west_trend(df, "o", "y", max_lag=4).collect()[0]
    assert abs(r["slope"] - 2.0) < 0.05
    assert r["hac_inflation"] > 1.5
    assert r["se_hac"] > r["se_naive"]


def test_breusch_pagan_fanning_variance(spark):
    from sparkcollector.operators.analytics import breusch_pagan

    # residual magnitude grows linearly with t -> heteroskedastic
    rows = [(t, 5.0 * t + (t * 0.5 if t % 2 == 0 else -t * 0.5))
            for t in range(200)]
    df = spark.createDataFrame(rows, "o long, y double")
    r = breusch_pagan(df, "o", "y").collect()[0]
    assert r["lm_stat"] > 3.841 and r["heteroskedastic_95"]
    # homoskedastic alternating noise: LM small
    rows2 = [(t, 5.0 * t + (1.0 if t % 2 == 0 else -1.0))
             for t in range(200)]
    df2 = spark.createDataFrame(rows2, "o long, y double")
    r2 = breusch_pagan(df2, "o", "y").collect()[0]
    assert not r2["heteroskedastic_95"]


def test_hpa_replay_upscale_fast_downscale_stabilized(spark):
    from sparkcollector.operators.analytics import hpa_replay

    # load spike then drop: upscale is immediate, downscale waits
    # until the spike leaves the 3-step desired history
    loads = [10.0, 10.0, 100.0, 10.0, 10.0, 10.0, 10.0]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(loads)], "o int, x double"
    )
    out = [r["replicas"] for r in hpa_replay(
        df, "o", "x", target_per_replica=10.0,
        min_replicas=1, max_replicas=20).collect()]
    assert out[0] == 1 and out[1] == 1
    assert out[2] == 10            # spike: immediate upscale
    assert out[3] == 10 and out[4] == 10  # stabilization holds
    assert out[5] == 1             # spike left the 3-step history
    assert out[6] == 1


def test_slo_multiwindow_requires_both_windows(spark):
    from sparkcollector.operators.analytics import slo_multiwindow_alert

    # 24 clean buckets then a 2-bucket error storm at 2% (20x burn
    # at slo 0.999): page needs the 6h window to catch up too
    rows = []
    for b in range(24):
        rows.append((b, 0, 1000))
    for b in range(24, 26):
        rows.append((b, 20, 1000))
    df = spark.createDataFrame(rows, "bucket int, e int, t int")
    out = {r["bucket"]: r for r in slo_multiwindow_alert(
        df, "bucket", "e", "t").collect()}
    assert out[10]["burn_page_short"] == 0.0 and not out[10]["page"]
    # short window fires instantly at 20x; long (6h) window is at
    # 20/6 ~ 3.3x after one bucket -> NO page yet (flap guard)
    assert out[24]["burn_page_short"] == 20.0
    assert not out[24]["page"]
    assert not out[25]["page"]     # 2/6 of the window at 20x ~ 6.7x


def test_rbo_identical_vs_disjoint_lists(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import rbo_topk

    rows = []
    # epoch 0 and 1: identical rankings (item i scored k-i)
    for ep in (0, 1):
        for i in range(10):
            for _ in range(10 - i):
                rows.append((ep, i))
    # epoch 2: disjoint items
    for i in range(100, 110):
        for _ in range(110 - i):
            rows.append((2, i))
    df = spark.createDataFrame(rows, "ep int, it int")
    out = {r["epoch"]: r for r in rbo_topk(
        df, "ep", "it", F.lit(1), k=10, p=0.9).collect()}
    # identical top-10 lists: truncated RBO = (1-p) sum p^(d-1) -> 
    # with k=10, p=0.9: 1 - 0.9^10 adjusted by depth weighting < 1
    assert out[0]["overlap_k"] == 10
    assert 0.6 < out[0]["rbo"] <= 1.0
    # disjoint: no join rows -> epoch 1 pair absent entirely
    assert 1 not in out


def test_mrr_first_hit_positions(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import mrr_eval

    # q1: relevant at rank 1 (score 10); q2: rank 2; q3: absent
    rows = [
        ("q1", "rel", 10), ("q1", "b", 5),
        ("q2", "a", 10), ("q2", "rel", 5), ("q2", "c", 1),
        ("q3", "a", 10), ("q3", "b", 5),
    ]
    df = spark.createDataFrame(rows, "q string, it string, s int")
    r = mrr_eval(df, "q", "it", F.col("s"), "rel", k=5).collect()[0]
    assert r["n_queries"] == 3
    assert abs(r["mrr"] - (1.0 + 0.5 + 0.0) / 3) < 1e-9
    assert abs(r["hit_rate_at_k"] - 2 / 3) < 1e-6
    assert abs(r["mean_hit_rank"] - 1.5) < 1e-9


def test_err_early_strong_hit_suppresses_tail(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import expected_reciprocal_rank

    # one query, top item max grade: R1 = 15/16, so ERR ~ 15/16
    # plus a tiny suppressed tail contribution
    rows = ([("q", "top", 100, 1)] * 4
            + [("q", "mid", 50, 1)] * 4 + [("q", "low", 10, 1)])
    df = spark.createDataFrame(rows, "q string, it string, s int, g int")
    r = expected_reciprocal_rank(
        df, "q", "it", F.col("s"), F.col("g"), g_max=4, k=10
    ).collect()[0]
    # R_top = (2^4-1)/16 = 0.9375; tail suppressed by (1-0.9375)
    assert 0.93 < r["mean_err"] < 0.98
    # flat low grades: ERR far smaller
    rows2 = [("q", it, 10 - i, 1) for i, it in enumerate("abcde")]
    df2 = spark.createDataFrame(rows2, "q string, it string, s int, g int")
    r2 = expected_reciprocal_rank(
        df2, "q", "it", F.col("s"), F.col("g"), g_max=4, k=10
    ).collect()[0]
    assert r2["mean_err"] < 0.2


def test_sample_entropy_regular_vs_noisy(spark):
    from sparkcollector.operators.analytics import sample_entropy

    # constant series: every template matches -> A == B, SampEn 0
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(60)], "o int, x double"
    )
    r = sample_entropy(const, "o", "x").collect()[0]
    assert r["a_pairs"] == r["b_pairs"] and r["sampen"] == 0.0
    # pseudo-random series: far fewer length-3 matches
    rows, v = [], 1
    for i in range(200):
        v = (v * 1103515245 + 12345) % 2147483648
        rows.append((i, float((v >> 16) % 100)))
    noisy = spark.createDataFrame(rows, "o int, x double")
    r2 = sample_entropy(noisy, "o", "x").collect()[0]
    assert r2["sampen"] is None or r2["sampen"] > 0.5


def test_lz78_periodic_vs_noisy(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import lz78_complexity

    rows = []
    # constant run: phrases grow in length -> O(sqrt n) phrases;
    # noisy LCG bits -> near the n/log2(n) asymptote
    v = 1
    for i in range(256):
        rows.append(("const", i, False))
        v = (v * 1103515245 + 12345) % 2147483648
        rows.append(("rnd", i, ((v >> 16) & 1) == 1))
    df = spark.createDataFrame(rows, "g string, o int, b boolean")
    out = {r["g"]: r for r in lz78_complexity(
        df, ["g"], "o", F.col("b")).collect()}
    assert out["const"]["n_symbols"] == 256
    # 0,00,000,... : k phrases cover k(k+1)/2 symbols -> ~22
    assert out["const"]["n_phrases"] <= 23
    assert out["const"]["n_phrases"] < out["rnd"]["n_phrases"]
    assert (out["const"]["normalized_complexity"]
            < out["rnd"]["normalized_complexity"])
    assert out["rnd"]["normalized_complexity"] > 0.8
    # known tiny case: '001' parses as 0, 01 -> 2 phrases
    tiny = spark.createDataFrame(
        [("t", 0, False), ("t", 1, False), ("t", 2, True)],
        "g string, o int, b boolean",
    )
    rt = lz78_complexity(tiny, ["g"], "o", F.col("b")).collect()[0]
    assert rt["n_phrases"] == 2


def test_canary_verdict_detects_shifted_metric(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import canary_verdict

    rows = []
    for i in range(200):
        cn = 1 if i % 10 == 0 else 0
        # latency: canary 2x slower; errors: identical
        rows.append(("latency", cn, 10.0 + (10.0 if cn else 0.0)
                     + (i % 5)))
        rows.append(("errors", cn, 1.0 + (i % 3)))
    df = spark.createDataFrame(rows, "m string, cn int, v double")
    out = {r["metric"]: r for r in canary_verdict(
        df, "m", F.col("cn"), F.col("v")).collect()}
    assert out["latency"]["classification"] == "High"
    assert out["errors"]["classification"] == "Pass"
    assert out["latency"]["pass_share"] == 0.5


def test_port_scan_flags_wide_sources(spark):
    from datetime import datetime, timedelta

    from sparkcollector.operators.analytics import port_scan_detect

    base = datetime(2024, 1, 1)
    rows = []
    # scanner: 20 distinct ports inside one minute
    for p in range(20):
        rows.append(("scanner", p, base + timedelta(seconds=p)))
    # normal: 3 ports, many probes
    for i in range(30):
        rows.append(("normal", i % 3, base + timedelta(seconds=i)))
    df = spark.createDataFrame(rows, "src string, port int, ts timestamp")
    out = port_scan_detect(df, "src", "port", "ts",
                           window_s=60, min_ports=15).collect()
    assert [r["src"] for r in out] == ["scanner"]
    assert out[0]["max_ports_per_win"] == 20


def test_binseg_finds_two_level_shifts(spark):
    from sparkcollector.operators.analytics import binseg_changepoints

    # three flat levels 10 / 50 / 25, 30 points each
    rows = ([(i, 10.0) for i in range(30)]
            + [(30 + i, 50.0) for i in range(30)]
            + [(60 + i, 25.0) for i in range(30)])
    df = spark.createDataFrame(rows, "o int, x double")
    out = {r["segment"]: r for r in
           binseg_changepoints(df, "o", "x").collect()}
    assert len(out) == 3
    assert out[0]["seg_mean"] == 10.0 and out[0]["n"] == 30
    assert out[1]["seg_mean"] == 50.0 and out[1]["n"] == 30
    assert out[2]["seg_mean"] == 25.0 and out[2]["n"] == 30
    assert out[0]["seg_sse"] == 0.0


def test_zip_mom_recovers_planted_mixture(spark):
    from sparkcollector.operators.analytics import zip_mom_fit

    # 40% structural zeros + Poisson(4)-ish deterministic counts
    rows = []
    pois = [2, 3, 4, 4, 5, 6, 4, 3, 5, 4]   # mean 4, var 1.2
    for i in range(1000):
        if i % 5 < 2:
            rows.append((0,))
        else:
            rows.append((pois[i % 10],))
    df = spark.createDataFrame(rows, "k int")
    totals = df.agg(F.count(F.lit(1)).alias("n_cells"))
    r = zip_mom_fit(df.filter("k > 0"), "k", totals).collect()[0]
    # the deterministic replicate list is UNDER-dispersed relative to
    # a true Poisson(4), which biases MoM pi downward — direction and
    # rough magnitude still recover the planted inflation
    assert r["pi_zero_inflation"] > 0.2
    assert 2.5 < r["lambda_fit"] < 6.0
    assert abs(r["zero_share_observed"] - 0.4) < 0.01


def test_tail_dependence_coupled_vs_independent(spark):
    from sparkcollector.operators.analytics import tail_dependence

    rows = []
    for i in range(500):
        x = float(i % 100)
        rows.append((i, x, x))               # perfectly coupled
    df = spark.createDataFrame(rows, "o int, x double, y double")
    r = tail_dependence(df.select("x", "y"), "x", "y", 0.9).collect()[0]
    assert r["chi_tail_dep"] == 1.0          # co-crash always
    # anti-coupled: x high exactly when y low
    rows2 = [(float(i % 100), float(99 - i % 100)) for i in range(500)]
    df2 = spark.createDataFrame(rows2, "x double, y double")
    r2 = tail_dependence(df2, "x", "y", 0.9).collect()[0]
    assert r2["chi_tail_dep"] == 0.0


def test_cochrans_q_textbook(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import cochrans_q

    # 4 units x 3 items; item 'c' never succeeds, a/b always:
    # G = (4,4,0), L_i = 2 each -> Q = 6*sum(G-8/3)^2/(3*8-16) = 8
    rows = [(u, it, 1) for u in range(4) for it in ("a", "b")]
    df = spark.createDataFrame(rows, "u int, it string, y int")
    r = cochrans_q(df, "u", "it", F.col("y"),
                   ["a", "b", "c"]).collect()[0]
    assert r["n_units"] == 4 and r["df"] == 2
    assert abs(r["q_stat"] - 8.0) < 1e-6
    # saturated design: all units succeed on all items -> NULL
    sat = spark.createDataFrame(
        [(u, it, 1) for u in range(4) for it in ("a", "b", "c")],
        "u int, it string, y int",
    )
    r2 = cochrans_q(sat, "u", "it", F.col("y"),
                    ["a", "b", "c"]).collect()[0]
    assert r2["q_stat"] is None


def test_icc_clustered_vs_flat(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import icc_oneway

    # strongly clustered: group mean dominates within noise
    rows = [(g, 10.0 * g + (0.1 if i % 2 else -0.1))
            for g in range(5) for i in range(10)]
    df = spark.createDataFrame(rows, "g int, x double")
    r = icc_oneway(df, "g", F.col("x")).collect()[0]
    assert r["icc1"] > 0.99
    # no group structure: identical distribution per group
    flat = spark.createDataFrame(
        [(g, float(i % 7)) for g in range(5) for i in range(10)],
        "g int, x double",
    )
    r2 = icc_oneway(flat, "g", F.col("x")).collect()[0]
    # identical groups give MSB = 0 -> the ICC floor -1/(k0-1), i.e.
    # slightly NEGATIVE, the classic no-clustering signature
    assert r2["icc1"] < 0.05


def test_mcc_threshold_on_separable_scores(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import mcc_best_threshold

    # label = score >= 0.5 exactly: best cutoff 0.5, MCC 1
    rows = [(i / 100.0, 1 if i >= 50 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    r = mcc_best_threshold(df, F.col("s"), F.col("y")).collect()[0]
    assert abs(r["best_threshold"] - 0.5) < 1e-9
    assert r["best_mcc"] == 1.0
    assert r["fp"] == 0 and r["fn"] == 0


def test_speaker_dominance_monologue_vs_pingpong(spark):
    from sparkcollector.operators.analytics import speaker_dominance

    rows = []
    # c1: strict alternation -> entropy 1, longest run 1
    for i in range(20):
        rows.append(("c1", i, "user" if i % 2 == 0 else "assistant"))
    # c2: 15 assistant turns then 5 user -> dominant 0.75, run 15
    for i in range(20):
        rows.append(("c2", i, "assistant" if i < 15 else "user"))
    df = spark.createDataFrame(rows, "conv string, o int, role string")
    out = {r["conv"]: r for r in speaker_dominance(
        df, "conv", "o", "role").collect()}
    assert out["c1"]["role_entropy"] == 1.0
    assert out["c1"]["longest_run"] == 1
    assert out["c1"]["dominant_share"] == 0.5
    assert out["c2"]["dominant_share"] == 0.75
    assert out["c2"]["longest_run"] == 15


def test_adjacent_overlap_echo_vs_nonsequitur(spark):
    from sparkcollector.operators.analytics import adjacent_turn_overlap

    rows = [
        ("echo", 0, "the deploy failed on node seven"),
        ("echo", 1, "the deploy failed on node seven"),
        ("nonseq", 0, "apples oranges pears"),
        ("nonseq", 1, "kernel panic stacktrace"),
    ]
    df = spark.createDataFrame(rows, "conv string, o int, utt string")
    out = {r["conv"]: r for r in adjacent_turn_overlap(
        df, "conv", "o", "utt").collect()}
    assert out["echo"]["mean_overlap"] == 1.0
    assert out["echo"]["nonsequitur_share"] == 0.0
    assert out["nonseq"]["mean_overlap"] == 0.0
    assert out["nonseq"]["nonsequitur_share"] == 1.0


def test_wilcoxon_shifted_vs_symmetric_pairs(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import wilcoxon_signed_rank

    # x consistently above y -> all positive ranks, z >> 0
    rows = [(float(10 + i), float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = wilcoxon_signed_rank(df, F.col("x"), F.col("y")).collect()[0]
    assert r["n_nonzero_pairs"] == 40
    assert r["w_plus"] == 40 * 41 / 2 and r["significant_95"]
    # antisymmetric differences: W+ == E[W], z == 0
    rows2 = [(float(i), float(i) + (5.0 if i % 2 == 0 else -5.0))
             for i in range(40)]
    df2 = spark.createDataFrame(rows2, "x double, y double")
    r2 = wilcoxon_signed_rank(df2, F.col("x"), F.col("y")).collect()[0]
    assert abs(r2["w_plus"] - r2["expected_w"]) < 1e-9
    assert not r2["significant_95"]


def test_lindley_known_waits(spark):
    from sparkcollector.operators.analytics import lindley_queue_replay

    # arrivals every 2s, service 3s: waits build by 1s per request
    rows = [(k, 2.0, 3.0) for k in range(1, 6)]
    df = spark.createDataFrame(rows, "k int, a double, s double")
    out = [r["wait"] for r in lindley_queue_replay(
        df, "k", "a", "s").collect()]
    assert out == [0.0, 1.0, 2.0, 3.0, 4.0]
    # arrivals every 5s, service 1s: nobody ever waits
    idle = spark.createDataFrame(
        [(k, 5.0, 1.0) for k in range(1, 6)], "k int, a double, s double"
    )
    out2 = [r["wait"] for r in lindley_queue_replay(
        idle, "k", "a", "s").collect()]
    assert out2 == [0.0] * 5


def test_skyline_dominance_including_ties(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import skyline_2d

    pts = [
        (1, 10.0, 1.0),   # skyline (best x)
        (2, 5.0, 5.0),    # skyline
        (3, 1.0, 10.0),   # skyline (best y)
        (4, 4.0, 4.0),    # dominated by 2
        (5, 5.0, 3.0),    # same x as 2, lower y: dominated
        (6, 5.0, 5.0),    # exact tie with 2: both kept
    ]
    df = spark.createDataFrame(pts, "id int, x double, y double")
    out = {r["id"] for r in skyline_2d(
        df, "id", F.col("x"), F.col("y")).collect()}
    assert out == {1, 2, 3, 6}


def test_blocking_quality_planted_miss(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import blocking_quality

    # entities: (a1,a2) share a block; (b1,b2) split across blocks
    rows = [
        (1, "A", "e1"), (2, "A", "e1"),      # caught pair
        (3, "B", "e2"), (4, "C", "e2"),      # missed pair
        (5, "D", "e3"),                      # singleton
    ]
    df = spark.createDataFrame(rows, "id int, blk string, tr string")
    r = blocking_quality(
        df, "id", F.col("blk"), F.col("tr")).collect()[0]
    assert r["true_pairs"] == 2 and r["caught_true_pairs"] == 1
    assert r["pair_completeness"] == 0.5
    # candidate pairs = 1 of 10 possible -> reduction 0.9
    assert r["candidate_pairs"] == 1
    assert abs(r["reduction_ratio"] - 0.9) < 1e-9


def test_ewma_chart_catches_small_sustained_shift(spark):
    from sparkcollector.operators.analytics import ewma_control_chart

    # 60 points at 100 (tight noise), then 20 at 104: a small shift
    # Shewhart 3-sigma misses per point but EWMA accumulates
    rows = [(i, 100.0 + (0.5 if i % 2 else -0.5)) for i in range(60)]
    rows += [(60 + i, 104.0 + (0.5 if i % 2 else -0.5))
             for i in range(20)]
    df = spark.createDataFrame(rows, "o int, x double")
    out = ewma_control_chart(df, "o", "x", lam=0.2).collect()
    early = [r for r in out if r["bucket"] < 60]
    late = [r for r in out if r["bucket"] >= 65]
    assert not any(r["violation"] for r in early)
    assert all(r["violation"] for r in late)
    # EWMA converges toward the shifted mean
    assert out[-1]["ewma"] > 102


def test_hill_numbers_even_vs_skewed(spark):
    from sparkcollector.operators.analytics import hill_diversity

    rows = [("even", f"s{i % 4}") for i in range(400)]
    rows += [("skew", "dom")] * 370 + [("skew", f"r{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "g string, sp string")
    out = {r["g"]: r for r in hill_diversity(df, "g", "sp").collect()}
    e = out["even"]
    assert e["d0_richness"] == 4
    assert abs(e["d1_exp_shannon"] - 4.0) < 1e-6
    assert abs(e["d2_inv_simpson"] - 4.0) < 1e-6
    assert abs(e["evenness"] - 1.0) < 1e-6
    s = out["skew"]
    assert s["d0_richness"] == 31
    assert s["d2_inv_simpson"] < s["d1_exp_shannon"] < 31
    assert s["evenness"] < 0.1


def test_kneser_ney_continuation_beats_frequency(spark):
    from sparkcollector.operators.analytics import kneser_ney_bigram

    # 'francisco' is frequent but ONLY follows 'san'; 'the' follows
    # many contexts. Pcont rewards versatile words.
    docs = (["a san francisco b", "c san francisco d"] * 5
            + ["x the y", "p the q", "m the n", "u the v"])
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    out = kneser_ney_bigram(df, "text", top_k=100).collect()
    rows = {(r["v"], r["w"]): r for r in out}
    assert rows[("san", "francisco")]["c_bigram"] == 10
    # continuation prob of 'the' spread over 4 contexts, but
    # 'francisco' completes only 1 context -> its backoff mass tiny
    sf = rows[("san", "francisco")]["p_kn"]
    assert sf > 0.9     # direct evidence dominates
    # a NOVEL context ending in a versatile word gets more backoff
    # mass than the frequency of the word alone would suggest:
    # n1p('the' completions) = 4 contexts vs 1 for 'francisco'
    n1p_the = sum(1 for (v, w) in rows if w == "the")
    n1p_fran = sum(1 for (v, w) in rows if w == "francisco")
    assert n1p_the == 4 and n1p_fran == 1


def test_shard_plan_moves_sum_and_balance(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import shard_rebalance_plan

    rows = [("s0", 100), ("s1", 10), ("s2", 10), ("s3", 40)]
    df = spark.createDataFrame(rows, "shard string, load long")
    out = shard_rebalance_plan(df, "shard", F.col("load")).collect()
    # mean 40: s0 donates 60, s1/s2 each receive 30, s3 balanced
    moves = {(r["from_shard"], r["to_shard"]): r["amount"] for r in out}
    assert moves == {("s0", "s1"): 30, ("s0", "s2"): 30}
    assert sum(moves.values()) == 60


def test_bloom_advisor_textbook_numbers(spark):
    from sparkcollector.operators.analytics import bloom_size_advisor

    import math
    rows = [("g", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, k long")
    r = bloom_size_advisor(df, "g", "k", target_fpp=0.01).collect()[0]
    assert r["n_distinct_keys"] == 1000
    m_expected = math.ceil(-1000 * math.log(0.01) / math.log(2) ** 2)
    assert r["bits_m"] == m_expected       # ~9586
    assert r["hashes_k"] == 7              # round(m/n * ln2) ~ 6.64
    assert 0.005 < r["predicted_fpp"] < 0.015


def test_otsu_separates_two_bands(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import otsu_threshold

    # tight band at ~1.0 and tight band at ~5.0
    rows = ([(1.0 + 0.01 * (i % 3),) for i in range(100)]
            + [(5.0 + 0.01 * (i % 3),) for i in range(100)])
    df = spark.createDataFrame(rows, "x double")
    r = otsu_threshold(df, F.col("x")).collect()[0]
    assert 1.0 <= r["otsu_threshold"] < 5.0
    assert r["n_below"] == 100 and r["n_above"] == 100
    assert abs(r["mean_below"] - 1.01) < 0.02
    assert abs(r["mean_above"] - 5.01) < 0.02


def test_kde_modes_bimodal_vs_unimodal(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import kde_modes

    rows = ([(10.0 + 0.1 * (i % 5),) for i in range(200)]
            + [(50.0 + 0.1 * (i % 5),) for i in range(200)])
    df = spark.createDataFrame(rows, "x double")
    modes = kde_modes(df, F.col("x"), grid_points=64).collect()
    vals = [m["mode_value"] for m in modes]
    assert len(vals) == 2
    assert abs(vals[0] - 10.2) < 1.5 and abs(vals[1] - 50.2) < 1.5
    # single band -> one mode
    uni = spark.createDataFrame(
        [(10.0 + 0.1 * (i % 9),) for i in range(300)], "x double"
    )
    assert len(kde_modes(uni, F.col("x")).collect()) == 1


def test_borda_copeland_agreement_case(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import rank_aggregation

    # three judges, consistent scores: a > b > c everywhere
    rows = []
    for j in "jkl":
        rows += [(j, "a", 30), (j, "b", 20), (j, "c", 10)]
    df = spark.createDataFrame(rows, "judge string, obj string, s int")
    out = {r["obj"]: r for r in rank_aggregation(
        df, "judge", "obj", F.col("s")).collect()}
    assert out["a"]["final_rank"] == 1 and out["a"]["borda"] == 6
    assert out["a"]["copeland"] == 2          # beats both
    assert out["c"]["final_rank"] == 3 and out["c"]["copeland"] == -2


def test_markov_stationary_biased_chain(spark):
    from sparkcollector.operators.analytics import markov_stationary

    # deterministic cycle a->b->c->a...: stationary = uniform 1/3
    rows = []
    for u in range(5):
        for t in range(30):
            rows.append((u, "abc"[t % 3], t, t))
    df = spark.createDataFrame(rows, "u int, s string, ts int, o int")
    out = {r["state"]: r for r in markov_stationary(
        df, "u", "s", "ts", "o").collect()}
    for s in "abc":
        assert abs(out[s]["stationary_pi"] - 1 / 3) < 1e-6
        assert abs(out[s]["gap"]) < 1e-6
    # absorbing-ish chain: b almost always loops to b
    rows2 = []
    for u in range(5):
        seq = ["a"] + ["b"] * 29
        for t, s in enumerate(seq):
            rows2.append((u, s, t, t))
    df2 = spark.createDataFrame(rows2, "u int, s string, ts int, o int")
    out2 = {r["state"]: r for r in markov_stationary(
        df2, "u", "s", "ts", "o").collect()}
    assert out2["b"]["stationary_pi"] > 0.95


def test_getis_ord_finds_planted_hotspot(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import getis_ord_hotspots

    rows = []
    for i in range(6):
        for j in range(6):
            # hot cross around (2,2)
            hot = abs(i - 2) + abs(j - 2) <= 1
            for _ in range(200 if hot else 10):
                rows.append((i, j))
    df = spark.createDataFrame(rows, "i int, j int")
    out = getis_ord_hotspots(
        df, "i", "j", F.lit(1), 6, 6, z_crit=1.96
    ).collect()
    spots = {(r["i"], r["j"]): r["spot"] for r in out}
    assert spots.get((2, 2)) == "hot"
    # far corner should not be hot
    assert spots.get((5, 5)) != "hot"


def test_anderson_darling_uniform_vs_clumped(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import anderson_darling_uniform

    # near-uniform evenly spaced points: A2 small
    uni = spark.createDataFrame(
        [((i + 0.5) / 500,) for i in range(500)], "u double"
    )
    r = anderson_darling_uniform(uni, F.col("u")).collect()[0]
    assert r["a_squared"] < 1.0 and not r["nonuniform_5pct"]
    # everything clumped in [0.4, 0.5): A2 explodes
    clump = spark.createDataFrame(
        [(0.4 + 0.1 * (i / 500),) for i in range(500)], "u double"
    )
    r2 = anderson_darling_uniform(clump, F.col("u")).collect()[0]
    assert r2["a_squared"] > 50 and r2["nonuniform_5pct"]


def test_kupiec_calibrated_vs_lying_limit(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import kupiec_var_backtest

    # exactly 1% breaches out of 10000: LR ~ 0
    rows = [(1 if i < 100 else 0,) for i in range(10000)]
    df = spark.createDataFrame(rows, "b int")
    r = kupiec_var_backtest(df, F.col("b"), 0.99).collect()[0]
    assert r["n_breaches"] == 100
    assert abs(r["lr_pof"]) < 0.01 and not r["miscalibrated_95"]
    # 5% breaches against a claimed 1% limit: strongly rejected
    rows2 = [(1 if i < 500 else 0,) for i in range(10000)]
    df2 = spark.createDataFrame(rows2, "b int")
    r2 = kupiec_var_backtest(df2, F.col("b"), 0.99).collect()[0]
    assert r2["lr_pof"] > 100 and r2["miscalibrated_95"]


def test_max_drawdown_shape(spark):
    from sparkcollector.operators.analytics import max_drawdown

    # rise to 10, fall to 3, recover to 11: MDD 7, recovery at the
    # first point back at >= 10
    xs = [0, 4, 10, 8, 3, 6, 10, 11]
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "o int, x double"
    )
    r = max_drawdown(df, "o", "x").collect()[0]
    assert r["max_drawdown"] == 7.0
    assert r["peak_value"] == 10.0 and r["trough_value"] == 3.0
    assert r["trough_o"] == 4 and r["recovery_o"] == 6
    assert abs(r["drawdown_frac"] - 0.7) < 1e-9


def test_leaky_bucket_levels_and_overflow(spark):
    from sparkcollector.operators.analytics import leaky_bucket_replay

    # drain 10, cap 15; arrivals 30,0,0 -> level 15 (5 overflow),
    # then 5, then 0
    rows = [(0, 30.0), (1, 0.0), (2, 0.0)]
    df = spark.createDataFrame(rows, "o int, a double")
    out = leaky_bucket_replay(df, "o", "a", 10.0, 15.0).collect()
    assert [r["level"] for r in out] == [15.0, 5.0, 0.0]
    assert [r["overflow"] for r in out] == [5.0, 0.0, 0.0]


def test_reciprocity_full_vs_one_way(spark):
    from sparkcollector.operators.analytics import graph_reciprocity

    # fully reciprocal triangle
    tri = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)]
    e = spark.createDataFrame(tri, "src long, dst long")
    r = graph_reciprocity(e).collect()[0]
    assert r["reciprocity"] == 1.0 and r["rho_gl"] == 1.0
    # pure one-way chain
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    r2 = graph_reciprocity(chain).collect()[0]
    assert r2["reciprocity"] == 0.0 and r2["rho_gl"] < 0


def test_auc_ci_narrows_with_n(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import auc_hanley_ci

    def mk(n):
        rows = [(float(i % 100) + (30.0 if i % 4 == 0 else 0.0),
                 1 if i % 4 == 0 else 0) for i in range(n)]
        return spark.createDataFrame(rows, "s double, y int")

    r_small = auc_hanley_ci(mk(200), F.col("s"), F.col("y")).collect()[0]
    r_big = auc_hanley_ci(mk(4000), F.col("s"), F.col("y")).collect()[0]
    assert r_big["se_hanley"] < r_small["se_hanley"]
    assert 0.5 < r_big["auc"] < 1.0
    assert r_big["ci_lo"] < r_big["auc"] < r_big["ci_hi"]
    assert r_big["differs_from_chance_95"]


def test_ratio_metric_ci_covers_truth(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import ratio_metric_ci

    # every unit: x = 2y exactly -> ratio 2, zero variance
    rows = [(u, 2.0 * (1 + u % 5), float(1 + u % 5))
            for u in range(100)]
    df = spark.createDataFrame(rows, "u int, x double, y double")
    r = ratio_metric_ci(df, "u", F.col("x"), F.col("y")).collect()[0]
    assert abs(r["ratio"] - 2.0) < 1e-9
    assert r["se_delta"] < 1e-9
    assert r["ci_lo"] <= 2.0 <= r["ci_hi"]


def test_relative_risk_doubled(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import relative_risk_ci

    rows = []
    # exposed: 20% cases of 500; control: 10% of 500
    for i in range(500):
        rows.append((1, 1 if i < 100 else 0))
        rows.append((0, 1 if i < 50 else 0))
    df = spark.createDataFrame(rows, "e int, y int")
    r = relative_risk_ci(df, F.col("e"), F.col("y")).collect()[0]
    assert abs(r["relative_risk"] - 2.0) < 1e-9
    assert r["rr_ci_lo"] > 1.0         # significantly elevated
    assert r["odds_ratio"] > 2.0       # OR exceeds RR for common outcomes
    assert r["or_ci_lo"] > 1.0


def test_fisher_index_between_l_and_p(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import fisher_price_index

    # item a: price 10->20 (qty 100->50); item b: price 5->5
    rows = []
    rows += [(0, "a", 10.0)] * 100 + [(1, "a", 20.0)] * 50
    rows += [(0, "b", 5.0)] * 100 + [(1, "b", 5.0)] * 100
    df = spark.createDataFrame(rows, "per int, item string, v double")
    r = fisher_price_index(
        df, F.col("per"), "item", F.col("v"), F.lit(1)
    ).collect()[0]
    # L = (20*100+5*100)/(10*100+5*100) = 2500/1500
    assert abs(r["laspeyres"] - 2500 / 1500) < 1e-6
    # P = (20*50+5*100)/(10*50+5*100) = 1500/1000
    assert abs(r["paasche"] - 1.5) < 1e-6
    import math
    assert abs(r["fisher"]
               - math.sqrt((2500 / 1500) * 1.5)) < 1e-6
    assert r["paasche"] < r["fisher"] < r["laspeyres"]


def test_circular_mean_wraps_midnight(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import circular_stats

    import math
    # points at 23:00 and 01:00: circular mean = midnight, NOT noon
    angs = ([23 / 24 * 2 * math.pi] * 50 + [1 / 24 * 2 * math.pi] * 50)
    df = spark.createDataFrame([(a,) for a in angs], "th double")
    r = circular_stats(df, F.col("th")).collect()[0]
    assert r["mean_hour"] < 0.5 or r["mean_hour"] > 23.5
    assert r["resultant_rbar"] > 0.9
    assert r["nonuniform_95"]
    # uniform around the clock: tiny resultant, test passes
    uni = spark.createDataFrame(
        [(i / 96 * 2 * math.pi,) for i in range(96)], "th double"
    )
    r2 = circular_stats(uni, F.col("th")).collect()[0]
    assert r2["resultant_rbar"] < 0.01 and not r2["nonuniform_95"]


def test_runlength_geometric_expected_matches(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import runlength_geometric_fit

    # runs of 1s: lengths 1,2,1,3 -> mean 7/4, p = 4/7
    flags = [1, 0, 1, 1, 0, 1, 0, 0, 1, 1, 1, 0]
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(flags)], "o int, f int"
    )
    out = {r["run_length"]: r for r in runlength_geometric_fit(
        df, "o", F.col("f")).collect()}
    assert out[1]["observed_runs"] == 2
    assert out[2]["observed_runs"] == 1
    assert out[3]["observed_runs"] == 1
    assert out[1]["n_runs"] == 4 and out[1]["max_len"] == 3
    assert abs(out[1]["p_terminate"] - 4 / 7) < 1e-6


def test_person_time_rate(spark):
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import person_time_incidence

    base = datetime(2024, 1, 1)
    rows = []
    # u1: 10 hours observed, 2 cases; u2: 5 hours, 1 case
    for u, hours, cases in [(1, 10, 2), (2, 5, 1)]:
        n = 20
        for i in range(n):
            rows.append(
                (u, base + timedelta(hours=hours * i / (n - 1)),
                 1 if i < cases else 0)
            )
    df = spark.createDataFrame(rows, "u int, ts timestamp, c int")
    r = person_time_incidence(df, "u", "ts", F.col("c")).collect()[0]
    assert r["n_units"] == 2 and r["n_cases"] == 3
    assert abs(r["person_hours"] - 15.0) < 0.1
    assert abs(r["rate_per_1k_hours"] - 3 / 15 * 1000) < 5
    assert r["ci_lo_per_1k"] < r["rate_per_1k_hours"] < r["ci_hi_per_1k"]


def test_bass_recovers_planted_curve(spark):
    from sparkcollector.operators.analytics import bass_diffusion

    # simulate exact discrete Bass: m=1000, p=0.03, q=0.4
    m, p, q = 1000.0, 0.03, 0.4
    rows, big_n = [], 0.0
    for t in range(25):
        n_t = (p + q * big_n / m) * (m - big_n)
        rows.append((t, n_t))
        big_n += n_t
    df = spark.createDataFrame(rows, "d int, y double")
    r = bass_diffusion(df, "d", "y").collect()[0]
    assert abs(r["market_size_m"] - 1000) < 20
    assert abs(r["innovation_p"] - 0.03) < 0.005
    assert abs(r["imitation_q"] - 0.4) < 0.02
    import math
    assert abs(r["peak_period"]
               - math.log(q / p) / (p + q)) < 0.5


def test_seasonal_mk_sees_through_daily_cycle(spark):
    from sparkcollector.operators.analytics import seasonal_mann_kendall

    # pure daily cycle, no trend: S == 0 within every season
    rows = [(h, d, float(10 + h)) for h in range(24) for d in range(20)]
    df = spark.createDataFrame(rows, "g int, o int, x double")
    r = seasonal_mann_kendall(df, "g", "o", "x").collect()[0]
    assert r["s_stat"] == 0 and not r["trend_95"]
    # cycle + rising trend: detected
    rows2 = [(h, d, float(10 + h + d)) for h in range(24)
             for d in range(20)]
    df2 = spark.createDataFrame(rows2, "g int, o int, x double")
    r2 = seasonal_mann_kendall(df2, "g", "o", "x").collect()[0]
    assert r2["s_stat"] == 24 * 190 and r2["trend_95"]


def test_l_moments_uniform_reference(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import l_moments

    # uniform on {1..1000}: l1 = 500.5, tau3 = 0, tau4 ~ 0
    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 1001)], "x double"
    )
    r = l_moments(df, F.col("x")).collect()[0]
    assert abs(r["l1_location"] - 500.5) < 1e-6
    # exact discrete-uniform L-scale ~ (n+1)/6 ~ 166.8
    assert abs(r["l2_scale"] - 1001 / 6) < 0.5
    assert abs(r["l_skewness"]) < 1e-6
    assert abs(r["l_kurtosis"]) < 0.01
    # heavy right tail: positive L-skewness
    skew = spark.createDataFrame(
        [(float(i ** 2),) for i in range(1, 101)], "x double"
    )
    r2 = l_moments(skew, F.col("x")).collect()[0]
    assert r2["l_skewness"] > 0.2


def test_pinball_rewards_correct_quantile(spark):
    from sparkcollector.operators.analytics import pinball_loss_eval

    # alternating 10/20 series: trailing-window p50 forecast lands
    # near the middle; exceedance near tau calibration
    rows = [(i, 10.0 if i % 2 == 0 else 20.0) for i in range(100)]
    df = spark.createDataFrame(rows, "o int, y double")
    out = {r["tau"]: r for r in pinball_loss_eval(
        df, "o", "y", taus=[0.5, 0.9], window=24).collect()}
    assert out[0.5]["n_forecasts"] == 76
    # p90 forecast = 20 (the max) -> never exceeded
    assert out[0.9]["exceed_rate"] == 0.0
    # p50 forecast = 10 (12th of sorted 24) -> exceeded half the time
    assert abs(out[0.5]["exceed_rate"] - 0.5) < 0.05
    assert out[0.5]["mean_pinball"] > 0


def test_crps_sharp_beats_wide(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import crps_empirical

    rows = []
    # group 'sharp': members tightly around obs 10
    for x in [9.9, 10.0, 10.1, 10.0]:
        rows.append(("sharp", x, 10.0))
    # group 'wide': members spread but centered on 10
    for x in [0.0, 20.0, 5.0, 15.0]:
        rows.append(("wide", x, 10.0))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in crps_empirical(
        df, "g", F.col("x"), F.col("y")).collect()}
    assert out["sharp"]["crps"] < out["wide"]["crps"]
    assert out["sharp"]["crps"] < 0.1


def test_tracking_signal_flags_biased_forecast(spark):
    from sparkcollector.operators.analytics import tracking_signal

    # forecast persistently 5 under: TS grows ~linearly, breaches 4
    rows = [(i, 100.0, 95.0) for i in range(20)]
    df = spark.createDataFrame(rows, "o int, a double, f double")
    out = tracking_signal(df, "o", "a", "f").collect()
    assert not out[0]["biased"]
    assert out[-1]["tracking_signal"] == 20.0
    assert out[-1]["biased"]
    # unbiased alternating errors: TS bounded near 0
    rows2 = [(i, 100.0, 100.0 + (5 if i % 2 else -5)) for i in range(20)]
    df2 = spark.createDataFrame(rows2, "o int, a double, f double")
    out2 = tracking_signal(df2, "o", "a", "f").collect()
    assert all(not r["biased"] for r in out2)


def test_msprt_rejects_shifted_mean_only(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import msprt_always_valid

    # true mean 3.0 vs mu0 = 1.0: log-Lambda grows, crossing found
    rows = [(i, 3.0 + (0.1 if i % 2 else -0.1)) for i in range(200)]
    df = spark.createDataFrame(rows, "o int, x double")
    out = msprt_always_valid(
        df, "o", F.col("x"), mu0=1.0, sigma=1.0, tau=1.0
    ).collect()
    assert out[-1]["reject_now"]
    assert out[0]["first_rejection_n"] is not None
    assert out[0]["first_rejection_n"] < 20
    # true mean == mu0: never rejects
    rows2 = [(i, 1.0 + (0.1 if i % 2 else -0.1)) for i in range(200)]
    df2 = spark.createDataFrame(rows2, "o int, x double")
    out2 = msprt_always_valid(
        df2, "o", F.col("x"), mu0=1.0, sigma=1.0, tau=1.0
    ).collect()
    assert all(not r["reject_now"] for r in out2)
    assert out2[0]["first_rejection_n"] is None


def test_decision_curve_useful_score_beats_baselines(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import (
        decision_curve_net_benefit,
    )

    # score IS the probability: y = 1 iff score >= 0.5, scores
    # spread over [0,1) -> at pt=0.2 the model treats scores>=0.2
    rows = [(i / 100.0, 1 if i >= 50 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r["threshold_pt"]: r for r in decision_curve_net_benefit(
        df, F.col("s"), F.col("y"), [0.2, 0.6]).collect()}
    # perfect separation above 0.5: model NB at pt=0.6 = prevalence
    r = out[0.6]
    assert r["fp"] == 0 and r["tp"] == 40
    assert abs(r["net_benefit_model"] - 0.4) < 1e-6
    assert r["advantage_over_best_baseline"] > 0


def test_spectral_flatness_tone_vs_noise(spark):
    import math

    from sparkcollector.operators.analytics import spectral_flatness

    # pure 12-period tone: flatness tiny, peak at 12
    tone = spark.createDataFrame(
        [(t, 100 + 50 * math.sin(2 * math.pi * t / 12))
         for t in range(240)], "o int, x double"
    )
    r = spectral_flatness(tone, "o", "x").collect()[0]
    assert r["peak_period"] == 12
    assert r["flatness"] < 0.05
    # LCG noise: much flatter spectrum
    rows, v = [], 1
    for t in range(240):
        v = (v * 1103515245 + 12345) % 2147483648
        rows.append((t, float((v >> 16) % 100)))
    noise = spark.createDataFrame(rows, "o int, x double")
    r2 = spectral_flatness(noise, "o", "x").collect()[0]
    assert r2["flatness"] > 10 * r["flatness"]


def test_hmm_forward_prefers_matching_stream(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import hmm_forward_loglik

    # long calm runs with occasional bursts: exactly what the HMM
    # models -> lower perplexity than a fair-coin stream
    flags = ([0] * 18 + [1] * 6) * 10
    df = spark.createDataFrame(
        [(i, f == 1) for i, f in enumerate(flags)], "o int, f boolean"
    )
    r = hmm_forward_loglik(df, "o", F.col("f")).collect()[0]
    coin = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(240)], "o int, f boolean"
    )
    r2 = hmm_forward_loglik(coin, "o", F.col("f")).collect()[0]
    assert r["perplexity"] < r2["perplexity"]
    assert r["log_likelihood"] > r2["log_likelihood"]
    # ends mid-calm-run: posterior says calm
    assert r["p_burst_final"] < 0.5 or flags[-1] == 1


def test_mondrian_four_balanced_cells(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import mondrian_partition

    # 100 points on a 10x10 grid: quarters of ~25 each (median
    # splits are exact type-1, so the <=-median halves are 60/40
    # on x with 10 distinct values of 10 each -> 50/50 at v=4)
    rows = [(float(i % 10), float(i // 10)) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = mondrian_partition(df, F.col("x"), F.col("y"), k=10).collect()
    assert len(out) == 4
    assert sum(r["n"] for r in out) == 100
    assert all(r["k_anonymous"] for r in out)
    # cells are rectangles with non-overlapping x ranges across the
    # first split (cells 0/1 are the <=median-x half)
    cells = {r["cell"]: r for r in out}
    assert cells[2]["x_lo"] > cells[0]["x_hi"]


def test_partial_correlation_removes_confounder(spark):
    from sparkcollector.operators.analytics import partial_correlation

    # x and y both driven by z; given z they are (nearly)
    # independent: naive r large, partial ~ 0
    rows = []
    for i in range(300):
        z = float(i % 50)
        x = 2 * z + (1.0 if i % 2 else -1.0)
        y = 3 * z + (1.0 if i % 3 == 0 else -0.5)
        rows.append((x, y, z))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    r = partial_correlation(df, "x", "y", "z").collect()[0]
    assert r["r_xy"] > 0.9
    assert abs(r["r_xy_given_z"]) < 0.2
    assert r["confounded_share"] > 0.7


def test_ledoit_wolf_shrinks_noise_more(spark):
    from sparkcollector.operators.analytics import ledoit_wolf_shrinkage

    # strongly correlated items (all follow the key): dispersion
    # dominates -> small rho
    rows = []
    for k in range(60):
        for i in "abc":
            rows.append((k, i, float(k % 7) * 10))
    df = spark.createDataFrame(rows, "k int, i string, x double")
    r = ledoit_wolf_shrinkage(df, "k", "i", "x").collect()[0]
    assert r["n_items"] == 3
    assert 0.0 <= r["shrinkage_rho"] <= 1.0
    # independent-ish noisy items: rho larger (more shrinkage)
    rows2 = []
    for k in range(60):
        rows2.append((k, "a", float((k * 7) % 11)))
        rows2.append((k, "b", float((k * 13) % 11)))
        rows2.append((k, "c", float((k * 5) % 11)))
    df2 = spark.createDataFrame(rows2, "k int, i string, x double")
    r2 = ledoit_wolf_shrinkage(df2, "k", "i", "x").collect()[0]
    assert r2["shrinkage_rho"] > r["shrinkage_rho"]


def test_scan_statistic_locates_planted_burst(spark):
    from sparkcollector.operators.analytics import poisson_scan_statistic

    # flat 10/hour, except hours 50-61 at 30/hour
    rows = [(i, 30.0 if 50 <= i < 62 else 10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "o int, x double")
    r = poisson_scan_statistic(
        df, "o", "x", window_lengths=(6, 12, 24)).collect()[0]
    assert r["window_len"] == 12
    assert r["window_start"] == 50 and r["window_end"] == 61
    assert r["observed"] == 360
    assert r["scan_llr"] > 50


def test_gm11_recovers_exponential(spark):
    import math

    from sparkcollector.operators.analytics import grey_gm11_forecast

    # x(k) = 100 * 1.05^k: GM(1,1) is exact for exponentials;
    # a ~ -ln(1.05), forecasts continue the growth
    rows = [(k, 100.0 * 1.05 ** k) for k in range(12)]
    df = spark.createDataFrame(rows, "o int, x double")
    out = grey_gm11_forecast(df, "o", "x", horizon=3).collect()
    a = out[0]["develop_a"]
    assert abs(-a - math.log(1.05)) < 0.005
    assert out[0]["gm11_applicable"]
    expect_next = 100.0 * 1.05 ** 12
    assert abs(out[0]["forecast"] - expect_next) / expect_next < 0.02


def test_energy_distance_zero_and_shifted(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import energy_distance

    # identical distributions: D2 ~ 0
    rows = [(g, float(i % 10)) for g in (0, 1) for i in range(200)]
    df = spark.createDataFrame(rows, "g int, v double")
    r = energy_distance(df, F.col("g"), F.col("v")).collect()[0]
    assert abs(r["energy_d2"]) < 1e-9
    # shifted: D2 ~ 2*shift - 0 when shift >> spread
    rows2 = ([(0, float(i % 3)) for i in range(200)]
             + [(1, 50.0 + i % 3) for i in range(200)])
    df2 = spark.createDataFrame(rows2, "g int, v double")
    r2 = energy_distance(df2, F.col("g"), F.col("v")).collect()[0]
    assert r2["energy_d2"] > 90
    assert r2["energy_coef"] > 0.95


def test_biweight_ignores_gross_outliers(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import biweight_midvariance

    # tight core at 10 +- 1 with 5% gross outliers at 1000: the
    # biweight scale stays near the core spread
    rows = [(10.0 + (i % 3 - 1),) for i in range(190)]
    rows += [(1000.0,)] * 10
    df = spark.createDataFrame(rows, "x double")
    r = biweight_midvariance(df, F.col("x")).collect()[0]
    assert r["median"] == 10.0
    assert r["biweight_scale"] < 2.0
    # classical std would be ~ 220; make sure we are nowhere near
    assert r["biweight_scale"] < 10


def test_bin_advisor_textbook(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import histogram_bin_advisor

    import math
    # 1024 evenly spread points over [0, 10]: Sturges = 11
    df = spark.createDataFrame(
        [(i * 10.0 / 1023,) for i in range(1024)], "x double"
    )
    r = histogram_bin_advisor(df, F.col("x")).collect()[0]
    assert r["sturges_bins"] == 11
    assert abs(r["value_range"] - 10.0) < 0.01
    # FD with uniform data: iqr ~ 5, h = 2*5*1024^(-1/3) ~ 0.99
    assert 9 <= r["fd_bins"] <= 12
    assert r["scott_bins"] > 0


def test_youden_prevalence_free_cutoff(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import youden_j_threshold

    # imbalanced but separable: cutoff at 0.5, J = 1
    rows = ([(i / 100.0, 0) for i in range(50)] * 9
            + [(0.5 + i / 200.0, 1) for i in range(50)])
    df = spark.createDataFrame(rows, "s double, y int")
    r = youden_j_threshold(df, F.col("s"), F.col("y")).collect()[0]
    assert abs(r["best_threshold"] - 0.5) < 1e-9
    assert r["youden_j"] == 1.0
    assert r["sensitivity"] == 1.0 and r["specificity"] == 1.0


def test_surprisal_ranks_rare_cells(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import surprisal_outliers

    rows = [("common", 1)] * 1000 + [("rare", 23)] * 2
    df = spark.createDataFrame(rows, "t string, h int")
    out = surprisal_outliers(df, "t", F.col("h"), top_k=2).collect()
    assert out[0]["t"] == "rare" and out[0]["n_events"] == 2
    assert out[0]["surprisal"] > out[1]["surprisal"]
    import math
    assert abs(out[0]["surprisal"]
               - (-math.log2(2 / 1002))) < 1e-6


def test_cmh_immune_to_simpson_flip(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import cmh_test

    rows = []
    # two strata with the SAME within-stratum OR ~ 4, but wildly
    # different base rates (the Simpson setup)
    for s, scale in [(0, 1), (1, 10)]:
        a, b, c, d = 40, 10 * scale, 10, 10 * scale
        rows += [(s, 1, 1)] * a + [(s, 1, 0)] * b
        rows += [(s, 0, 1)] * c + [(s, 0, 0)] * d
    df = spark.createDataFrame(rows, "s int, e int, y int")
    r = cmh_test(
        df, F.col("s"), F.col("e"), F.col("y")
    ).collect()[0]
    assert r["n_strata"] == 2
    assert r["common_odds_ratio"] > 2.5
    assert r["associated_95"]


def test_markov_absorption_textbook_chain(spark):
    from sparkcollector.operators.analytics import markov_absorption

    # deterministic episodes: a -> b -> WIN, and c -> LOSE
    rows = []
    t = 0
    for u in range(20):
        for s in ["a", "b", "WIN"]:
            rows.append((u, s, t, t)); t += 1
    for u in range(100, 120):
        for s in ["c", "LOSE"]:
            rows.append((u, s, t, t)); t += 1
    df = spark.createDataFrame(rows, "u int, s string, ts int, o int")
    out = {r["state"]: r for r in markov_absorption(
        df, "u", "s", "ts", "o",
        transient=["a", "b", "c"], absorbing=["WIN", "LOSE"],
    ).collect()}
    assert out["a"]["p_absorb_WIN"] == 1.0
    assert out["a"]["p_absorb_LOSE"] == 0.0
    assert out["a"]["expected_steps"] == 2.0
    assert out["b"]["expected_steps"] == 1.0
    assert out["c"]["p_absorb_LOSE"] == 1.0
    assert out["c"]["expected_steps"] == 1.0


def test_hodges_lehmann_planted_shift(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import hodges_lehmann_shift

    # y = x + 7 with outliers in y: HL ignores them, mean would not
    rows = ([(0, float(i % 20)) for i in range(200)]
            + [(1, 7.0 + i % 20) for i in range(190)]
            + [(1, 10000.0)] * 10)
    df = spark.createDataFrame(rows, "g int, v double")
    r = hodges_lehmann_shift(df, F.col("g"), F.col("v")).collect()[0]
    assert abs(r["hl_shift"] - 7.0) < 1.0


def test_tukey_nonadditivity_multiplicative_grid(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import tukey_nonadditivity

    rows = []
    # multiplicative structure y = r*c: the textbook non-additive
    # case Tukey's 1-df test exists to catch
    for r in range(1, 6):
        for c in range(1, 6):
            for _ in range(3):
                rows.append((r, c, float(r * c)))
    df = spark.createDataFrame(rows, "r int, c int, y double")
    t = tukey_nonadditivity(
        df, F.col("r"), F.col("c"), F.col("y")).collect()[0]
    assert t["needs_interaction_95"]
    # exact multiplicative layout: the Tukey term absorbs ALL the
    # residual, so F is undefined (NULL) but the verdict holds
    assert t["f_stat"] is None or t["f_stat"] > 10
    # purely additive y = r + c: F ~ 0
    rows2 = [(r, c, float(r + c)) for r in range(1, 6)
             for c in range(1, 6)]
    df2 = spark.createDataFrame(rows2, "r int, c int, y double")
    t2 = tukey_nonadditivity(
        df2, F.col("r"), F.col("c"), F.col("y")).collect()[0]
    assert t2["ss_resid"] < 1e-9 or not t2["needs_interaction_95"]


def test_sbg_recovers_planted_beta_geometric(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import sbg_retention_forecast

    # plant alpha=1, beta=3: r(t) = (3+t-1)/(4+t-1) = (t+2)/(t+3)
    # survival S(t) = prod r(k) = 3/(t+3); cohort of 600
    rows = []
    uid = 0
    # S(0)=1, S(1)=3/4, S(2)=3/5, S(3)=1/2... choose counts to match
    # exactly: 600 at t0, 450 at t1, 360 at t2 (die-offs 150, 90)
    for n_t, tenure in [(150, 0), (90, 1), (360, 2)]:
        for _ in range(n_t):
            rows += [(uid, t) for t in range(tenure + 1)]
            uid += 1
    df = spark.createDataFrame(rows, "u int, t int")
    out = {r["t"]: r for r in sbg_retention_forecast(
        df, "u", F.col("t"), horizon=4).collect()}
    assert abs(out[1]["alpha"] - 1.0) < 1e-6
    assert abs(out[1]["beta"] - 3.0) < 1e-6
    # projected retention continues (t+2)/(t+3)
    assert abs(out[3]["retention_rate"] - 5 / 6) < 1e-6
    assert abs(out[3]["survival"] - 3 / 6) < 1e-6


def test_bland_altman_limits(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import bland_altman

    # method y reads 2 units higher with +-1 alternating noise
    rows = [(float(i % 50), float(i % 50) + 2.0
             + (1.0 if i % 2 else -1.0)) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = bland_altman(df, F.col("x"), F.col("y")).collect()[0]
    assert abs(r["mean_bias"] + 2.0) < 1e-6     # x - y = -2 +- 1
    assert abs(r["sd_diff"] - 1.0) < 0.01
    assert r["loa_lower"] < -3.9 and r["loa_upper"] > -0.1
    assert r["outside_loa_share"] == 0.0


def test_yuen_ignores_tail_contamination(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import yuen_trimmed_t

    # groups differ by 5 in the core; group 1 adds gross outliers
    # that would wreck Student's t but not the trimmed test
    rows = ([(0, float(10 + i % 5)) for i in range(200)]
            + [(1, float(15 + i % 5)) for i in range(190)]
            + [(1, 100000.0)] * 10)
    df = spark.createDataFrame(rows, "g int, v double")
    r = yuen_trimmed_t(df, F.col("g"), F.col("v")).collect()[0]
    assert abs(r["trimmed_diff"] - 5.0) < 0.5
    assert r["significant_95"] and r["t_stat"] > 10


def test_ruin_probability_monotone_in_reserve(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import ruin_probability

    # claims mean 10, one per 100s -> lam*mu = 0.1; premium 0.2
    # -> theta = 1: psi(0) = 1/2, decaying in u
    rows = [(10.0 + (1.0 if i % 2 else -1.0), 10000.0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "x double, span double")
    out = {r["reserve_u"]: r for r in ruin_probability(
        df, F.col("x"), F.col("span"), premium_rate=0.2,
        reserves=[0.0, 10.0, 50.0]).collect()}
    assert abs(out[0.0]["safety_loading"] - 1.0) < 1e-6
    assert abs(out[0.0]["ruin_probability"] - 0.5) < 1e-6
    assert (out[0.0]["ruin_probability"]
            > out[10.0]["ruin_probability"]
            > out[50.0]["ruin_probability"])


def test_topsis_dominant_alternative_wins(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import topsis_ranking

    # 'best' dominates on both benefit criteria and the cost one
    rows = [
        ("best", "a", 100.0), ("best", "b", 100.0), ("best", "c", 1.0),
        ("mid", "a", 50.0), ("mid", "b", 50.0), ("mid", "c", 5.0),
        ("worst", "a", 10.0), ("worst", "b", 10.0), ("worst", "c", 9.0),
    ]
    df = spark.createDataFrame(rows, "alt string, crit string, x double")
    out = topsis_ranking(
        df, "alt", "crit", F.col("x"),
        benefit_flags={"a": True, "b": True, "c": False},
    ).collect()
    assert out[0]["alt"] == "best" and out[0]["rank"] == 1
    assert abs(out[0]["closeness"] - 1.0) < 1e-9
    assert out[-1]["alt"] == "worst"
    assert abs(out[-1]["closeness"]) < 1e-9


def test_hawkes_ratio_poisson_vs_bursty(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import hawkes_branching_ratio

    rows = []
    # 'flat': one event per bucket (Fano ~ 0 -> clamped ratio 0)
    for b in range(100):
        rows.append(("flat", b))
    # 'bursty': alternating 5 and 15 per bucket -> mean 10,
    # var 25, Fano 2.5 (empty buckets are invisible to a groupBy,
    # so the test keeps every bucket occupied)
    for b in range(100):
        rows += [("bursty", b)] * (5 if b % 2 == 0 else 15)
    df = spark.createDataFrame(rows, "g string, b int")
    out = {r["g"]: r for r in hawkes_branching_ratio(
        df, "g", F.col("b")).collect()}
    assert out["flat"]["branching_ratio"] == 0.0
    assert out["flat"]["cascade_multiplier"] == 1.0
    assert abs(out["bursty"]["fano_factor"] - 2.5) < 1e-9
    import math
    assert abs(out["bursty"]["branching_ratio"]
               - (1 - 1 / math.sqrt(2.5))) < 1e-6


def test_taylor_slope_for_scaled_streams(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import (
        taylor_fluctuation_scaling,
    )

    rows = []
    # stream g alternates g and 3g events per bucket: mean 2g,
    # var g^2 -> var scales like mean^2 / 4 -> slope b = 2
    for g in range(2, 12):
        for b in range(100):
            rows += [(g, b)] * (g if b % 2 == 0 else 3 * g)
    df = spark.createDataFrame(rows, "g int, b int")
    r = taylor_fluctuation_scaling(df, "g", F.col("b")).collect()[0]
    assert abs(r["taylor_b"] - 2.0) < 0.05
    assert r["regime"] == "synchronized"


def test_jackknife_matches_closed_form(spark):
    from sparkcollector.operators.analytics import jackknife_richness

    # 3 species seen 1x, 2 seen 2x, 5 seen 10x: S=10, n=57, f1=3,
    # f2=2
    rows = []
    for i in range(3):
        rows.append(("g", f"s1_{i}"))
    for i in range(2):
        rows += [("g", f"s2_{i}")] * 2
    for i in range(5):
        rows += [("g", f"s10_{i}")] * 10
    df = spark.createDataFrame(rows, "g string, sp string")
    r = jackknife_richness(df, "g", "sp").collect()[0]
    n = 57.0
    assert r["s_observed"] == 10
    assert abs(r["jackknife1"] - (10 + 3 * (n - 1) / n)) < 1e-4
    assert abs(r["jackknife2"]
               - (10 + 3 * (2 * n - 3) / n
                  - 2 * (n - 2) ** 2 / (n * (n - 1)))) < 1e-4


def test_seasonal_sen_magnitude(spark):
    from sparkcollector.operators.analytics import seasonal_sen_slope

    # every season rises exactly 2 per period (plus a season offset
    # the within-season pairing removes): Sen slope = 2
    rows = [(g, d, float(100 * g + 2 * d))
            for g in range(4) for d in range(15)]
    df = spark.createDataFrame(rows, "g int, o int, x double")
    r = seasonal_sen_slope(df, "g", "o", "x").collect()[0]
    assert r["sen_slope_per_period"] == 2.0
    assert r["n_pairs"] == 4 * 15 * 14 // 2


def test_abc_classic_80_15_5(spark):
    from pyspark.sql import functions as F

    from sparkcollector.operators.analytics import abc_classification

    rows = [("big", 800.0), ("mid1", 100.0), ("mid2", 50.0),
            ("t1", 20.0), ("t2", 20.0), ("t3", 10.0)]
    df = spark.createDataFrame(rows, "item string, v double")
    out = {r["abc"]: r for r in abc_classification(
        df, "item", F.col("v")).collect()}
    assert out["A"]["n_items"] == 1 and out["A"]["value_share"] == 0.8
    assert out["B"]["n_items"] == 2
    assert abs(out["B"]["value_share"] - 0.15) < 1e-9
    assert out["C"]["n_items"] == 3


def test_impossible_travel_simultaneous_logins_flagged(spark):
    from datetime import datetime, timedelta

    from sparkcollector.operators.analytics import impossible_travel

    base = datetime(2024, 1, 1)
    lats = [40.7128, 51.5074]   # NYC, London
    lons = [-74.0060, -0.1278]
    rows = [
        # u1: two DIFFERENT sites in the same second — infinite speed,
        # the most extreme impossible-travel case; a strict t > pt +
        # dist/dt formulation silently drops exactly this row
        ("u1", 0, base),
        ("u1", 1, base),
        # u2: different sites 1s apart — finite but absurd speed
        ("u2", 0, base),
        ("u2", 1, base + timedelta(seconds=1)),
        # u3: same site in the same second — never flagged (dist 0)
        ("u3", 0, base),
        ("u3", 0, base),
    ]
    df = spark.createDataFrame(rows, "u string, loc int, ts timestamp")
    out = {r["user"]: r for r in
           impossible_travel(df, "u", "loc", "ts", lats, lons).collect()}
    assert set(out) == {"u1", "u2"}
    assert out["u1"]["elapsed_s"] == 0.0
    assert out["u1"]["speed_kmh"] is None      # infinite-speed branch
    assert out["u1"]["dist_km"] > 5000
    assert out["u2"]["speed_kmh"] is None or out["u2"]["elapsed_s"] == 1.0


def _count_distribution_diagnostics_dense(
    unit_counts: DataFrame,
    group_col: str,
    count_col: str,
) -> DataFrame:
    """Dense-grid reference for ``count_distribution_diagnostics``:
    power sums over EVERY unit cell, zero cells included."""
    c = F.col(count_col).cast("double")
    agg = unit_counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(c).alias("_s"),
        F.sum(c * c).alias("_q"),
        F.sum((c == 0).cast("int")).cast("double").alias("_z"),
    )
    n, s, q = F.col("_n"), F.col("_s"), F.col("_q")
    m = s / n
    v = (q - s * s / n) / (n - 1)
    return agg.select(
        group_col,
        n.cast("long").alias("n_units"),
        F.round(m, 6).alias("mean"),
        F.round(v, 6).alias("var"),
        F.round(v / m, 6).alias("dispersion_ratio"),
        F.round(F.when(v > m, m * m / (v - m)), 6).alias("nb_size_r"),
        F.round(F.col("_z") / n, 6).alias("zero_frac"),
        F.round(F.exp(-m), 6).alias("poisson_zero_frac"),
    )


def _croston_intermittent_dense(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    demand_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Dense reference for ``croston_intermittent``: the textbook fold
    over every period of the zero-filled series, updating only where
    ``d > 0``."""
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("_o"),
        F.col(demand_col).cast("double").alias("_d"),
    )
    ser = base.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_d"))),
            lambda e: e["_d"],
        ).alias("_ds"),
    )
    a_ = alpha
    fold = (
        "aggregate(_ds,"
        " named_struct('z', cast(0.0 as double), 'p',"
        " cast(0.0 as double), 'q', cast(1.0 as double),"
        " 'init', false, 'nd', cast(0 as bigint)),"
        " (acc, d) -> case"
        " when d > 0 and not acc.init then named_struct("
        " 'z', d, 'p', acc.q, 'q', cast(1.0 as double),"
        " 'init', true, 'nd', acc.nd + 1)"
        " when d > 0 then named_struct("
        f" 'z', acc.z + {a_} * (d - acc.z),"
        f" 'p', acc.p + {a_} * (acc.q - acc.p),"
        " 'q', cast(1.0 as double), 'init', true, 'nd', acc.nd + 1)"
        " else named_struct('z', acc.z, 'p', acc.p,"
        " 'q', acc.q + 1.0, 'init', acc.init, 'nd', acc.nd) end)"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    st = F.col("_st")
    rate = st.getField("z") / st.getField("p")
    return folded.select(
        *group_cols,
        F.size("_ds").cast("bigint").alias("n_periods"),
        st.getField("nd").alias("demand_periods"),
        F.when(st.getField("init"), F.round(st.getField("z"), 6))
        .alias("z_hat"),
        F.when(st.getField("init"), F.round(st.getField("p"), 6))
        .alias("p_hat"),
        F.when(st.getField("init"), F.round(rate, 6))
        .alias("croston_rate"),
        F.when(st.getField("init"), F.round((1 - a_ / 2) * rate, 6))
        .alias("sba_rate"),
    )


def _zip_mom_fit_dense(
    df: DataFrame,
    count_col: str,
) -> DataFrame:
    """Dense-grid reference for ``zip_mom_fit``: moments averaged
    over every unit cell, zero cells included."""
    a = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col(count_col).cast("double")).alias("m"),
        F.avg(
            F.col(count_col).cast("double")
            * F.col(count_col).cast("double")
        ).alias("m2"),
        F.avg(
            (F.col(count_col) == 0).cast("double")
        ).alias("p0_obs"),
    )
    var = F.col("m2") - F.col("m") * F.col("m")
    lam = (var + F.col("m") * F.col("m") - F.col("m")) / F.col("m")
    pi = 1 - F.col("m") / lam
    p0_model = pi + (1 - pi) * F.exp(-lam)
    return a.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("m", 6).alias("mean"),
        F.round(var, 6).alias("var"),
        F.round(lam, 6).alias("lambda_fit"),
        F.round(pi, 6).alias("pi_zero_inflation"),
        F.round("p0_obs", 6).alias("zero_share_observed"),
        F.round(p0_model, 6).alias("zero_share_model"),
    )


def test_sparse_twins_match_dense_grids(spark):
    """The round-5 grid-free rewrites must reproduce the dense-grid
    operators EXACTLY (same float ops, zero cells folded to
    arithmetic) — the property that let the crossJoin grids be
    deleted without touching the oracles."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from sparkcollector.operators.analytics import (
        count_distribution_diagnostics,
        croston_intermittent,
        zip_mom_fit,
    )

    rng = random.Random(7)
    units = [f"u{i}" for i in range(40)]
    buckets = list(range(25))
    # sparse nonzero counts: ~20% fill, Poisson-ish values
    nz_rows = [
        (u, b, rng.randint(1, 6))
        for u in units for b in buckets if rng.random() < 0.2
    ]
    nz = spark.createDataFrame(nz_rows, "u string, b int, c int")
    nz = nz.withColumn("g", F.substring("u", 2, 10).cast("int") % 3)

    # dense grid for the reference computation
    grid = (
        spark.createDataFrame([(u,) for u in units], "u string")
        .crossJoin(spark.createDataFrame([(b,) for b in buckets], "b int"))
        .join(nz.select("u", "b", "c"), ["u", "b"], "left")
        .select(
            (F.substring("u", 2, 10).cast("int") % 3).alias("g"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    dense = {
        r["g"]: r for r in
        _count_distribution_diagnostics_dense(grid, "g", "c").collect()
    }
    totals = spark.createDataFrame(
        [(g, len([u for u in units
                  if int(u[1:]) % 3 == g]) * len(buckets))
         for g in range(3)],
        "g int, n_cells long",
    )
    sparse = {
        r["g"]: r for r in
        count_distribution_diagnostics(nz, "g", "c", totals).collect()
    }
    assert set(dense) == set(sparse)
    for g in dense:
        assert dense[g].asDict() == sparse[g].asDict(), g

    # zip_mom_fit: global moments over the same grid
    d = _zip_mom_fit_dense(grid.select("c"), "c").collect()[0].asDict()
    tot1 = spark.createDataFrame(
        [(len(units) * len(buckets),)], "n_cells long"
    )
    s = zip_mom_fit(nz.select("c"), "c", tot1).collect()[0].asDict()
    assert d == s

    # croston: dense fold over the zero-filled series vs sparse fold
    # over demand points with rank positions
    periods = list(range(1, 61))
    dem_rows = []
    for g in ("a", "b"):
        for t in periods:
            v = float(rng.randint(2, 9)) if rng.random() < 0.15 else 0.0
            dem_rows.append((g, t, v))
    series = spark.createDataFrame(dem_rows, "g string, o long, d double")
    dense_c = {
        r["g"]: r.asDict() for r in
        _croston_intermittent_dense(
            series, ["g"], "o", "d", alpha=0.1).collect()
    }
    demands = series.filter(F.col("d") > 0).select(
        "g", F.col("o").alias("rn"), "d"
    )
    per = spark.createDataFrame(
        [("a", len(periods)), ("b", len(periods))], "g string, n_periods long"
    )
    sparse_c = {
        r["g"]: r.asDict() for r in croston_intermittent(
            demands, ["g"], "rn", "d", per, alpha=0.1
        ).collect()
    }
    assert dense_c == sparse_c


def test_croston_zero_demand_row_matches_dense(spark):
    """A zero-demand row handed to the grid-free fold is a zero
    period, not a demand point: the result equals the dense fold."""
    from sparkcollector.operators.analytics import croston_intermittent

    demand = {1: 4.0, 3: 0.0, 4: 6.0, 6: 2.0}  # period 3 demands nothing
    ddl = "g string, o long, d double"
    pts = spark.createDataFrame([("a", o, d) for o, d in demand.items()], ddl)
    series = spark.createDataFrame(
        [("a", t, demand.get(t, 0.0)) for t in range(1, 9)], ddl
    )
    per = spark.createDataFrame([("a", 8)], "g string, n_periods long")
    got = croston_intermittent(pts, ["g"], "o", "d", per, alpha=0.2)
    exp = _croston_intermittent_dense(series, ["g"], "o", "d", alpha=0.2)
    row = got.collect()[0].asDict()
    assert row == exp.collect()[0].asDict()
    assert row["demand_periods"] == 3
